package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: the co-located-join story for repeated big
  * joins (SURVEY §4 / 100 TB design). Writing both sides of a frequent
  * join bucketed by the join key lets every subsequent join run with NO
  * shuffle exchange on either side — at 100 TB that is the difference
  * between an hours-long shuffle and a map-side merge.
  *
  * Uses the session catalog's managed tables (spark-warehouse), which is
  * exactly how it works on a cluster with a real metastore.
  */
object Bucketing {

  /** Write df as a managed bucketed table (overwrite). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").bucketBy(buckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Z-ORDER layout (the lakehouse OPTIMIZE ZORDER BY recipe): cluster
    * rows by the Morton key of two integer cell coordinates, so a
    * 2-D box predicate touches FEW partitions/files instead of all of
    * them — a single-column sort can only prune one dimension (a
    * full-width, narrow-height box hits every x-sorted file; under z it
    * hits the ~1/4 of the key space its y bits allow). One range
    * exchange + in-partition sort; write the result with any sink and
    * parquet min/max row-group stats do the pruning. Callers quantize
    * continuous columns to cells first (percentile or fixed-width). */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
                   partitions: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    df.withColumn("__z", call_function("z_order",
        col(xCol).cast("long"), col(yCol).cast("long")))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
