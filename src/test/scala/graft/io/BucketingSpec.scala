package graft.io

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Tables

class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    // co-locate orders and lineitem on the order key
    Bucketing.writeBucketed(Tables.orders(spark, sf), "orders_b", "o_orderkey", 8)
    Bucketing.writeBucketed(Tables.lineitem(spark, sf), "lineitem_b", "l_orderkey", 8)
    // the tables live in the JVM's own temporary warehouse, which is
    // deleted at exit — never under the working directory
    val warehouse = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    val loc = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("orders_b"))
      .location).toPath
    assert(loc.startsWith(warehouse), s"$loc outside $warehouse")
    assert(!loc.startsWith(java.nio.file.Paths.get("").toAbsolutePath), loc)
    val joined = Bucketing.table(spark, "lineitem_b")
      .join(Bucketing.table(spark, "orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
    // disable auto-broadcast so the join genuinely exercises bucketing
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
      assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)
      // and the result is still right
      val total = joined.agg(sum("q")).first().getDouble(0)
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .agg(sum("l_quantity")).first().getDouble(0)
      assert(total == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
