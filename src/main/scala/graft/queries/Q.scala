package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared plumbing for the driver-checked query packs. Every pack exposes
  * `queries` (name -> (spark, sfDir) => DataFrame) and `oracles`
  * (name -> equivalent DuckDB SQL over the same parquet tables). Column
  * names are aliased identically on both sides — the driver sorts columns
  * by name before hashing. Floating aggregates are rounded on BOTH sides
  * so double summation order can't flip the hash.
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** lineitem with deterministic synthetic nulls: l_quantity nulled where
    * l_linenumber = 3 (the testdata has no nulls; imputation/missing-
    * profile operators need some). Mirrored in oracle SQL as
    * CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END.
    */
  def lineitemWithNulls(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables.lineitem(s, dir)
      .withColumn("l_quantity",
        when(col("l_linenumber") === 3, lit(null)).otherwise(col("l_quantity")))

  val NullifiedQtySql: String =
    "CASE WHEN l_linenumber = 3 THEN NULL ELSE l_quantity END"

  /** A money column as exact decimal cents. A double sum rounded to
    * cents lets the row order decide an exact half cent (q5 read
    * 8183223.96 or .97 on one seed), so money sums and averages run in
    * decimal and cast to double only after the round, which keeps the
    * output schema. [[moneySql]] is the oracle's form. */
  def money(c: String): Column = col(c).cast(DecimalType(15, 2))

  def moneySql(c: String): String = s"CAST($c AS DECIMAL(15,2))"

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
