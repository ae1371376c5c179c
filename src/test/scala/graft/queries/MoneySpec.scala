package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Money sums are exact: a revenue that lands on a half cent rounds the
  * same under any row order. As doubles, these three lineitems sum to
  * 16425.575 in file order but 16425.574999999997 in reverse order, so
  * a double sum rounded to cents read .58 or .57. */
class MoneySpec extends SparkSpec {
  private val items = Seq((9532.13, 0.04), (2996.94, 0.07), (4877.8, 0.08))

  /** q5's four tables in a fresh dir, lineitem rows in the given order. */
  private def tables(rows: Seq[(Double, Double)]): String = {
    import spark.implicits._
    val dir = tempDir("money")
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    save(rows.map { case (p, d) => (1L, 1L, p, d) }
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"), "lineitem")
    save(Seq(1L).toDF("o_orderkey")
      .withColumn("o_orderdate", lit("1995-03-01").cast("timestamp")), "orders")
    save(Seq((1L, 8L)).toDF("s_suppkey", "s_nationkey"), "supplier")
    save(Seq((8L, "NATION_8")).toDF("n_nationkey", "n_name"), "nation")
    dir
  }

  test("q5 revenue on a half cent is the same under two row orders") {
    val q5 = JoinQueries.queries("q5_local_supplier_volume")
    val revenues = Seq(items, items.reverse).map(rows =>
      q5(spark, tables(rows)).select("revenue").collect().toSeq)
    assert(revenues.forall(_ == Seq(Row(16425.58))), revenues)
  }
}
