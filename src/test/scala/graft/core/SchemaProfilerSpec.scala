package graft.core

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, count_distinct}

import graft.SparkSpec

/** `SchemaProfiler.profile` counts exactly in one scan, and plans the same
  * code on every call, so a second call on a re-read frame compiles nothing. */
class SchemaProfilerSpec extends SparkSpec {
  private def compiled[T](f: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = f
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("profile: exact counts; a second call compiles no class and returns the same rows") {
    import spark.implicits._
    val dir = tempDir("graft_profile") + "/t"
    Seq[(Option[String], Option[Double], Option[String], Option[Long],
         Option[Boolean], Option[Int], Option[String], Option[Float])](
      (Some("1.5"), Some(0.0), Some("2024-01-02"), Some(1L), Some(true), Some(1), Some("a"), Some(0.0f)),
      (Some("x"), Some(-0.0), Some("1/2/2024"), None, Some(false), Some(1), None, Some(-0.0f)),
      (None, Some(Double.NaN), Some("nope"), Some(1L), None, Some(2), Some("b"), Some(Float.NaN)),
      (Some("1.5"), Some(Double.NaN), None, Some(2L), Some(true), None, Some("a"), Some(1.0f)),
      (Some("NA"), None, Some("2024-01-02"), Some(2L), Some(true), Some(3), Some(""), None))
      .toDF("s", "d", "dt", "l", "b", "i", "s2", "f").write.parquet(dir)
    // a fresh read per call, as a caller profiling a re-read file does
    def df = spark.read.parquet(dir)
    val (first, _) = compiled(SchemaProfiler.profile(df).collect())
    val (second, compiles) = compiled(SchemaProfiler.profile(df).collect())
    assert(compiles == 0, second.mkString("\n"))
    assert(second.toSeq == first.toSeq)
    // (column, n_rows, null_count, numeric_count, date_count, distinct_count):
    // -0.0 and 0.0 are one value, so are the two NaNs; nulls are no value
    val got = first.map(r => (r.getString(0), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got.take(4) == Seq(("s", 5L, 1L, 2L, 0L, 3L), ("d", 5L, 1L, 4L, 0L, 2L),
      ("dt", 5L, 1L, 0L, 3L, 3L), ("l", 5L, 1L, 4L, 0L, 2L)), got)
    // every column's distinct count is count_distinct's, one column at a time
    val oracle = df.columns.toSeq.map(c => df.agg(count_distinct(col(c))).head.getLong(0))
    assert(got.map(_._6) == oracle, got)
    val empty = SchemaProfiler.profile(df.limit(0)).collect()
      .map(r => (r.getLong(2), r.getLong(6))).toSeq
    assert(empty == Seq.fill(8)((0L, 0L)), empty)
  }
}
