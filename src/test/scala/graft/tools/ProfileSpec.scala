package graft.tools

import graft.SparkSpec

/** The run ledger reads Spark's own counters of a query's job group only
  * after draining the listener bus. t31_bm25 probes its vocabulary size
  * with a job while its DataFrame is built. */
class ProfileSpec extends SparkSpec {
  private val query = "t31_bm25"
  private lazy val first = Profile.record(spark, sf, query, "first", Set("ops"))
  private lazy val second = Profile.record(spark, sf, query, "second")

  private def count(r: Profile.Record, key: String): Long =
    r(key).asInstanceOf[Number].longValue

  test("record counts the jobs and tasks of the query's job group") {
    assert(count(first, "jobs") >= 1, first)
    assert(count(first, "tasks") >= 1, first)
    assert(Profile.toJson(first).startsWith(s"""{"query":"$query","rep":"first""""))
  }

  test("--ops lists operators with Spark's SQL metrics") {
    val ops = first("ops").asInstanceOf[Seq[Profile.Record]]
    assert(ops.exists(_("metrics").asInstanceOf[Map[String, String]].nonEmpty), ops)
  }

  test("back-to-back records report identical job, stage and task counts") {
    for (key <- Seq("jobs", "stages", "tasks"))
      assert(count(first, key) == count(second, key), s"$key: $first vs $second")
  }
}
