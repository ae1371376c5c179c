package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Bench's stdout line keeps its frozen shape while every rep runs
  * through the run ledger: each value is the median of the query's timed
  * ledger `wall_s`, the ledger never carries the `"metric"` string that
  * tools pick the stdout line by, and a failing scale dir reads -1. */
class BenchSpec extends SparkSpec {
  private val names = Seq("q1_pricing_summary", "a1_value_counts")
  private val json = new ObjectMapper()

  private def run(sfDir: String, repeat: Int): (JsonNode, Seq[String]) = {
    val ledger = mutable.ArrayBuffer[String]()
    val line = Bench.run(spark, sfDir, names, repeat, ledger += _)
    (json.readTree(line), ledger.toSeq)
  }

  test("the stdout line holds the median of each query's timed ledger wall_s") {
    val (line, ledger) = run(sf, 3)
    assert(line.fieldNames.asScala.toSeq ==
      Seq("metric", "value", "unit", "failed", "queries", "sf", "repeat"), line)
    assert(line.get("metric").asText == "total" && line.get("unit").asText == "sec")
    assert(line.get("failed").asInt == 0 && line.get("repeat").asInt == 3, line)
    assert(line.get("sf").asText == sf)
    val queries = line.get("queries")
    assert(queries.fieldNames.asScala.toSeq == names, line)
    assert(!ledger.exists(_.contains("\"metric\"")), ledger)
    val records = ledger.map(json.readTree)
    for (name <- names) {
      val walls = records.filter(r => r.get("query").asText == name &&
        r.get("rep").asText == "timed").map(_.get("wall_s").asDouble).sorted
      assert(walls.size == 3, ledger)
      assert(queries.get(name).asDouble == walls(1), s"$name: $walls vs $line")
    }
    assert(line.get("value").asDouble == names.map(queries.get(_).asDouble).sum)
  }

  test("a missing scale dir fails every entry to -1 and totals 0") {
    val (line, ledger) = run(tempDir("bench") + "/missing", 1)
    val queries = line.get("queries")
    assert(names.forall(queries.get(_).asDouble == -1.0), line)
    assert(line.get("failed").asInt == names.size, line)
    assert(line.get("value").asDouble == 0.0, line)
    assert(ledger.map(json.readTree).count(_.has("error")) == 1 + names.size, ledger)
  }
}
