package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract consistency: every oracle names an existing query,
  * pack names never collide, the flagship entry is registered, and no
  * oracle carries a helper reference its string failed to interpolate. */
class EntrySpec extends AnyFunSuite {

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query packs do not shadow each other's names") {
    val all = Seq(
      queries.SourceQueries.queries, queries.RelationalQueries.queries,
      queries.EncodingQueries.queries, queries.ImputationQueries.queries,
      queries.BalancingQueries.queries, queries.TextQueries.queries,
      queries.DedupQueries.queries, queries.MlQueries.queries,
      queries.StreamingQueries.queries, queries.MultimodalQueries.queries,
      queries.SmoteQueries.queries, queries.MiscQueries.queries,
      queries.JoinQueries.queries)
    val names = all.flatMap(_.keys)
    val dupes = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names across packs: $dupes")
    assert(names.toSet == SparkEntry.queries.keySet)
  }

  test("no oracle holds an uninterpolated helper reference") {
    // a helper call left in a string without the s interpolator reaches
    // DuckDB as `${...}` or `$name`, which no oracle means to send
    val leaks = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.contains("${") || "\\$[A-Za-z_]".r.findFirstIn(sql).isDefined
    }.keys
    assert(leaks.isEmpty, s"oracles with an uninterpolated reference: $leaks")
  }

  test("bench headline names all resolve") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names without queries: $missing")
  }
}
