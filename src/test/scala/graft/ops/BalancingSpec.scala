package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Tables
import graft.ops.Balancing._

class BalancingSpec extends SparkSpec {

  private def orders = Tables.orders(spark, sf)

  test("B1 randomSplit partitions rows exactly") {
    val df = orders
    val (train, test) = randomSplit(df, 0.2, seed = 7L)
    assert(train.count() + test.count() == df.count())
    // same seed reproduces
    val (train2, _) = randomSplit(df, 0.2, seed = 7L)
    assert(train.count() == train2.count())
  }

  test("B1 stratifiedSplit is an exact partition with ~20% test") {
    val df = orders
    val (train, test) = stratifiedSplit(df, "o_orderpriority", 0.2, seed = 7L)
    val n = df.count()
    assert(train.count() + test.count() == n)
    val frac = test.count().toDouble / n
    assert(frac > 0.15 && frac < 0.25, s"test fraction $frac")
  }

  test("B1 stratifiedSplit over an Undersample output is an exact partition, " +
    "ranked once") {
    // the benchmark's prep chain: a lazy undersample feeds the split
    val bal = Undersample("o_orderpriority", seed = 7L)(orders)
    val (train, test) = stratifiedSplit(bal, "o_orderpriority", 0.2, seed = 7L)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey").collect().map(_.getLong(0))
    val (tr, te, in) = (keys(train), keys(test), keys(bal))
    assert(tr.length == tr.distinct.length && te.length == te.distinct.length)
    assert(tr.toSet.intersect(te.toSet).isEmpty, "a row landed on both sides")
    assert((tr ++ te).sorted.sameElements(in.sorted), "train + test != input")
    val nc = bal.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val testN = test.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    nc.foreach { case (c, n) =>
      assert(testN.getOrElse(c, 0L) == math.floor(n * 0.2).toLong, s"class $c")
    }
    // both sides read the one materialized ranking, not a fresh rank each
    Seq(train, test).foreach { side =>
      val rt = side.queryExecution.analyzed.collect {
        case p: graft.plans.RunningTotalPlan => p
      }
      assert(rt.isEmpty, side.queryExecution.analyzed.toString)
    }
  }

  test("B3 undersample: every class exactly at minority size") {
    val out = Undersample("o_orderstatus")(orders)
    val counts = out.groupBy("o_orderstatus").count().collect().map(_.getLong(1))
    assert(counts.distinct.length == 1)
  }

  test("B3/B12 literal caps: no class-count aggregate or join, class sizes kept") {
    // Undersample and TrimEqual cap every class at a literal, so their
    // plans need neither the class-count aggregate nor its join
    val target = "o_orderpriority"
    val before = orders.groupBy(target).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = before.values.min
    val cases = Seq(
      Undersample(target, seed = 7L)(orders) -> before.map { case (k, _) => k -> minN },
      TrimEqual(target, 40, orderCols = Seq("o_orderkey"))(orders) ->
        before.map { case (k, n) => k -> math.min(n, 40L) })
    cases.foreach { case (out, expected) =>
      val plan = out.queryExecution.analyzed
      val extra = plan.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Join => p
        case p: org.apache.spark.sql.catalyst.plans.logical.Aggregate => p
      }
      assert(extra.isEmpty, plan.toString)
      val got = out.groupBy(target).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    }
  }

  test("B6 oversample: every class exactly at majority size") {
    val byClass = orders.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxN = byClass.values.max
    val out = Oversample("o_orderstatus", seed = 11L)(orders)
    out.groupBy("o_orderstatus").count().collect().foreach { r =>
      assert(r.getLong(1) == maxN,
        s"class ${r.getString(0)} count ${r.getLong(1)} vs majority $maxN")
    }
  }

  test("B12 trim equal caps every class at N and is deterministic with orderCols") {
    val out = TrimEqual("o_orderpriority", 10, orderCols = Seq("o_orderkey"))(orders)
    val counts = out.groupBy("o_orderpriority").count().collect()
    counts.foreach(r => assert(r.getLong(1) <= 10))
    // kept rows are the lowest orderkeys per class
    val minKeys = orders.groupBy("o_orderpriority").agg(min("o_orderkey").as("mn"))
    val joined = out.join(minKeys, "o_orderpriority")
      .filter(col("o_orderkey") === col("mn"))
    assert(joined.count() == counts.length)
  }

  test("B13 proportional trim keeps >=1 per class and <=maxTotal-ish") {
    val out = TrimProportional("o_orderpriority", 100, orderCols = Seq("o_orderkey"))(orders)
    val counts = out.groupBy("o_orderpriority").count().collect()
    assert(counts.forall(_.getLong(1) >= 1))
    assert(counts.map(_.getLong(1)).sum <= 105) // floor slack
  }

  test("B14 majority trim caps only the largest class") {
    val before = orders.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val majority = before.toSeq.sortBy { case (v, n) => (-n, v) }.head._1
    val out = TrimMajority("o_orderpriority", 50, orderCols = Seq("o_orderkey"))(orders)
    val after = out.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after(majority) == 50L)
    (before.keySet - majority).foreach(k => assert(after(k) == before(k)))
  }

  test("groupFolds: cluster-pure fold assignment, all folds in range, deterministic") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L, 31L, 32L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val out = groupFolds(docs, "doc_id", pairs, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 10 && out.values.forall(f => f >= 0 && f < 3))
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "chain cluster split across folds")
    assert(Set(out(10L), out(11L)).size == 1)
    assert(Set(out(20L), out(21L)).size == 1)
    val again = groupFolds(docs, "doc_id", pairs, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == out)
    // every fold is non-empty over many singleton groups
    val many = groupFolds((0L until 2000L).toDF("doc_id"), "doc_id",
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), k = 5)
      .groupBy("fold").count().collect()
    assert(many.length == 5)
  }

  test("groupSplit: near-dup clusters never straddle the boundary; deterministic") {
    import spark.implicits._
    // three clusters (chain 1-2-3, pair 10-11, pair 20-21) + loose docs
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L, 31L, 32L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    val out = groupSplit(docs, "doc_id", pairs, testFraction = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 10, "every doc gets a split")
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "chain cluster split apart")
    assert(Set(out(10L), out(11L)).size == 1)
    assert(Set(out(20L), out(21L)).size == 1)
    // deterministic across invocations
    val again = groupSplit(docs, "doc_id", pairs, testFraction = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
    // a different seed can route groups differently, but purity holds
    val other = groupSplit(docs, "doc_id", pairs, testFraction = 0.5, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Set(other(1L), other(2L), other(3L)).size == 1)
    // fraction is approximately honored over many singleton groups
    val many = (0L until 2000L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val frac = groupSplit(many, "doc_id", noPairs, testFraction = 0.3)
      .filter(col("split") === "test").count() / 2000.0
    assert(math.abs(frac - 0.3) < 0.05, s"test fraction $frac far from 0.3")
  }
  test("ClusterCentroids: count contract, class purity, range containment, " +
    "determinism under random init") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    // 40 minority rows, 400 majority rows in a disjoint value range
    val rows = (0 until 40).map(i => (rnd.nextDouble() * 10, rnd.nextDouble() * 10, "min")) ++
      (0 until 400).map(i => (100 + rnd.nextDouble() * 10, 100 + rnd.nextDouble() * 10, "maj"))
    val df = rows.toDF("f1", "f2", "cls").repartition(7)
    val out = ClusterCentroids("cls", Seq("f1", "f2"))(df)
    val counts = out.groupBy("cls").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("min" -> 40L, "maj" -> 40L), s"got $counts")
    // minority rows pass through untouched; majority rows are CENTROIDS
    // of majority data only: every feature stays inside that class's
    // value range (a mean of in-range points is in range)
    val maj = out.filter(col("cls") === "maj")
      .select("f1", "f2").collect()
    assert(maj.forall(r => r.getDouble(0) >= 100 && r.getDouble(0) <= 110 &&
      r.getDouble(1) >= 100 && r.getDouble(1) <= 110),
      "majority centroids leaked outside the class value range")
    // same seed, same frame -> identical centroids
    val again = ClusterCentroids("cls", Seq("f1", "f2"))(df)
      .collect().map(_.toString).sorted
    assert(again.sameElements(out.collect().map(_.toString).sorted))
  }
  test("hashSample: exact-k deterministic sample, partitioning-proof, seeded") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, if (i % 5 == 0) "s0" else "s1"))
      .toDF("id", "src")
    def run(parts: Int, seed: Long) =
      hashSample(df.repartition(parts), "src", "id", k = 20, seed = seed)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val a = run(1, 42L).sortBy(t => (t._1, t._2))
    assert(a.count(_._1 == "s0") == 20 && a.count(_._1 == "s1") == 20)
    assert(a.filter(_._1 == "s0").map(_._2).toSeq == (1L to 20L))
    // identical under any partitioning (weights hash the row, not order)
    assert(run(13, 42L).sortBy(t => (t._1, t._2)).sameElements(a))
    // a different seed draws a different sample
    assert(run(13, 7L).map(_._3).toSet != a.map(_._3).toSet)
    // k larger than the group: the whole group comes back, ranked
    val tiny = (0L until 8L).map(i => (i, "t")).toDF("id", "src")
    val all = hashSample(tiny, "src", "id", k = 100).collect()
    assert(all.length == 8)
    assert(all.map(_.getLong(1)).sorted.sameElements(1L to 8L))
  }
  test("weightedSystematicSample: exactly k picks, heavy rows picked " +
    "multiple times, partitioning-proof") {
    import spark.implicits._
    // one dominant row (weight 60 of 159 total) among 100 light rows
    val rows = (0L until 100L).map(i => (i, 1.0)) :+ (999L, 60.0)
    val df = rows.toDF("id", "wt")
    def run(parts: Int) = weightedSystematicSample(
      df.repartition(parts), "id", "wt", k = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val out = run(3)
    assert(out.values.sum == 16L, s"systematic PPS must emit exactly k picks: $out")
    // the dominant row holds ~6/16 of the mass: picked >= its floor share
    assert(out(999L) >= 5L, s"heavy row under-picked: ${out.get(999L)}")
    // a zero/negative weight row never appears
    val withZero = (rows :+ (555L, 0.0)).toDF("id", "wt")
    assert(!weightedSystematicSample(withZero, "id", "wt", k = 16)
      .collect().map(_.getLong(0)).contains(555L))
    assert(run(13) == out, "PPS sample must not depend on partitioning")
  }
  test("sampling guards fail loudly (r11 ADVICE): non-integral ids, " +
    "integer-headroom overflow") {
    import spark.implicits._
    // hashSample: a string id used to cast to null and silently shrink
    // the sample inside topk_pairs — now rejected at plan time
    val strIds = Seq(("a", "g"), ("b", "g")).toDF("id", "src")
    val e = intercept[IllegalArgumentException] {
      hashSample(strIds, "src", "id", k = 2)
    }
    assert(e.getMessage.contains("integral"))
    // weightedSystematicSample: total milli-weight past 2^53 used to
    // silently drift picks via inexact DOUBLE products — now raises
    val huge = Seq((1L, 5.0e12), (2L, 5.0e12)).toDF("id", "wt")
    val ex = intercept[Exception] {
      weightedSystematicSample(huge, "id", "wt", k = 50).collect()
    }
    assert(ex.getMessage.contains("integer headroom") ||
      Option(ex.getCause).exists(_.getMessage.contains("integer headroom")),
      s"expected loud headroom failure, got: ${ex.getMessage}")
  }
}
