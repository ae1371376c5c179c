package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** The scalable ordinal primitives must be EXACTLY the window semantics
  * they replace — proven on random frames against driver-computed
  * rank/cumsum oracles (identical to the single-partition window forms
  * for a total order).
  */
class OrdinalsSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(11L + i)))

  private val frameGen = Gen.listOfN(80,
    Gen.zip(Gen.choose(0L, 10000L), Gen.oneOf("a", "b", "c", "d"), Gen.choose(0, 50)))

  // oracles are computed DRIVER-SIDE in plain Scala (sort the collected
  // rows, rank/accumulate in order) — for a total order over distinct
  // ids that is exactly row_number/cumulative-sum semantics, and unlike
  // the keyless-window reference forms it keeps the test log free of
  // WindowExec warnings (the log is the regression signal for REAL
  // single-partition windows — see PlanLintSpec)

  test("withGlobalRank equals row_number over the global window") {
    import spark.implicits._
    for (rows <- samples(frameGen, 3)) {
      val df = rows.toDF("id", "k", "v").dropDuplicates("id")
      val expected = df.select("id").collect().map(_.getLong(0)).sorted
        .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
      val got = Ordinals.withGlobalRank(df, Seq(col("id")), "r")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got == expected)
    }
  }

  test("withPerKeyRank equals row_number over the per-key window") {
    import spark.implicits._
    for (rows <- samples(frameGen, 3)) {
      val df = rows.toDF("id", "k", "v").dropDuplicates("id")
      val expected = df.select("id", "k").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1))).groupBy(_._2).flatMap {
          case (_, grp) => grp.map(_._1).sorted.zipWithIndex
            .map { case (id, i) => id -> (i + 1L) }
        }.toMap
      val got = Ordinals.withPerKeyRank(df, "k", Seq(col("id").asc), "r")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(got == expected)
    }
  }

  test("withRunningTotal equals the cumulative-sum window") {
    import spark.implicits._
    for (rows <- samples(frameGen, 3)) {
      val df = rows.toDF("id", "k", "v").dropDuplicates("id")
        .withColumn("v", col("v").cast("double"))
      val expected = scala.collection.mutable.Map.empty[Long, Double]
      var acc = 0.0
      df.select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1).foreach { case (id, v) => acc += v; expected(id) = acc }
      val got = Ordinals.withRunningTotal(df, Seq(col("id")), "v", "ct")
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (id, v) =>
        assert(math.abs(v - expected(id)) < 1e-9, s"id $id: $v vs ${expected(id)}")
      }
    }
  }

  test("withRunningTotal plans as RunningTotalExec: one range exchange, no hash shuffle") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "v")
    val out = Ordinals.withRunningTotal(df, Seq(col("id").asc), "v", "run")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("RunningTotal ["), plan) // exec nodeName strips the Exec suffix
    assert("Exchange rangepartitioning".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // null values contribute 0 (SQL SUM semantics), non-nulls accumulate
    val withNull = Seq((1L, Some(2.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "v")
    val got = Ordinals.withRunningTotal(withNull, Seq(col("id").asc), "v", "run")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(1L -> 2.0, 2L -> 2.0, 3L -> 5.0))
  }

  test("withRunningTotals: k totals, bit-identical to the stack, ONE node") {
    import spark.implicits._
    for (rows <- samples(frameGen, 3)) {
      val df = rows.toDF("id", "k", "v").dropDuplicates("id")
        .withColumn("v", col("v").cast("double"))
        .withColumn("w", (col("v") * 3 + 1).cast("double"))
      val stacked = Ordinals.withRunningTotal(
        Ordinals.withRunningTotal(df, Seq(col("id").asc), "v", "cv"),
        Seq(col("id").asc), "w", "cw")
        .collect().map(r => (r.getLong(0), r.getDouble(4), r.getDouble(5)))
      val fused = Ordinals.withRunningTotals(df, Seq(col("id").asc),
          Seq("v" -> "cv", "w" -> "cw"))
        .collect().map(r => (r.getLong(0), r.getDouble(4), r.getDouble(5)))
      // bit-identical: same per-partition accumulation order
      assert(fused.sortBy(_._1).toSeq == stacked.sortBy(_._1).toSeq)
    }
    // plan shape: ONE RunningTotal node, one range exchange
    val df = (1L to 100L).map(i => (i, i.toDouble, 2.0 * i)).toDF("id", "v", "w")
    val plan = Ordinals.withRunningTotals(df, Seq(col("id").asc),
      Seq("v" -> "cv", "w" -> "cw")).queryExecution.executedPlan.toString
    assert("RunningTotal \\[".r.findAllIn(plan).length == 1, plan)
    assert("Exchange rangepartitioning".r.findAllIn(plan).length == 1, plan)
    // null cells contribute 0 per column independently
    val withNull = Seq((1L, Some(2.0), None: Option[Double]),
      (2L, None: Option[Double], Some(4.0)), (3L, Some(3.0), Some(1.0)))
      .toDF("id", "v", "w")
    val got = Ordinals.withRunningTotals(withNull, Seq(col("id").asc),
        Seq("v" -> "cv", "w" -> "cw"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(got == Map(1L -> (2.0, 0.0), 2L -> (2.0, 4.0), 3L -> (5.0, 5.0)))
  }

  test("withPerKeyRank handles null keys (null-safe class dictionary)") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a")), (4L, None))
      .toDF("id", "k")
    val got = Ordinals.withPerKeyRank(df, "k", Seq(col("id").asc), "r")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 3L -> 2L, 2L -> 1L, 4L -> 2L))
  }

  /** Run `body` under the given shuffle partitions and AQE setting,
    * restoring the shared session's values afterwards. */
  private def withConf[A](parts: Int, aqe: Boolean)(body: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), parts.toString)
    spark.conf.set(keys(1), aqe.toString)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("withPerKeyRank equals the row_number window at any partitioning, " +
    "hot/null/float keys, ONE sorted pass") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(5)
    // 70% hot key "h" (spans many range partitions), nulls, a few rare
    // keys; the double key holds -0.0, 0.0 and NaN, which the sort and
    // groupBy each treat as one key
    val doubles = Seq(-0.0, 0.0, Double.NaN, 1.5, -2.0)
    val rows = (0 until 400).map { i =>
      val s = rnd.nextInt(10) match {
        case n if n < 7 => Some("h")
        case 7 => None
        case n => Some(s"r$n")
      }
      val d = if (rnd.nextInt(8) == 0) None else Some(doubles(rnd.nextInt(doubles.size)))
      (rnd.nextInt(1000000).toLong * 1000 + i, s, d)
    }
    val df = rnd.shuffle(rows).toDF("id", "s", "d")
    for (parts <- Seq(1, 3, 13, 40); aqe <- Seq(false, true); key <- Seq("s", "d")) {
      withConf(parts, aqe) {
        val expected = df.withColumn("r",
            row_number().over(Window.partitionBy(col(key)).orderBy(col("id"))))
          .select("id", "r").collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
        val ranked = Ordinals.withPerKeyRank(df, key, Seq(col("id").asc), "r")
        val got = ranked.select("id", "r").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected, s"parts=$parts aqe=$aqe key=$key")
        val plan = ranked.queryExecution.executedPlan.toString
        assert("RunningTotal \\[".r.findAllIn(plan).length == 1, plan)
        assert("Exchange rangepartitioning".r.findAllIn(plan).length == 1, plan)
        assert(!plan.contains("BroadcastExchange"), plan)
        assert(!plan.contains("hashpartitioning"), plan)
      }
    }
  }

  test("RunningTotal reset: k = 2 totals restart per key; reset 0 is the global path") {
    import spark.implicits._
    for (rows <- samples(frameGen, 2); parts <- Seq(1, 3, 13)) withConf(parts, aqe = false) {
      val df = rows.toDF("id", "k", "v").dropDuplicates("id")
        .withColumn("g", (col("v") % 3).cast("int"))
        .withColumn("v", col("v").cast("double"))
        .withColumn("w", (col("v") * 3 + 1).cast("double"))
      val local = df.select("id", "k", "g", "v", "w").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getDouble(4)))
      // driver-side per-key cumulative sums; integer-valued doubles, so exact
      def cumsums(keyOf: ((Long, String, Int, Double, Double)) => Any) =
        local.groupBy(keyOf).values.flatMap { grp =>
          grp.sortBy(_._1).scanLeft((0L, 0.0, 0.0)) { case ((_, cv, cw), t) =>
            (t._1, cv + t._4, cw + t._5)
          }.tail.map { case (id, cv, cw) => id -> (cv, cw) }
        }.toMap
      def run(sortCols: Seq[org.apache.spark.sql.Column], reset: Int) =
        graft.plans.RunningTotal.multi(df, sortCols, Seq("v" -> "cv", "w" -> "cw"), reset)
          .select("id", "cv", "cw").collect()
          .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(run(Seq(col("k").asc, col("id").asc), 1) == cumsums(_._2))
      assert(run(Seq(col("k").asc, col("g").asc, col("id").asc), 2) ==
        cumsums(t => (t._2, t._3)))
      // reset 0: bit-identical to the stacked single-value nodes
      val stacked = Ordinals.withRunningTotal(
        Ordinals.withRunningTotal(df, Seq(col("id").asc), "v", "cv"),
        Seq(col("id").asc), "w", "cw")
        .select("id", "cv", "cw").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(run(Seq(col("id").asc), 0) == stacked)
    }
  }
}
