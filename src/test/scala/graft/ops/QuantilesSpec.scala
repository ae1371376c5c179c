package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The r11 sketch-backed quantile consumers: equi-depth binning
  * ([[Quantiles.sketchBin]]/[[Quantiles.sketchBinAudit]]), winsorize
  * ([[Quantiles.sketchWinsorize]]/[[Quantiles.sketchWinsorizeAudit]]),
  * and the Poisson-bootstrap quantile CI
  * ([[Audit.bootstrapQuantileCi]]). The value-level invariants here are
  * the ones the exact-vs-bound oracles can't see: assignment
  * monotonicity, exact-regime equivalence, and CI degeneracy. */
class QuantilesSpec extends SparkSpec {

  test("sketchBin: bins in [1,k], monotone in x, nulls pass through null") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val df = (1 to 5000).map(_ => Option(rng.nextGaussian() * 100))
      .patch(17, Seq(None, None), 0).toDF("x")
    val out = Quantiles.sketchBin(df, "x", k = 8, sketchK = 32)
    val rows = out.select("x", "x_bin").collect()
    assert(rows.count(_.isNullAt(0)) == 2)
    rows.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getInt(1) >= 1 && r.getInt(1) <= 8)
    }
    val sorted = rows.filterNot(_.isNullAt(0))
      .map(r => (r.getDouble(0), r.getInt(1))).sortBy(_._1)
    sorted.sliding(2).foreach { case Array((_, b1), (_, b2)) =>
      assert(b1 <= b2, "bin must be monotone in x")
    }
  }

  test("sketchBin exact regime (n < sketchK): bins equal the rank formula") {
    import spark.implicits._
    // with no compactions err = 0 and edges are exact rank values, so
    // the sketch bins must match ceil-rank equi-depth buckets exactly
    val vals = (1 to 40).map(_.toDouble * 3)
    val df = new scala.util.Random(3).shuffle(vals).toDF("x")
    val out = Quantiles.sketchBin(df, "x", k = 4, sketchK = 256)
      .collect().map(r => (r.getDouble(0), r.getInt(1))).toMap
    // edge_j = value at rank ceil(j/4 * 40) = ranks 10, 20, 30; ties-down
    vals.foreach { v =>
      val rank = vals.count(_ <= v)
      val expect = 1 + Seq(10, 20, 30).count(_ < rank)
      assert(out(v) == expect, s"value $v rank $rank")
    }
  }

  test("sketchBinAudit: within_bound TRUE on heavy-duplicate and skewed frames") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    // heavy ties (1000 copies of one value) + a long tail: the
    // dup-aware occupancy interval must still hold
    val vals = Seq.fill(1000)(42.0) ++
      (1 to 4000).map(_ => math.exp(rng.nextGaussian() * 2))
    val df = rng.shuffle(vals).toDF("x").repartition(13)
    val audit = Quantiles.sketchBinAudit(df, "x", k = 8, sketchK = 32).collect()
    assert(audit.length == 8)
    assert(audit.forall(_.getBoolean(2)), "occupancy bound violated")
    assert(audit.forall(_.getLong(1) == 5000L))
  }

  test("sketchWinsorize: clipped inside bounds, nulls preserved, count kept") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val df = (1 to 3000).map(_ => Option(rng.nextGaussian() * 50))
      .patch(9, Seq(None), 0).toDF("x")
    val out = Quantiles.sketchWinsorize(df, "x", 0.05, 0.95, sketchK = 32)
    assert(out.count() == 3001)
    assert(out.filter(col("x").isNull).count() == 1)
    val mm = out.agg(min("x"), max("x")).head()
    // p5/p95 of N(0, 50): clip must have engaged well inside the raw range
    assert(mm.getDouble(0) > -150 && mm.getDouble(1) < 150)
    val audit = Quantiles.sketchWinsorizeAudit(df, "x", 0.05, 0.95, 32).collect()
    assert(audit.length == 2 &&
      audit.forall(r => r.getBoolean(3) && r.getBoolean(4)))
  }

  test("bootstrapQuantileCi: constant column degenerates to [c, c], bound holds") {
    import spark.implicits._
    val df = (1L to 400L).map(i => (if (i % 2 == 0) "a" else "b", 7.5, i))
      .toDF("g", "v", "id")
    val out = Audit.bootstrapQuantileCi(df, "g", "v", "id", p = 0.5,
      b = 20, sketchK = 16).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getLong(1) == 200L)
      assert(r.getDouble(3) == 7.5 && r.getDouble(4) == 7.5)
      assert(r.getBoolean(5), "sketch median outside its weighted-rank bound")
    }
  }

  test("bootstrapQuantileCi: CI brackets the true median on a shifted fixture") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val df = (1L to 3000L).map { i =>
      val g = if (i % 3 == 0) "hi" else "lo"
      val base = if (g == "hi") 100.0 else 10.0
      (g, base + rng.nextGaussian(), i)
    }.toDF("g", "v", "id")
    val rows = Audit.bootstrapQuantileCi(df, "g", "v", "id", p = 0.5,
      b = 30, sketchK = 32).collect()
      .map(r => r.getString(0) -> r).toMap
    val hi = rows("hi"); val lo = rows("lo")
    assert(hi.getDouble(3) > 98 && hi.getDouble(4) < 102)
    assert(lo.getDouble(3) > 8 && lo.getDouble(4) < 12)
    assert(hi.getDouble(3) <= hi.getDouble(4))
    assert(rows.values.forall(_.getBoolean(5)))
    // replicate count: every replicate kept a nonzero weight sum
    assert(rows.values.forall(_.getLong(2) == 30L))
    // one (g, b) reset total; the same output at any shuffle
    // partitioning and input order
    def ci(in: org.apache.spark.sql.DataFrame, partitions: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try {
        val out = Audit.bootstrapQuantileCi(in, "g", "v", "id", p = 0.5,
          b = 30, sketchK = 32)
        val plan = out.queryExecution.executedPlan.toString
        assert("RunningTotal \\[".r.findAllIn(plan).length == 1, plan)
        out.collect().map(_.toString).sorted.toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val base = ci(df, 1)
    assert(base == rows.values.map(_.toString).toSeq.sorted)
    assert(ci(df, 7) == base)
    val reversed = df.collect().reverse.toSeq
    assert(ci(spark.createDataFrame(spark.sparkContext.parallelize(reversed, 3),
      df.schema), 7) == base)
  }

  test("bootstrapQuantileSketchOnly: brackets the median like the audit form") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val df = (1L to 2000L).map(i => ("g", 50.0 + rng.nextGaussian(), i))
      .toDF("g", "v", "id")
    val r = Audit.bootstrapQuantileSketchOnly(df, "g", "v", "id", p = 0.5,
      b = 20, sketchK = 32).head()
    assert(r.getLong(1) == 2000L && r.getLong(2) == 20L)
    assert(r.getDouble(3) > 48 && r.getDouble(4) < 52 &&
      r.getDouble(3) <= r.getDouble(4))
  }

  test("weighted sketch merge contract: split-and-merge == the bound, any split") {
    // the a48 posture: Poisson weights enter as exploded unit copies,
    // so the merge guarantee is the plain KllBuffer one — check the
    // weighted-rank bound survives adversarial splits of a weighted set
    import graft.functions.KllBuffer
    val rng = new scala.util.Random(41)
    val weighted = (1 to 2000).map(_ =>
      (rng.nextGaussian() * 10, 1 + rng.nextInt(6)))
    val copies = weighted.flatMap { case (v, w) => Seq.fill(w)(v) }
    for (pieces <- Seq(1, 3, 17)) {
      val bufs = copies.grouped(math.max(1, copies.size / pieces)).map { chunk =>
        val b = new KllBuffer(16); chunk.foreach(b.insert); b
      }.toSeq
      val all = bufs.head
      bufs.tail.foreach(all.mergeIn)
      assert(all.n == copies.size)
      val est = all.quantiles(Array(0.5)).head
      val tr = math.max(1L, math.ceil(0.5 * copies.size).toLong)
      val lt = copies.count(_ < est).toLong
      val le = copies.count(_ <= est).toLong
      assert(lt + 1 <= tr + all.err && le >= tr - all.err,
        s"pieces=$pieces: rank [$lt+1,$le] vs target $tr +- ${all.err}")
    }
  }
}
