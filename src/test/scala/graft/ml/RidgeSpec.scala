package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class RidgeSpec extends SparkSpec {

  test("lambda=0 reduces to OLS; shrinkage is monotone in lambda") {
    import spark.implicits._
    val data = Seq((0.0, 1.0), (1.0, 3.0), (2.0, 5.0), (3.0, 7.0), (4.0, 9.5))
      .toDF("x", "y")
    // (w, b) read off the predictions at the existing x=0 and x=1 rows
    def wb(lam: Double): (Double, Double) = {
      val preds = Ridge.fitPredict(data, "y", "x", lam, roundTo = 9)
        .withColumn("rx", round(col("x"), 6))
      val rows = preds.select("rx", "pred").collect()
        .map(r => (r.getDouble(0), r.getDouble(1))).toMap
      val b = rows(0.0); (rows(1.0) - b, b)
    }
    val (w0, b0) = wb(0.0)
    // closed-form OLS on the same data: mx=2, my=5.1, Sxy=21, Sxx=10
    assert(math.abs(w0 - 2.1) < 1e-6 && math.abs(b0 - 0.9) < 1e-6, (w0, b0))
    val ws = Seq(0.0, 0.5, 2.0, 10.0).map(l => wb(l)._1)
    assert(ws == ws.sorted.reverse, s"shrinkage not monotone: $ws")
    assert(ws.last > 0 && ws.last < w0)
    // hand value at lambda=1: w = 21 / (10 + 1*5) = 1.4, b = 5.1 - 1.4*2
    val (w1, b1) = wb(1.0)
    assert(math.abs(w1 - 1.4) < 1e-6 && math.abs(b1 - 2.3) < 1e-6, (w1, b1))
  }

  // deterministic multi-feature fixture: y is an exact linear function of
  // four integer-derived features (noiseless), so lambda=0 OLS recovers
  // the planted coefficients and predictions equal y exactly
  private def planted = {
    import spark.implicits._
    (1 to 200).map { i =>
      val (x1, x2, x3, x4) =
        (i % 7.0, i % 11.0, i % 13.0, (i * i) % 17.0)
      (x1, x2, x3, x4, 2.0 * x1 - 1.5 * x2 + 0.5 * x3 + 3.0 * x4 + 4.0)
    }.toDF("x1", "x2", "x3", "x4", "y")
  }

  test("fitPredictGram p=1 matches the closed-form single-feature fit") {
    val d = planted
    val a = Ridge.fitPredict(d, "y", "x1", lambda = 0.7, roundTo = 9)
      .select("x1", "pred").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val b = Ridge.fitPredictGram(d, "y", Seq("x1"), lambda = 0.7, roundTo = 9)
      .select("x1", "pred").collect().map(r => (r.getDouble(0), r.getDouble(1)))
    a.zip(b).foreach { case ((_, pa), (_, pb)) =>
      assert(math.abs(pa - pb) < 1e-6, (pa, pb))
    }
  }

  test("fitPredictGram p=3 matches fitPredict3's Cramer tree") {
    val d = planted
    val a = Ridge.fitPredict3(d, "y", "x1", "x2", "x3", lambda = 0.3,
        roundTo = 9).select("pred").collect().map(_.getDouble(0))
    val b = Ridge.fitPredictGram(d, "y", Seq("x1", "x2", "x3"), lambda = 0.3,
        roundTo = 9).select("pred").collect().map(_.getDouble(0))
    a.zip(b).foreach { case (pa, pb) =>
      assert(math.abs(pa - pb) < 1e-6, (pa, pb))
    }
  }

  test("fitPredictGram p=4, lambda=0 recovers a noiseless linear model") {
    val d = planted
    val out = Ridge.fitPredictGram(d, "y", Seq("x1", "x2", "x3", "x4"),
      lambda = 0.0, roundTo = 6)
    val bad = out.filter(abs(col("pred") - col("y")) > 1e-4).count()
    assert(bad == 0, s"$bad rows off the planted plane")
  }

  test("fitPredictGram p=5, lambda>0 matches an independent full-pivot solve") {
    import spark.implicits._
    // noisy plant (deterministic sin perturbation, pre-quantized to the
    // engine's decimal(18,6) grid so both solvers see identical inputs)
    val rows = (1 to 200).map { i =>
      val x = Array(i % 7.0, i % 11.0, i % 13.0, (i * i) % 17.0,
        (i * 3) % 19.0)
      val raw = 2.0 * x(0) - 1.5 * x(1) + 0.5 * x(2) + 3.0 * x(3) -
        0.75 * x(4) + 4.0 + math.sin(i.toDouble) * 0.2
      (x, math.rint(raw * 1e6) / 1e6)
    }
    val d = rows.map { case (x, y) => (x(0), x(1), x(2), x(3), x(4), y) }
      .toDF("x1", "x2", "x3", "x4", "x5", "y")
    val lambda = 0.8
    val p = 5
    val n = rows.length.toDouble
    // independent reference: centered Gram built row-by-row in the spec,
    // solved by GAUSS-JORDAN WITH FULL PIVOTING — a different algorithm
    // and elimination order than the engine's partial-pivot back-subst.
    val mx = Array.tabulate(p)(j => rows.map(_._1(j)).sum / n)
    val my = rows.map(_._2).sum / n
    val a = Array.tabulate(p, p + 1) { (i, j) =>
      if (j < p)
        rows.map(r => (r._1(i) - mx(i)) * (r._1(j) - mx(j))).sum +
          (if (i == j) lambda * n else 0.0)
      else rows.map(r => (r._1(i) - mx(i)) * (r._2 - my)).sum
    }
    val perm = Array.tabulate(p)(identity)
    for (step <- 0 until p) {
      val (pr, pc) = (for (r <- step until p; c <- step until p)
        yield (r, c)).maxBy { case (r, c) => math.abs(a(r)(c)) }
      val tr = a(step); a(step) = a(pr); a(pr) = tr
      for (r <- 0 until p) {
        val t = a(r)(step); a(r)(step) = a(r)(pc); a(r)(pc) = t
      }
      val tp = perm(step); perm(step) = perm(pc); perm(pc) = tp
      val piv = a(step)(step)
      for (j <- step to p) a(step)(j) /= piv
      for (r <- 0 until p if r != step) {
        val f = a(r)(step)
        if (f != 0.0) for (j <- step to p) a(r)(j) -= f * a(step)(j)
      }
    }
    val w = new Array[Double](p)
    for (i <- 0 until p) w(perm(i)) = a(i)(p)
    val b = my - (0 until p).map(i => w(i) * mx(i)).sum
    val expected = rows.map { case (x, _) =>
      (0 until p).map(i => w(i) * x(i)).sum + b
    }
    val got = Ridge.fitPredictGram(d, "y",
        Seq("x1", "x2", "x3", "x4", "x5"), lambda, roundTo = 9)
      .select("pred").collect().map(_.getDouble(0))
    expected.zip(got).foreach { case (e, g) =>
      assert(math.abs(e - g) < 1e-6, (e, g))
    }
  }

  test("fitPredictGram p=2 and p=5: same predictions under any partitioning or row order") {
    import spark.implicits._
    // noisy, non-integer features whose double sums depend on the fold
    // order; the exact-decimal Gram sums must not
    val rows = (1 to 500).map { i =>
      val x = Array.tabulate(5)(j => math.sin(i * (j + 1.3)) * 1000.0 + j)
      (i, x(0), x(1), x(2), x(3), x(4), x.sum * 0.37 + math.cos(i) * 55.5)
    }
    val cols = Seq("id", "x1", "x2", "x3", "x4", "x5", "y")
    val (df, reversed) = (rows.toDF(cols: _*), rows.reverse.toDF(cols: _*))
    for (p <- Seq(2, 5)) {
      def fit(in: DataFrame): Seq[(Int, Double)] =
        Ridge.fitPredictGram(in, "y", (1 to p).map(j => s"x$j"),
            lambda = 0.5, roundTo = 12)
          .select("id", "pred").collect()
          .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).toSeq
      val one = fit(df.repartition(1))
      assert(fit(df.repartition(13)) == one, s"p=$p: 13 partitions differ from 1")
      assert(fit(reversed.repartition(1)) == one, s"p=$p: reversed rows differ")
    }
  }

  test("fitPredictGram nulls: fit uses the all-non-null population only") {
    import spark.implicits._
    val d = Seq[(java.lang.Double, java.lang.Double, java.lang.Double)](
      (1.0, 2.0, 5.0), (2.0, 1.0, 6.0), (3.0, 3.0, 10.0), (4.0, 1.0, 10.0),
      (null, 9.0, 999.0), (5.0, null, -999.0))
      .toDF("x1", "x2", "y")
    // the two null-bearing rows would wreck the fit if they leaked in;
    // y = 2*x1 + x2 + 1 on the clean rows (noiseless, lambda=0)
    val out = Ridge.fitPredictGram(d, "y", Seq("x1", "x2"), lambda = 0.0,
      roundTo = 6)
    val clean = out.filter(col("x1").isNotNull && col("x2").isNotNull &&
      col("y") > -100 && col("y") < 100)
    clean.select("x1", "x2", "pred").collect().foreach { r =>
      val want = 2.0 * r.getDouble(0) + r.getDouble(1) + 1.0
      assert(math.abs(r.getDouble(2) - want) < 1e-4, (r, want))
    }
  }

  test("olsInference: hand-computed panel on a 4-point fit") {
    import spark.implicits._
    // x = 1..4, y = (2,4,5,7): slope 1.6, intercept 0.5, SSE 0.2,
    // se_slope = sqrt(0.1/5), t = slope/se, r2 = 1 - 0.2/13
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 5.0), (4.0, 7.0))
      .toDF("x", "y")
    val Array(r) = Ridge.olsInference(df, "y", "x").collect()
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == 1.6, "slope")
    assert(r.getDouble(2) == 0.5, "intercept")
    assert(r.getDouble(3) == 0.141421, "se_slope")
    assert(r.getDouble(4) == 0.387298, "se_intercept")
    assert(r.getDouble(5) == 11.313708, "t_slope")
    assert(r.getDouble(6) == 0.984615, "r2")
  }

  test("olsInference nulls: both-non-null population, like fitPredict") {
    import spark.implicits._
    val d = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 2.0), (2.0, 4.0), (3.0, 5.0), (4.0, 7.0),
      (null, 999.0), (99.0, null)).toDF("x", "y")
    val Array(r) = Ridge.olsInference(d, "y", "x").collect()
    assert(r.getLong(0) == 4L && r.getDouble(1) == 1.6)
  }
}
