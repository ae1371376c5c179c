package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ridge regression via distributed sufficient statistics — the
  * textbook L2-regularized least squares (w = Sxy / (Sxx + lambda*n),
  * b = my - w*mx) fit from ONE aggregate pass and applied map-only.
  *
  * This is deliberately NOT a wrapper over MLlib's LinearRegression:
  * MLlib's ridge penalty is rescaled internally by the label/feature
  * standard deviations (an implementation detail of WeightedLeastSquares
  * that has no closed form stable across versions), so its coefficients
  * cannot be replayed engine-independently. The sufficient-statistics
  * form is the one a 100 TB pipeline wants anyway: the fit is five
  * mergeable sums (map-side combined, one exchange of ONE row) and the
  * predict never shuffles. M-family context: m8/i8 already prove the
  * unregularized OLS path; this adds the shrinkage estimator.
  *
  * Exactness contract: x is cast to DECIMAL(12,4), y to DECIMAL(8,3)
  * (the q9-proven cross-engine cast); all five sums are exact decimals
  * (products stay under width 38), so they are order-independent and
  * bit-identical under any partitioning; the coefficient formulas then
  * run in double with one fixed expression tree.
  */
object Ridge {

  /** Adds `pred` = ridge prediction of `targetCol` from `featureCol`.
    * Returns the input columns + prediction (rounded to `roundTo`). */
  def fitPredict(df: DataFrame, targetCol: String, featureCol: String,
                 lambda: Double, roundTo: Int = 4): DataFrame = {
    // every sufficient statistic is computed over the SAME population —
    // rows where BOTH columns are non-null — or mx=sx/n and the
    // (co)variance terms would mix populations when only one column has
    // a null (the fit would be OLS on no consistent subset)
    val both = col(featureCol).isNotNull && col(targetCol).isNotNull
    val x = when(both, col(featureCol)).cast("decimal(12,4)")
    val y = when(both, col(targetCol)).cast("decimal(8,3)")
    val s = df.agg(
      count(when(both, 1)).cast("double").as("__n"),
      sum(x).cast("double").as("__sx"), sum(y).cast("double").as("__sy"),
      sum(x * y).cast("double").as("__sxy"), sum(x * x).cast("double").as("__sxx"))
    val n = col("__n")
    val mx = col("__sx") / n
    val my = col("__sy") / n
    val w = (col("__sxy") - (n * (mx * my))) /
      ((col("__sxx") - (n * (mx * mx))) + (lit(lambda) * n))
    val b = my - (w * mx)
    df.crossJoin(broadcast(s.select(w.as("__w"), b.as("__b"))))
      .withColumn("pred",
        round((col("__w") * col(featureCol)) + col("__b"), roundTo))
      .drop("__w", "__b")
  }

  /** Classical OLS inference panel for a single-feature fit: one row
    * (n, slope, intercept, se_slope, se_intercept, t_slope, r2) — the
    * standard-error / t-statistic summary every stats package prints
    * next to the coefficients, answering "is this slope real or noise?"
    * where [[fitPredict]] only answers "what is it?". Unregularized
    * (lambda = 0): the inference formulas assume the OLS estimator.
    *
    * Scale shape: ONE aggregate pass of six exact-decimal sufficient
    * statistics (adds Σy² to the m23 five), one row ever after.
    * Exactness: the same decimal(12,4)/(8,3) casts as [[fitPredict]];
    * every reported statistic is a fixed double tree over the exact
    * sums (sqrt is IEEE-exact), rounded to 6. */
  def olsInference(df: DataFrame, targetCol: String,
                   featureCol: String): DataFrame = {
    val both = col(featureCol).isNotNull && col(targetCol).isNotNull
    val x = when(both, col(featureCol)).cast("decimal(12,4)")
    val y = when(both, col(targetCol)).cast("decimal(8,3)")
    val s = df.agg(
      count(when(both, 1)).cast("double").as("__n"),
      sum(x).cast("double").as("__sx"), sum(y).cast("double").as("__sy"),
      sum(x * y).cast("double").as("__sxy"),
      sum(x * x).cast("double").as("__sxx"),
      sum(y * y).cast("double").as("__syy"))
    val n = col("__n")
    val mx = col("__sx") / n
    val my = col("__sy") / n
    val cxx = col("__sxx") - (n * (mx * mx))
    val cxy = col("__sxy") - (n * (mx * my))
    val cyy = col("__syy") - (n * (my * my))
    val slope = cxy / cxx
    val sse = cyy - (slope * cxy)
    val sigma2 = sse / (n - lit(2.0))
    val seSlope = sqrt(sigma2 / cxx)
    s.select(n.cast("long").as("n"),
      round(slope, 6).as("slope"),
      round(my - (slope * mx), 6).as("intercept"),
      round(seSlope, 6).as("se_slope"),
      round(sqrt(sigma2 * ((lit(1.0) / n) + ((mx * mx) / cxx))), 6)
        .as("se_intercept"),
      round(slope / seSlope, 6).as("t_slope"),
      round(lit(1.0) - (sse / cyy), 6).as("r2"))
  }

  /** Exact-decimal Gram sufficient statistics for a p-feature ridge fit
    * over the both-non-null population: ONE aggregate row holding n,
    * sum(x_i), sum(y), sum(x_i*x_j) for i<=j, and sum(x_i*y) — every sum
    * an exact decimal(18,6)-product fold (order-independent under any
    * partitioning), cast to double only at the very end. p(p+3)/2 + 2
    * aggregates, one exchange of ONE row, never a second data pass. */
  private def gramSums(df: DataFrame, targetCol: String,
                       features: Seq[String]): DataFrame = {
    val all = (features :+ targetCol).map(col(_).isNotNull).reduce(_ && _)
    def d(c: String) = when(all, col(c)).cast("decimal(18,6)")
    val xs = features.map(d)
    val y = d(targetCol)
    val aggs =
      Seq(count(when(all, 1)).cast("double").as("__n"),
        sum(y).cast("double").as("__sy")) ++
      features.indices.map(i => sum(xs(i)).cast("double").as(s"__s$i")) ++
      (for (i <- features.indices; j <- features.indices if i <= j)
        yield sum(xs(i) * xs(j)).cast("double").as(s"__s${i}_$j")) ++
      features.indices.map(i => sum(xs(i) * y).cast("double").as(s"__s${i}y"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Three-feature ridge with the fit expressed as a CLOSED-FORM
    * expression tree (Cramer's rule on the centered 3x3 Gram system) —
    * the oracle-replayable instance of [[fitPredictGram]]: every scalar
    * from the sufficient statistics to the coefficients is one fixed
    * double expression, so a SQL engine fed the same exact decimal sums
    * reproduces the predictions bit-for-bit (the m23 recipe, lifted from
    * p=1 to p=3). Same shape at scale: one aggregate exchange of one
    * row, then a map-only predict. */
  def fitPredict3(df: DataFrame, targetCol: String, f1: String, f2: String,
                  f3: String, lambda: Double, roundTo: Int = 4): DataFrame = {
    val s = gramSums(df, targetCol, Seq(f1, f2, f3))
    val n = col("__n")
    def m(i: Int) = col(s"__s$i") / n
    val my = col("__sy") / n
    // centered Gram + ridge diagonal; centered cross-moments with y
    def a(i: Int, j: Int): Column = {
      val base = col(s"__s${i}_$j") - (n * (m(i) * m(j)))
      if (i == j) base + (lit(lambda) * n) else base
    }
    def r(i: Int) = col(s"__s${i}y") - (n * (m(i) * my))
    // 3x3 symmetric Cramer: det and per-column replacements share the
    // cofactor SHAPE so the oracle can mirror the tree token-for-token
    def det3(a11: Column, a12: Column, a13: Column, a22: Column,
             a23: Column, a33: Column, b1: Column, b2: Column,
             b3: Column): Column =
      (b1 * ((a22 * a33) - (a23 * a23))) -
        (a12 * ((b2 * a33) - (a23 * b3))) +
        (a13 * ((b2 * a23) - (a22 * b3)))
    val det = det3(a(0, 0), a(0, 1), a(0, 2), a(1, 1), a(1, 2), a(2, 2),
      a(0, 0), a(0, 1), a(0, 2))
    val dw1 = det3(a(0, 0), a(0, 1), a(0, 2), a(1, 1), a(1, 2), a(2, 2),
      r(0), r(1), r(2))
    // column-2 replacement: expand along row 1 with the replaced column
    val dw2 = (a(0, 0) * ((r(1) * a(2, 2)) - (a(1, 2) * r(2)))) -
      (r(0) * ((a(0, 1) * a(2, 2)) - (a(1, 2) * a(0, 2)))) +
      (a(0, 2) * ((a(0, 1) * r(2)) - (r(1) * a(0, 2))))
    val dw3 = (a(0, 0) * ((a(1, 1) * r(2)) - (r(1) * a(1, 2)))) -
      (a(0, 1) * ((a(0, 1) * r(2)) - (r(1) * a(0, 2)))) +
      (r(0) * ((a(0, 1) * a(1, 2)) - (a(1, 1) * a(0, 2))))
    val w1 = dw1 / det
    val w2 = dw2 / det
    val w3 = dw3 / det
    val b = my - (((w1 * m(0)) + (w2 * m(1))) + (w3 * m(2)))
    df.crossJoin(broadcast(s.select(w1.as("__w1"), w2.as("__w2"),
        w3.as("__w3"), b.as("__b"))))
      .withColumn("pred", round(
        (((col("__w1") * col(f1)) + (col("__w2") * col(f2))) +
          (col("__w3") * col(f3))) + col("__b"), roundTo))
      .drop("__w1", "__w2", "__w3", "__b")
  }

  /** General p-feature ridge from the same Gram sufficient statistics:
    * the ONE stats row is collected (a single bounded row — never data),
    * the centered p x p system (G + lambda*n*I) w = g_y is solved on the
    * driver by Gaussian elimination with partial pivoting, and the
    * predict ships p+1 literal doubles into a map-only projection.
    * p is a feature count (tens at most), so the driver solve is O(p^3)
    * on a few hundred bytes — nothing here scales with the data.
    * RidgeSpec pins p=1 against [[fitPredict]]'s closed form, p=3
    * against [[fitPredict3]]'s Cramer tree, and p=4 against a noiseless
    * planted linear model (lambda=0 recovers it exactly). */
  def fitPredictGram(df: DataFrame, targetCol: String,
                     features: Seq[String], lambda: Double,
                     roundTo: Int = 4): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    require(lambda >= 0, s"lambda must be >= 0, got $lambda")
    val p = features.length
    val row = gramSums(df, targetCol, features).head()
    def g(name: String) = row.getDouble(row.fieldIndex(name))
    val n = g("__n")
    require(n > 0, "no rows with all features and the target non-null")
    val mx = Array.tabulate(p)(i => g(s"__s$i") / n)
    val my = g("__sy") / n
    val a = Array.tabulate(p, p) { (i, j) =>
      val (lo, hi) = (math.min(i, j), math.max(i, j))
      val c = g(s"__s${lo}_$hi") - n * mx(i) * mx(j)
      if (i == j) c + lambda * n else c
    }
    val rhs = Array.tabulate(p)(i => g(s"__s${i}y") - n * mx(i) * my)
    // Gaussian elimination with partial pivoting on the p x p system
    for (c <- 0 until p) {
      val piv = (c until p).maxBy(r2 => math.abs(a(r2)(c)))
      require(math.abs(a(piv)(c)) > 1e-12,
        "singular Gram system — collinear features and lambda = 0")
      val t = a(c); a(c) = a(piv); a(piv) = t
      val tb = rhs(c); rhs(c) = rhs(piv); rhs(piv) = tb
      for (r2 <- c + 1 until p) {
        val f = a(r2)(c) / a(c)(c)
        if (f != 0.0) {
          for (j <- c until p) a(r2)(j) -= f * a(c)(j)
          rhs(r2) -= f * rhs(c)
        }
      }
    }
    val w = new Array[Double](p)
    for (i <- p - 1 to 0 by -1) {
      var acc = rhs(i)
      for (j <- i + 1 until p) acc -= a(i)(j) * w(j)
      w(i) = acc / a(i)(i)
    }
    val b = my - (0 until p).map(i => w(i) * mx(i)).sum
    df.withColumn("pred", round(
      features.indices.map(i => lit(w(i)) * col(features(i)))
        .reduce(_ + _) + lit(b), roundTo))
  }
}
