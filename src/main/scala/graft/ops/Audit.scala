package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality auditing — the Deequ-style "unit tests for data" layer a
  * training-data pipeline runs before admitting a drop into the corpus:
  * declarative constraints verified in ONE aggregate scan, distribution
  * shape (higher moments) per group, and a chi-square independence
  * check between two categorical columns.
  *
  * Behavioral parity: the reference eyeballs these properties through
  * its missing-value profile (A5), value_counts (A1) and column stats
  * (A7) reports; this turns them into machine-checkable pass/fail rows.
  *
  * Scale shape: `auditReport` folds EVERY constraint metric into one
  * `agg(...)` over one scan — count/sum partials are map-side combined,
  * the result is a single driver row exploded to one row per constraint
  * (stack), so the audit costs one pass however many constraints run.
  * Uniqueness constraints add count(DISTINCT) columns (Catalyst plans
  * one Expand per distinct-column set); keep them few on 100 TB inputs
  * or point them at a bucketed key. Moments sum DECIMAL powers —
  * order-independent under any partitioning, so results are
  * bit-identical across engines and cluster sizes. The chi-square
  * contingency table aggregates BEFORE any join: everything after the
  * first groupBy is cells-sized.
  */
object Audit {

  /** A declarative data-quality constraint. `metric` is a ratio in
    * [0, 1]; the constraint passes when metric >= atLeast. */
  sealed trait Constraint {
    def label: String
    def atLeast: Double
    /** (numerator, denominator) aggregate expressions. */
    private[ops] def fraction: (Column, Column)
  }

  /** Fraction of rows with `column` non-null. */
  final case class Complete(column: String, atLeast: Double = 1.0)
      extends Constraint {
    val label = s"complete($column)"
    private[ops] def fraction = (count(col(column)), count(lit(1)))
  }

  /** Distinct non-null values / non-null rows (1.0 = unique key). */
  final case class Unique(column: String, atLeast: Double = 1.0)
      extends Constraint {
    val label = s"unique($column)"
    private[ops] def fraction = (countDistinct(col(column)), count(col(column)))
  }

  /** Fraction of rows with lo <= column <= hi (nulls fail). */
  final case class InRange(column: String, lo: Double, hi: Double,
                           atLeast: Double = 1.0) extends Constraint {
    val label = s"in_range($column,$lo,$hi)"
    private[ops] def fraction =
      (count(when(col(column).between(lo, hi), 1)), count(lit(1)))
  }

  /** Fraction of rows whose value is one of `values` (nulls fail). */
  final case class InSet(column: String, values: Seq[String],
                         atLeast: Double = 1.0) extends Constraint {
    val label = s"in_set($column)"
    private[ops] def fraction =
      (count(when(col(column).isin(values: _*), 1)), count(lit(1)))
  }

  /** One-scan audit: a row per constraint with its metric (ratio of two
    * long counts — deterministic double) and verdict. */
  def auditReport(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "at least one constraint")
    val aggs = constraints.zipWithIndex.flatMap { case (c, i) =>
      val (num, den) = c.fraction
      Seq(num.cast("long").as(s"__n$i"), den.cast("long").as(s"__d$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = constraints.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c.label).as("constraint"),
        round(col(s"__n$i").cast("double") / col(s"__d$i").cast("double"), 9)
          .as("metric"),
        (col(s"__n$i").cast("double") / col(s"__d$i").cast("double") >=
          c.atLeast - 1e-12).as("passed"))
    }
    one.select(explode(array(rows: _*)).as("__c"))
      .select(col("__c.constraint").as("constraint"),
        col("__c.metric").as("metric"), col("__c.passed").as("passed"))
  }

  /** Per-group distribution shape: n, mean, population variance,
    * skewness (g1) and excess kurtosis (g2) of `valueCol`.
    *
    * Exactness contract: the value is scaled to INTEGER thousandths
    * (round(v*1000) — half-up in both engines for non-negative input)
    * and the four power sums run in exact integer arithmetic —
    * DECIMAL(38,0) here, HUGEINT in the oracle — so they are EXACT and
    * order-independent (skew/kurtosis are scale-invariant, so the
    * thousandths unit cancels; mean and variance divide the scale back
    * out). The moment formulas then run in double over those exact
    * sums with one fixed expression tree (sqrt, not pow, for the 3/2
    * power), so any engine replaying the same tree reproduces the same
    * bits. Magnitude bound: |v| < 3e3 keeps sum(m^4) under 1e26 for
    * 1e12 rows — far inside 38 digits. */
  def momentStats(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val m = round(col(valueCol) * lit(1000), 0).cast("decimal(19,0)")
    val agg = df.groupBy(col(keyCol))
      .agg(count(m).as("n"),
        sum(m).as("__s1"), sum(m * m).as("__s2"),
        sum(m * m * m).as("__s3"), sum(m * m * m * m).as("__s4"))
    val n = col("n").cast("double")
    val s1 = col("__s1").cast("double")
    val s2 = col("__s2").cast("double")
    val s3 = col("__s3").cast("double")
    val s4 = col("__s4").cast("double")
    val mean = s1 / n
    val m2 = (s2 / n) - (mean * mean)
    val m3 = (s3 / n) - ((lit(3.0) * mean) * (s2 / n)) +
      ((lit(2.0) * mean) * (mean * mean))
    val m4 = (s4 / n) - ((lit(4.0) * mean) * (s3 / n)) +
      ((lit(6.0) * (mean * mean)) * (s2 / n)) -
      (lit(3.0) * ((mean * mean) * (mean * mean)))
    agg.select(col(keyCol), col("n"),
      round(mean / lit(1000.0), 6).as("mean"),
      round(m2 / lit(1000000.0), 6).as("variance"),
      round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
      round((m4 / (m2 * m2)) - lit(3.0), 6).as("kurtosis"))
  }

  /** Benford first-significant-digit audit: per digit 1..9, observed
    * count, share, the Benford-law expectation log10(1 + 1/d), and the
    * deviation — the classic fabricated-data / unit-mixup smell test.
    * The digit is extracted through INTEGER cents and string formatting
    * (round(v*100) -> BIGINT -> first character), never through
    * floor(log10(v)) whose libm rounding at power-of-ten boundaries is
    * not portable across engines; expectations are shared literals.
    * One map-only projection + one 9-row aggregate. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val expected: Column = Seq(
      "1" -> 0.301029996, "2" -> 0.176091259, "3" -> 0.124938737,
      "4" -> 0.096910013, "5" -> 0.079181246, "6" -> 0.066946790,
      "7" -> 0.057991947, "8" -> 0.051152522, "9" -> 0.045757491)
      .foldLeft(lit(0.0)) { case (acc, (d, p)) =>
        when(col("digit") === d, p).otherwise(acc)
      }
    // r9: positive values below half a cent round to integer cents 0 —
    // a digit '0' row with no Benford expectation; keep only '1'..'9'
    // so every output row has a real expected_share.
    val digits = df.filter(col(valueCol) > 0)
      .select(substring(round(col(valueCol) * 100, 0).cast("long")
        .cast("string"), 1, 1).as("digit"))
      .filter(col("digit").between("1", "9"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val total = digits.agg(sum("n_obs").as("__t"))
    digits.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("n_obs").cast("double") / col("__t").cast("double"), 6))
      .withColumn("expected_share", expected)
      .withColumn("deviation", round(col("share") - col("expected_share"), 6))
      .drop("__t")
  }

  /** Welch's two-sample t statistic between the `valueCol`
    * distributions of two groups: one row (n_a, n_b, mean_diff, t_stat,
    * df) with the Welch-Satterthwaite degrees of freedom. Sufficient
    * statistics are the same exact integer-thousandths sums as
    * [[momentStats]] (one aggregate scan, order-independent); the t and
    * df formulas run in double over them with one fixed tree, so the
    * statistic replays bit-for-bit. (p-value lookup is a driver-side
    * concern, as in [[chiSquare]].) */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
             groupA: String, groupB: String): DataFrame = {
    val m = round(col(valueCol) * lit(1000), 0).cast("decimal(19,0)")
    def side(g: String, tag: String) = Seq(
      count(when(col(groupCol) === g, m)).cast("double").as(s"__n$tag"),
      sum(when(col(groupCol) === g, m)).cast("double").as(s"__s1$tag"),
      sum(when(col(groupCol) === g, m * m)).cast("double").as(s"__s2$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val s = df.agg(aggs.head, aggs.tail: _*)
    def stats(tag: String): (Column, Column, Column) = {
      val n = col(s"__n$tag")
      val mean = col(s"__s1$tag") / n
      // sample variance in thousandths^2
      val v = (col(s"__s2$tag") - (n * (mean * mean))) / (n - lit(1.0))
      (n, mean, v)
    }
    val (na, ma, va) = stats("a")
    val (nb, mb, vb) = stats("b")
    val se2 = (va / na) + (vb / nb)
    val t = (ma - mb) / sqrt(se2)
    val dfW = (se2 * se2) /
      (((va / na) * (va / na)) / (na - lit(1.0)) +
        ((vb / nb) * (vb / nb)) / (nb - lit(1.0)))
    s.select(na.cast("long").as("n_a"), nb.cast("long").as("n_b"),
      round((ma - mb) / lit(1000.0), 6).as("mean_diff"),
      round(t, 6).as("t_stat"), round(dfW, 4).as("df"))
  }

  /** Robust outlier report via median absolute deviation: one row
    * (n, median, mad, n_outliers) where an outlier is
    * |x - median| > k * 1.4826 * MAD (1.4826 makes MAD consistent with
    * sigma under normality — the robust z-score rule; mean/stddev move
    * with every outlier, median/MAD don't). Both medians ride
    * [[Relational.exactMedian]]'s rank-selection (memory-bounded at any
    * scale, middle-pair average = SQL median interpolation); the
    * threshold compare reuses the unrounded driver doubles, so the
    * verdict is engine-exact. Cost: two rank-selection jobs + one
    * counting scan. */
  def madOutliers(df: DataFrame, valueCol: String, k: Double = 3.0): DataFrame = {
    val med = Relational.exactMedian(df, valueCol)
      .getOrElse(throw new IllegalArgumentException(s"no values in $valueCol"))
    val dev = df.filter(col(valueCol).isNotNull)
      .select(abs(col(valueCol) - lit(med)).as("__dev"))
    val mad = Relational.exactMedian(dev, "__dev").get
    val thresh = (k * 1.4826) * mad
    df.agg(count(col(valueCol)).as("n"),
        count(when(abs(col(valueCol) - lit(med)) > lit(thresh), 1))
          .as("n_outliers"))
      .select(col("n"), round(lit(med), 6).as("median"),
        round(lit(mad), 6).as("mad"), col("n_outliers"))
  }

  /** Mutual information (nats) between two categoricals, plus the two
    * marginal entropies: one row (n, h_a, h_b, mi). Same contingency
    * shape as [[chiSquare]] — one groupBy over the scan, everything
    * after it cells-sized. Each term's double tree is fixed
    * ((o/n) * ln((o*n)/(ra*ct))), rounded to 9 and DECIMAL-summed, so
    * the result is order-independent; ln agrees bit-for-bit across
    * engines on this platform (the t29/t13 log-parity contract). */
  def mutualInformation(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowTot = cells.groupBy("__a").agg(sum("__o").as("__ra"))
    val colTot = cells.groupBy("__b").agg(sum("__o").as("__rb"))
    val tot = cells.agg(sum("__o").as("__n"))
    val n = col("__n").cast("double")
    val o = col("__o").cast("double")
    val miTerm = (o / n) * log((o * n) / (col("__ra").cast("double") *
      col("__rb").cast("double")))
    val withTot = cells.join(broadcast(rowTot), "__a")
      .join(broadcast(colTot), "__b")
      .crossJoin(broadcast(tot))
    val mi = withTot.agg(first(col("__n")).as("n"),
      sum(round(miTerm, 9).cast("decimal(28,9)")).cast("double").as("__mi"))
    val ha = rowTot.crossJoin(broadcast(tot))
      .agg(sum(round((col("__ra").cast("double") / n) *
        log(col("__ra").cast("double") / n), 9).cast("decimal(28,9)"))
        .cast("double").as("__ha"))
    val hb = colTot.crossJoin(broadcast(tot))
      .agg(sum(round((col("__rb").cast("double") / n) *
        log(col("__rb").cast("double") / n), 9).cast("decimal(28,9)"))
        .cast("double").as("__hb"))
    mi.crossJoin(ha).crossJoin(hb)
      .select(col("n"), round(lit(0.0) - col("__ha"), 6).as("h_a"),
        round(lit(0.0) - col("__hb"), 6).as("h_b"),
        round(col("__mi"), 6).as("mi"))
  }

  /** Chi-square test of independence between two categoricals: returns
    * one row (n, dof, chi2). The contingency table is one groupBy over
    * the scan; marginals re-aggregate the CELLS (not the data), so
    * everything past the first exchange is |A| x |B|-sized. Each cell
    * term (obs - exp)^2 / exp is rounded to 9 decimals and summed in
    * DECIMAL — order-independent, cross-engine exact. (The statistic
    * and dof are returned; p-value lookup is a driver-side concern.) */
  /** Two-sample Kolmogorov–Smirnov statistic between the `valueCol`
    * distributions of slices `aVal` and `bVal` of `groupCol`: one row
    * (n_a, n_b, d_num, ks_stat) where ks_stat = D = sup_x |F_a - F_b|.
    *
    * Distribution-drift check a pipeline runs between a reference drop
    * and a candidate drop before admitting it (the continuous-column
    * counterpart of [[chiSquare]]). The reference surface eyeballs
    * drift through its histogram report (A9); this makes it a number.
    *
    * Scale shape: per-VALUE counts first (one map-side-combined
    * aggregate — the frame after it is distinct-values-sized), then the
    * two CDFs ride [[Ordinals.withRunningTotal]]'s range-partitioned
    * distributed prefix sum — never a keyless window funnel, so the
    * sup evaluates at any scale. Exactness: D's numerator is the
    * integer max |cum_a*n_b - cum_b*n_a| (cumulative counts are exact
    * integers), so the statistic is a deterministic ratio of longs —
    * bit-replayable in any engine regardless of float summation order.
    * Grouping by value first also lands tied observations in one row,
    * so the CDF steps past ties atomically (the textbook tie rule). */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
             aVal: String, bVal: String): DataFrame = {
    val per = df
      .filter(col(groupCol).isin(aVal, bVal) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v"))
      .agg(count(when(col(groupCol) === aVal, 1)).as("__na"),
        count(when(col(groupCol) === bVal, 1)).as("__nb"))
    val cum = Ordinals.withRunningTotals(per, Seq(col("__v").asc),
      Seq("__na" -> "__ca", "__nb" -> "__cb"))
    val tot = per.agg(sum("__na").as("__ta"), sum("__nb").as("__tb"))
    cum.crossJoin(broadcast(tot))
      .select(col("__ta"), col("__tb"),
        abs((col("__ca").cast("long") * col("__tb"))
          - (col("__cb").cast("long") * col("__ta"))).as("__d"))
      .groupBy(col("__ta").as("n_a"), col("__tb").as("n_b"))
      .agg(max("__d").as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        round(col("d_num").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("ks_stat"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) drift test between two slices:
    * one row (n_a, n_b, u_stat, z) — the RANK-based two-sample test,
    * the standard alarm when the metric's distribution is heavy-tailed
    * enough that a28's KS or a t-test mislead. Average ranks for ties,
    * tie-corrected normal approximation.
    *
    * Scale shape: ranks are NEVER materialized per row — the frame is
    * collapsed to per-distinct-value counts (map-side combined), the
    * tied-group average ranks come from ONE RunningTotal over the
    * value-group table, and everything after is a fixed double tree
    * over exact integers. 2*R_A = sum over value groups of
    * na * (2*cumt - t + 1) stays in integer DECIMAL, so rank sums are
    * partition-order-independent. */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                  aVal: String, bVal: String): DataFrame = {
    val per = df
      .filter(col(groupCol).isin(aVal, bVal) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v"))
      .agg(count(when(col(groupCol) === aVal, 1)).as("__na"),
        count(when(col(groupCol) === bVal, 1)).as("__nb"))
      .withColumn("__t", col("__na") + col("__nb"))
    val cum = Ordinals.withRunningTotal(per, Seq(col("__v").asc), "__t", "__ct")
    val s = cum.agg(
      sum("__na").as("__ta"), sum("__nb").as("__tb"),
      // doubled rank-sum of slice A: groups are disjoint and the terms
      // integer, so the DECIMAL sum is exact under any partitioning;
      // factors are widened to DECIMAL BEFORE multiplying (na * 2ct is
      // ~n^2 and t^3 ~n^3 — both overflow long past ~10^6 rows)
      sum(col("__na").cast("decimal(19,0)") *
        ((lit(2L) * col("__ct")) - col("__t") + lit(1L))
          .cast("decimal(19,0)")).as("__r2a"),
      sum((col("__t").cast("decimal(12,0)") * col("__t") * col("__t"))
        - col("__t")).as("__ties"))
    val na = col("__ta").cast("double")
    val nb = col("__tb").cast("double")
    val nn = na + nb
    val u = (col("__r2a").cast("double") / lit(2.0)) -
      ((na * (na + lit(1.0))) / lit(2.0))
    val mu = (na * nb) / lit(2.0)
    val sigma2 = ((na * nb) / lit(12.0)) *
      ((nn + lit(1.0)) -
        (col("__ties").cast("double") / (nn * (nn - lit(1.0)))))
    s.select(col("__ta").as("n_a"), col("__tb").as("n_b"),
      round(u, 1).as("u_stat"),
      round((u - mu) / sqrt(sigma2), 6).as("z"))
  }

  /** Cramer's V — the EFFECT-SIZE companion of [[chiSquare]] (a21):
    * one row (n, dof, chi2, cramers_v). chi2 answers "is there any
    * association?" but grows with n; V = sqrt(chi2 / (n * (min(k)-1)))
    * is the [0,1] strength readout that stays comparable across table
    * sizes — the number an EDA drift report actually thresholds.
    *
    * Scale shape: ONE contingency aggregate (map-side combined — the
    * cell table is |A| x |B|, dictionary-sized by definition of
    * categorical), then marginals and the (o - e)^2/e fold over cells.
    * Exactness: observed counts and marginals are integers; each cell
    * term is rounded to 9 decimals and DECIMAL-summed (the shared
    * order-independence idiom), so chi2 replays bit-for-bit. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowTot = cells.groupBy("__a").agg(sum("__o").as("__ra"))
    val colTot = cells.groupBy("__b").agg(sum("__o").as("__rb"))
    val tot = cells.agg(sum("__o").as("__n"),
      countDistinct("__a").as("__ka"), countDistinct("__b").as("__kb"))
    val e = (col("__ra").cast("double") * col("__rb").cast("double")) /
      col("__n").cast("double")
    // r9: the statistic must include EMPTY cells — their (0-e)^2/e mass
    // is what a perfectly-associated table's chi2 = n comes from — so
    // the fold runs over the FULL marginal grid (|A| x |B|, still
    // dictionary-sized), not just the observed cells
    val o = coalesce(col("__o"), lit(0L)).cast("double")
    val term = ((o - e) * (o - e)) / e
    val s = rowTot.crossJoin(colTot)
      .join(cells, Seq("__a", "__b"), "left")
      .crossJoin(broadcast(tot))
      .agg(max("__n").as("__n"), max("__ka").as("__ka"),
        max("__kb").as("__kb"),
        sum(round(term, 9).cast("decimal(28,9)")).as("__chi2"))
    val dof = (col("__ka") - lit(1L)) * (col("__kb") - lit(1L))
    val chi2 = col("__chi2").cast("double")
    val minDim = least(col("__ka"), col("__kb")).cast("double") - lit(1.0)
    s.select(col("__n").as("n"), dof.as("dof"),
      round(chi2, 6).as("chi2"),
      round(sqrt(chi2 / (col("__n").cast("double") * minDim)), 6)
        .as("cramers_v"))
  }

  /** Spearman rank correlation between two numeric columns: one row
    * (n, rho) — Pearson over average ranks, the standard monotone-
    * association check that survives outliers and nonlinear scales.
    *
    * Scale shape: per-column rank DICTIONARIES (distinct value ->
    * doubled average rank, exact integers via 2*avgrank = 2*cumt - t
    * + 1 from one RunningTotal over the value-group table), joined
    * back to the rows — two dictionary joins, no per-row window, no
    * range sort of the data. The Pearson fold then runs over exact
    * integer doubled-ranks in DECIMAL (products bounded by (2n)^2 * n
    * < 10^38 up to ~10^10 rows), one fixed double tree at the end. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val both = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("__x"), col(yCol).as("__y"))
    def rankDict(c: String) = {
      val per = both.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__t"))
      Ordinals.withRunningTotal(per, Seq(col("__v").asc), "__t", "__ct")
        .select(col("__v"),
          ((lit(2L) * col("__ct")) - col("__t") + lit(1L)).as(s"__r$c"))
    }
    val ranked = both
      .join(rankDict("__x").withColumnRenamed("__v", "__x"), "__x")
      .join(rankDict("__y").withColumnRenamed("__v", "__y"), "__y")
    // doubled ranks are <= 2n; the cross products are widened to
    // DECIMAL before multiplying (4n^2 overflows long past ~1.5e9 rows)
    def dec(c: Column) = c.cast("decimal(19,0)")
    val s = ranked.agg(
      count(lit(1)).as("__n"),
      sum(dec(col("__r__x"))).as("__sx"),
      sum(dec(col("__r__y"))).as("__sy"),
      sum(dec(col("__r__x")) * dec(col("__r__y"))).as("__sxy"),
      sum(dec(col("__r__x")) * dec(col("__r__x"))).as("__sxx"),
      sum(dec(col("__r__y")) * dec(col("__r__y"))).as("__syy"))
    val n = col("__n").cast("double")
    def d(c: String) = col(c).cast("double")
    val cov = d("__sxy") - ((d("__sx") * d("__sy")) / n)
    val vx = d("__sxx") - ((d("__sx") * d("__sx")) / n)
    val vy = d("__syy") - ((d("__sy") * d("__sy")) / n)
    s.select(col("__n").as("n"),
      round(cov / sqrt(vx * vy), 6).as("rho"))
  }

  /** Population Stability Index report between a reference slice and a
    * current slice of `groupCol`: one row per bin (bin, n_ref, n_cur,
    * psi_term), bins = equi-depth deciles OF THE REFERENCE slice (the
    * standard PSI convention — drift is measured against where the
    * reference mass sits). PSI = sum of psi_term; > 0.25 is the usual
    * "population shifted" alarm.
    *
    * Scale shape: cut points are the (b*n/bins)-th smallest reference
    * values selected by [[Relational.exactValuesAtRanks]]' shared
    * histogram refinement (never a single-partition ntile, and — r8 —
    * no longer a range sort of the slice), collected as bins-1 driver
    * doubles; bucket assignment is then a map-only comparison chain and
    * the bin counts for BOTH slices fold into one aggregate pass.
    * Exactness: cut ranks use integer arithmetic (b*n/bins in long
    * division); equal-to-cut values land in the lower bin on both
    * engines; Laplace smoothing (+0.5 per bin) keeps empty-bin terms
    * finite and deterministic. Cut-rank MULTIPLICITY is preserved: if
    * two decile boundaries select the same value (a heavy atom), values
    * above it skip the emptied bin on both engines. */
  def psiReport(df: DataFrame, groupCol: String, valueCol: String,
                refVal: String, curVal: String, bins: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val ref = df.filter(col(groupCol) === refVal && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"))
    // r8: cut values via the shared histogram-refinement selection —
    // identical order statistics to a range sort, but ~4 map-side scans
    // of the reference slice instead of shuffling every row of it
    var ranks: Seq[Long] = Nil
    val cutByRank = Relational.exactValuesAtRanks(ref, Seq("__v"),
      (_, nRef) => {
        require(nRef >= bins.toLong,
          s"reference slice has $nRef rows; need >= $bins for $bins bins")
        ranks = (1 until bins).map(b => b.toLong * nRef / bins)
        ranks.distinct
      })("__v")
    val cuts = ranks.map(cutByRank) // bins-1 doubles, multiplicity kept
    val bucket = cuts.foldLeft(lit(1L)) { (acc, c) =>
      acc + when(col("__v") > lit(c), 1L).otherwise(0L) }
    val counts = df
      .filter(col(groupCol).isin(refVal, curVal) && col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .withColumn("__bin", bucket)
      .groupBy("__bin")
      .agg(count(when(col("__g") === refVal, 1)).as("n_ref"),
        count(when(col("__g") === curVal, 1)).as("n_cur"))
    val spine = spark.range(1, bins + 1).select(col("id").as("__bin"))
    val tot = counts.agg(sum("n_ref").as("__tr"), sum("n_cur").as("__tc"))
    val pRef = (col("n_ref").cast("double") + lit(0.5)) /
      (col("__tr").cast("double") + lit(0.5 * bins))
    val pCur = (col("n_cur").cast("double") + lit(0.5)) /
      (col("__tc").cast("double") + lit(0.5 * bins))
    spine.join(counts, Seq("__bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .crossJoin(broadcast(tot))
      .select(col("__bin").as("bin"), col("n_ref"), col("n_cur"),
        round((pCur - pRef) * log(pCur / pRef), 6).as("psi_term"))
  }

  /** One-way ANOVA F statistic for `valueCol` across the levels of
    * `groupCol`: one row (n, k, ss_between, ss_within, f_stat) — does
    * the mean differ across slices? The k-sample generalisation of
    * [[welchT]] (classic fixed-effects, equal-variance form), the test
    * a pipeline runs to ask "does quality differ by source?" before
    * reweighting a mixture.
    *
    * Scale shape: ONE map-side-combined aggregate produces per-group
    * (n_g, Σv, Σv²) in exact integer-thousandths DECIMAL (the
    * [[momentStats]] trick); everything after it is k-rows-sized. The
    * between-group term Σ s1_g²/n_g sums k per-group doubles — each
    * rounded to 9 and DECIMAL-summed, so the statistic is
    * order-independent and cross-engine exact. SS columns are reported
    * in the original units (thousandths² scaled back by 1e6). */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val m = round(col(valueCol) * lit(1000), 0).cast("decimal(19,0)")
    val per = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(m).as("__ng"), sum(m).as("__s1"), sum(m * m).as("__s2"))
    val ng = col("__ng").cast("double")
    val s1 = col("__s1").cast("double")
    val between = (s1 * s1) / ng // per-group contribution to Σ s1²/n
    val tot = per.agg(
      sum(col("__ng")).cast("double").as("__n"),
      count(lit(1)).cast("double").as("__k"),
      sum(col("__s1")).cast("double").as("__t1"),
      sum(col("__s2")).cast("double").as("__t2"),
      // decimal(38,9), not (28,9): the per-group s1^2/ng term reaches
      // ~1e20 on dollar-scaled thousandths (a44) — 19 integer digits
      // overflow, 29 hold to ~1e7x more rows
      sum(round(between, 9).cast("decimal(38,9)")).cast("double").as("__b"))
    val n = col("__n")
    val k = col("__k")
    val ssb = col("__b") - ((col("__t1") * col("__t1")) / n)
    val ssw = col("__t2") - col("__b")
    val f = (ssb / (k - lit(1.0))) / (ssw / (n - k))
    tot.select(n.cast("long").as("n"), k.cast("long").as("k"),
      round(ssb / lit(1000000.0), 6).as("ss_between"),
      round(ssw / lit(1000000.0), 6).as("ss_within"),
      round(f, 6).as("f_stat"))
  }

  /** Poisson(1) CDF at k = 0..5, scaled to the 2^31-1 mix space as
    * EXACT integer literals (floor(c_k * (2^31-1))) — the same
    * constants the DuckDB oracle embeds, so the replicate weights
    * replay bit-for-bit. P(X > 6) ~ 8e-5 is truncated to w = 6 in
    * BOTH engines (identical truncation, exactness preserved). */
  private val PoissonCdf31: Seq[Long] = Seq(
    790015083L, 1580030167L, 1975037709L, 2106706890L, 2139624185L,
    2146207644L)

  /** (group, value, md5-mix seed) base frame shared by the bootstrap
    * family: one md5 per ROW (never per (row, replicate)). */
  private def bootstrapBase(df: DataFrame, groupCol: String,
                            valueCol: String, idCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__x"),
        bootstrapSeed(idCol).as("__m"))

  /** The row's md5-mix seed in [0, 2^31-1): the first 60 bits of
    * md5("id_42") mod (2^31-1) — the `__m` that [[poissonReplicates]]
    * mixes with the replicate id. */
  private[graft] def bootstrapSeed(idCol: String): Column =
    pmod(conv(substring(md5(concat(col(idCol).cast("string"), lit("_"),
      lit("42"))), 1, 15), 16, 10).cast("long"), lit(2147483647L))

  /** The 1-based ranks of the 2.5th and 97.5th percentiles among `n`
    * ordered replicates: greatest(1, ceil(p*n)). */
  private[graft] def ciRanks(n: Column): (Column, Column) = {
    def rank(p: Double) = greatest(lit(1L), ceil(lit(p) * n.cast("double")))
    (rank(0.025), rank(0.975))
  }

  /** The 2.5/97.5 percentile interval of per-(__g, __b) replicate
    * statistics `stat`: (__g, b_eff = replicates, __lo, __hi). The
    * ranks are a per-group WINDOW over (stat, replicate), not the
    * global-rank ladder: rows per group are bounded by b (<= 1000) at
    * any data scale, so partitionBy(__g) never meets a hot reducer, and
    * both endpoints come off ONE pass (the former shape re-executed the
    * ranked lineage once per endpoint filter) — r14. */
  private def percentileCi(reps: DataFrame, stat: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window.partitionBy("__g")
    val ranked = reps
      .withColumn("__r", row_number().over(
        win.orderBy(col(stat).asc, col("__b").asc)))
      .withColumn("b_eff", count(lit(1)).over(win))
    val (loR, hiR) = ciRanks(col("b_eff"))
    ranked.filter(col("__r") === loR || col("__r") === hiR)
      .groupBy(col("__g"))
      .agg(min("b_eff").as("b_eff"),
        min(when(col("__r") === loR, col(stat))).as("__lo"),
        min(when(col("__r") === hiR, col(stat))).as("__hi"))
  }

  /** Explode a [[bootstrapBase]] frame into (group, value, replicate,
    * Poisson(1) weight) rows — the row-dependent integer mix and
    * inverse-CDF thresholds both engines replay bit-for-bit. */
  private[graft] def poissonReplicates(base: DataFrame, b: Int): DataFrame = {
    val reps = base.withColumn("__b", explode(sequence(lit(0), lit(b - 1))))
    val v = (col("__m") * (lit(48271L) + (col("__b") * lit(12345L)))) %
      lit(2147483647L)
    val w = PoissonCdf31.zipWithIndex.foldRight(lit(6): Column) {
      case ((t, k), rest) => when(v < lit(t), lit(k)).otherwise(rest)
    }
    reps.withColumn("__w", w)
  }

  /** Poisson-bootstrap percentile confidence interval of the per-group
    * mean — the uncertainty readout every drift/quality panel needs,
    * in the ONLY bootstrap shape that survives 100 TB: instead of
    * resampling n rows with replacement B times (B range-dependent
    * shuffles), every row draws its per-replicate multiplicity from
    * Poisson(1) (Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams", Google 2012; the classic multinomial bootstrap's
    * one-pass limit), so ALL B replicates ride ONE scan with map-side
    * combine — the shuffle carries B rows per group, never data.
    *
    * Determinism/oracle: each row draws ONE md5 (of "id_seed" — the
    * ROW, not the partition), and its B replicate uniforms come from
    * the row-dependent multiplicative mix (m * (48271 + b*12345)) mod
    * (2^31-1): pure 64-bit-safe integer arithmetic both engines
    * replay bit-for-bit, ~50x cheaper than a per-(row, replicate)
    * md5 (39 -> ~8s at sf1), and the ROW-dependent step (12345*m mod
    * M differs per row) decorrelates consecutive replicates where a
    * constant-increment LCG would shift every row's weight together.
    * The multiplicity is the Poisson inverse-CDF of that uniform
    * ([[PoissonCdf31]]). Replicate means fold
    * as round-9 DECIMAL sums; the percentile ranks use the shared
    * greatest(1, ceil(p*B)) convention over (mean, replicate-id)
    * order. Empty replicates (possible only for tiny groups) drop out
    * identically in both engines.
    *
    * Output: (group, n, mean, lo95, hi95), percentile interval at
    * 2.5/97.5 over `b` replicates. */
  def bootstrapCi(df: DataFrame, groupCol: String, valueCol: String,
                  idCol: String, b: Int = 50): DataFrame = {
    require(b >= 10 && b <= 1000, s"replicates in [10, 1000], got $b")
    val base = bootstrapBase(df, groupCol, valueCol, idCol)
    // w = 0 rows contribute nothing to either sum (round(x*0,9) = 0) and
    // a zero-total replicate is filtered identically by __wn > 0, so
    // dropping them BEFORE the aggregate only removes dead rows (~37%
    // of the exploded frame at Poisson(1)) — r14.
    val per = poissonReplicates(base, b).filter(col("__w") > 0)
      .groupBy(col("__g"), col("__b"))
      .agg(sum(col("__w")).cast("long").as("__wn"),
        // round(x*w, 9) BEFORE the decimal cast: DECIMAL(28,9)*INT
        // widens past DuckDB's 38-digit cap, while the double product
        // is the identical IEEE tree in both engines
        sum(round(col("__x") * col("__w"), 9).cast("decimal(28,9)"))
          .as("__ws"))
      .filter(col("__wn") > 0L)
      .withColumn("__m", col("__ws").cast("double") / col("__wn").cast("double"))
    val sel = percentileCi(per, "__m")
    val overall = base.groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(round(col("__x"), 9).cast("decimal(28,9)")).as("__s"))
    overall.join(sel, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__s").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round(col("__lo"), 6).as("lo95"),
        round(col("__hi"), 6).as("hi95"))
  }

  /** Poisson-bootstrap percentile confidence interval of a per-group
    * QUANTILE (r11: [[bootstrapCi]]'s composition with the KLL sketch
    * family) — the uncertainty readout for medians/p90s, where the
    * mean CI says nothing. Same one-pass replicate discipline as
    * [[bootstrapCi]]: every row draws its per-replicate Poisson(1)
    * multiplicity from the row-dependent integer mix, so all B
    * replicates ride one scan.
    *
    * Two parallel readouts of the same weighted replicates:
    * (1) the EXACT per-replicate weighted quantile — (g, b, x) cells
    *     collapse duplicates map-side BEFORE one RunningTotal in
    *     (g, b, x) order that restarts per (g, b) replicate
    *     (cell-sized, not row-sized), and the quantile is the smallest
    *     x whose cumulative weight reaches greatest(1,
    *     ceil(p*wn)) — pure integer selection both engines replay
    *     bit-for-bit, so the CI endpoints are full-oracle; and
    * (2) the one-pass production path: a per-replicate `kll_quantiles`
    *     sketch (weights fed as exploded unit copies, w <= 6), whose
    *     estimate's true WEIGHTED rank interval [lt_w + 1, le_w] must
    *     intersect [tr - err, tr + err] — `all_within_bound` is the
    *     in-engine proof (deterministically TRUE by the compaction
    *     accounting) that at 100 TB the sketch replicates could
    *     replace the exact sort entirely.
    *
    * Output: (group, n, b_eff, ci_lo, ci_hi, all_within_bound) at
    * 2.5/97.5 percentiles over `b` replicate quantiles. */
  def bootstrapQuantileCi(df: DataFrame, groupCol: String, valueCol: String,
                          idCol: String, p: Double = 0.5, b: Int = 50,
                          sketchK: Int = 64): DataFrame = {
    require(b >= 10 && b <= 1000, s"replicates in [10, 1000], got $b")
    require(p > 0 && p < 1, s"quantile p in (0, 1), got $p")
    val base = bootstrapBase(df, groupCol, valueCol, idCol)
    val wtd = poissonReplicates(base, b).filter(col("__w") > 0)
      .select(col("__g"), col("__b"), col("__x"),
        col("__w").cast("long").as("__w"))
    val cells = wtd.groupBy(col("__g"), col("__b"), col("__x"))
      .agg(sum(col("__w")).as("__wc"))
    val totals = cells.groupBy(col("__g").as("__gt"), col("__b").as("__bt"))
      .agg(sum(col("__wc")).as("__wn"))
    // exact weighted quantile per replicate: one running total over the
    // CELLS in (g, b, x) order that restarts per (g, b) replicate. All
    // weights are integer-valued doubles < 2^53, so every total is exact.
    val cum = Ordinals.withRunningTotals(cells,
      Seq(col("__g").asc, col("__b").asc, col("__x").asc),
      Seq("__wc" -> "__cum"), resetKeys = 2)
    val med = cum
      .join(broadcast(totals),
        col("__g") === col("__gt") && col("__b") === col("__bt"))
      .filter(col("__cum") >=
        greatest(lit(1L), ceil(lit(p) * col("__wn").cast("double"))))
      .groupBy(col("__g"), col("__b"))
      .agg(min(col("__x")).as("__q"))
    // production sketch per replicate + its exact-vs-bound proof; the
    // weighted aggregate enters each row at its Poisson weight via the
    // exact binary decomposition — no explode. Input is the CELLS frame,
    // not `wtd` (r14): the two aggregates' exchange keys differ, so off
    // `wtd` the md5 + replicate-explode + Poisson map stage executed
    // TWICE (the two dominant single-stage jobs of the a48 profile);
    // off `cells` every consumer hangs on the one (g, b, x) exchange
    // (ReuseExchange). A cell enters at its summed weight — the sketch's
    // rank-error bound is insertion-sharding-independent (weighted entry
    // adds no error), so all_within_bound is unchanged by construction,
    // and no exact output column reads the sketch estimate.
    val sk = cells
      .groupBy(col("__g"), col("__b"))
      .agg(call_function("kll_quantiles_w", col("__x"), col("__wc"),
        lit(sketchK), array(lit(p))).as("__sk"))
      .select(col("__g").as("__gs"), col("__b").as("__bs"),
        col("__sk.err").as("__se"), element_at(col("__sk.est"), 1).as("__est"))
    val wb = cells
      .join(broadcast(sk),
        col("__g") === col("__gs") && col("__b") === col("__bs"))
      .groupBy(col("__g"), col("__b"))
      .agg(coalesce(sum(when(col("__x") < col("__est"), col("__wc"))),
          lit(0L)).as("__ltw"),
        coalesce(sum(when(col("__x") <= col("__est"), col("__wc"))),
          lit(0L)).as("__lew"),
        min(col("__se")).as("__se"))
      .join(broadcast(totals),
        col("__g") === col("__gt") && col("__b") === col("__bt"))
      .withColumn("__tr",
        greatest(lit(1L), ceil(lit(p) * col("__wn").cast("double"))))
      .groupBy(col("__g"))
      .agg((min(when((col("__ltw") + 1 <= col("__tr") + col("__se")) &&
          (col("__lew") >= col("__tr") - col("__se")), lit(1))
        .otherwise(lit(0))) === 1).as("__awb"))
      .select(col("__g").as("__gw"), col("__awb"))
    // percentile CI over the EXACT replicate quantiles
    val sel = percentileCi(med, "__q")
    val overall = base.groupBy("__g").agg(count(lit(1)).as("n"))
    overall.join(sel, Seq("__g"))
      .join(wb, col("__g") === col("__gw"))
      .select(col("__g").as(groupCol), col("n"), col("b_eff"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"),
        col("__awb").as("all_within_bound"))
  }

  /** The production (one-pass) form of [[bootstrapQuantileCi]]: the CI
    * over the per-replicate SKETCH estimates — no exact sort anywhere,
    * so the whole readout is one scan into one mergeable aggregate
    * plus dictionary-sized (group x replicate) post-processing. The
    * endpoints inherit the sketch's self-reported rank-error bound
    * (priced, per replicate, by the audit form's all_within_bound);
    * use [[bootstrapQuantileCi]] when the CI must replay bit-for-bit
    * cross-engine. */
  def bootstrapQuantileSketchOnly(df: DataFrame, groupCol: String,
                                  valueCol: String, idCol: String,
                                  p: Double = 0.5, b: Int = 50,
                                  sketchK: Int = 64): DataFrame = {
    require(b >= 10 && b <= 1000, s"replicates in [10, 1000], got $b")
    require(p > 0 && p < 1, s"quantile p in (0, 1), got $p")
    val base = bootstrapBase(df, groupCol, valueCol, idCol)
    val sk = poissonReplicates(base, b).filter(col("__w") > 0)
      .groupBy(col("__g"), col("__b"))
      .agg(call_function("kll_quantiles_w", col("__x"),
        col("__w").cast("long"), lit(sketchK), array(lit(p))).as("__sk"))
      .select(col("__g"), col("__b"), element_at(col("__sk.est"), 1).as("__q"))
    val sel = percentileCi(sk, "__q")
    val overall = base.groupBy("__g").agg(count(lit(1)).as("n"))
    overall.join(sel, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("b_eff"),
        round(col("__lo"), 6).as("ci_lo"),
        round(col("__hi"), 6).as("ci_hi"))
  }

  /** Benjamini-Hochberg FDR over a PANEL of per-segment two-proportion
    * tests: each segment's positive rate is z-tested against the pooled
    * global rate, the two-sided p-value comes from the Abramowitz &
    * Stegun 7.1.26 normal-CDF polynomial (pure exp + fixed arithmetic —
    * both engines run the IDENTICAL tree, so cross-engine equality is
    * by mirroring, not by the approximation's 1.5e-7 accuracy), and the
    * BH step-up rule marks the rejected segments at FDR level `q`:
    * k* = max{ i : p_(i) <= i*q/m }, reject ranks <= k*. The panel
    * answer to "which segments actually drifted?" that per-segment
    * alpha = 0.05 testing gets wrong m times over.
    *
    * Scale shape: ONE segment aggregate (map-side combined), then
    * everything — ranks included — runs on the segments-sized frame.
    * Output: (segment, n, n_pos, z, p_value, p_rank, rejected). */
  def bhFdr(df: DataFrame, segCol: String, pos: Column,
            q: Double = 0.1): DataFrame = {
    require(q > 0 && q < 1, s"FDR level q in (0,1), got $q")
    val per = df.filter(col(segCol).isNotNull)
      .groupBy(col(segCol).as("segment"))
      .agg(count(lit(1)).as("n"), count(when(pos, 1)).as("n_pos"))
    val glob = per.agg(sum("n").as("__gn"), sum("n_pos").as("__gx"),
      count(lit(1)).as("__m"))
    val p0 = col("__gx").cast("double") / col("__gn").cast("double")
    val ps = col("n_pos").cast("double") / col("n").cast("double")
    // r10: pooled rate 0 or 1 makes the z denominator sqrt(0) — the
    // test is undefined, so read out NULL z/p/rejected loudly instead
    // of NaN comparisons silently reporting rejected=false (r9 ADVICE)
    val degen = (col("__gx") === lit(0L)) || (col("__gx") === col("__gn"))
    val z = when(degen, lit(null).cast("double")).otherwise(
      (ps - p0) / sqrt((p0 * (lit(1.0) - p0)) / col("n").cast("double")))
    val az = abs(col("__z"))
    // A&S 7.1.26 in Horner form; 0.3989422804014327 = 1/sqrt(2*pi)
    val t = lit(1.0) / (lit(1.0) + (lit(0.2316419) * az))
    val pd = exp(-(az * az) / lit(2.0)) * lit(0.3989422804014327)
    val poly = t * (lit(0.319381530) + (t * (lit(-0.356563782) +
      (t * (lit(1.781477937) + (t * (lit(-1.821255978) +
        (t * lit(1.330274429)))))))))
    val withP = per.crossJoin(broadcast(glob))
      .withColumn("__z", z)
      .withColumn("__p", lit(2.0) * (pd * poly))
    val ranked = Ordinals.withGlobalRank(withP,
      Seq(col("__p").asc, col("segment").asc), "p_rank")
    val thresh = (col("p_rank").cast("double") * lit(q)) /
      col("__m").cast("double")
    val kstar = ranked
      .agg(max(when(col("__p") <= thresh, col("p_rank"))).as("__k"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("segment"), col("n"), col("n_pos"),
        round(col("__z"), 6).as("z"),
        round(col("__p"), 6).as("p_value"),
        col("p_rank"),
        when(col("__p").isNull, lit(null).cast("boolean"))
          .otherwise(coalesce(col("p_rank") <= col("__k"), lit(false)))
          .as("rejected"))
  }

  /** Brown-Forsythe test (the median-based Levene) of variance
    * homogeneity across groups: [[anovaF]] applied to z = |x - med_g|.
    * The robust "did the SPREAD drift?" companion of a31 (which tests
    * means) and a28/a41 (which test whole distributions) — the standard
    * pre-check before pooling variances or trusting a t-test.
    *
    * Scale shape: per-group EXACT medians ride the
    * [[Ordinals.withPerKeyRank]] per-key running count (one range sort, no
    * per-key reducer — a 50 TB majority group spreads across
    * partitions) + a broadcast group-size dictionary; z is map-only;
    * the F statistic reuses anovaF's exact integer-thousandths fold.
    * Median convention: midpoint of the middle pair (exactMedian's). */
  def leveneBf(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
    val sizes = base.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__ng"))
    val ranked = Ordinals.withPerKeyRank(base, groupCol,
      Seq(col(valueCol).asc), "__r")
    val meds = ranked.join(broadcast(sizes), col(groupCol) <=> col("__g"))
      .filter((col("__r") === floor((col("__ng") + lit(1L)) / lit(2.0))) ||
        (col("__r") === (floor(col("__ng") / lit(2.0)) + lit(1L))))
      .groupBy(col("__g")).agg(avg(col(valueCol).cast("double")).as("__med"))
    val z = base.join(broadcast(meds), col(groupCol) <=> col("__g"))
      .withColumn("__z", abs(col(valueCol).cast("double") - col("__med")))
      .drop("__g", "__med")
    anovaF(z, groupCol, "__z")
  }

  /** Weight-of-evidence / information-value report for a categorical
    * feature against a binary outcome: one row per category
    * (category, n_pos, n_neg, woe, iv_term), IV = Σ iv_term. The credit
    * -scoring staple a feature pipeline runs to rank candidate
    * categoricals by predictive strength (IV < 0.02 useless, > 0.5
    * suspicious) — the binary-target counterpart of [[mutualInformation]].
    *
    * Scale shape: the contingency rows come from ONE map-side-combined
    * aggregate over the scan (categories-sized after it); totals
    * re-aggregate the CELLS. Exactness: Laplace smoothing (+0.5 per
    * class cell, +0.5·k on the totals — the [[psiReport]] convention)
    * keeps empty cells finite and deterministic; woe/iv trees are fixed
    * double expressions over exact integer counts, rounded to 6. */
  def woeIv(df: DataFrame, featureCol: String, pos: Column): DataFrame = {
    val cells = df.filter(col(featureCol).isNotNull)
      .groupBy(col(featureCol).as("category"))
      .agg(count(when(pos, 1)).as("n_pos"),
        count(when(!pos, 1)).as("n_neg"))
    val tot = cells.agg(sum("n_pos").as("__tp"), sum("n_neg").as("__tn"),
      count(lit(1)).as("__k"))
    val kHalf = col("__k").cast("double") * lit(0.5)
    val pPos = (col("n_pos").cast("double") + lit(0.5)) /
      (col("__tp").cast("double") + kHalf)
    val pNeg = (col("n_neg").cast("double") + lit(0.5)) /
      (col("__tn").cast("double") + kHalf)
    val woe = log(pPos / pNeg)
    cells.crossJoin(broadcast(tot))
      .select(col("category"), col("n_pos"), col("n_neg"),
        round(woe, 6).as("woe"),
        round((pPos - pNeg) * woe, 6).as("iv_term"))
  }

  /** Jensen–Shannon divergence (nats) between the `keyCol` category
    * distributions of slices `aVal` and `bVal` of `groupCol`: one row
    * (n_a, n_b, js_div). The symmetric, bounded (≤ ln 2) drift measure
    * for CATEGORICAL columns — the companion to [[ksTest]] (numeric
    * CDFs) and [[psiReport]] (binned numeric): JS never blows up on a
    * category present in one slice only, where raw KL is infinite.
    *
    * Scale shape: per-category counts for both slices in ONE
    * map-side-combined aggregate; everything after is
    * categories-sized. Exactness: each side's terms (p·ln(2p/(p+q)),
    * with 0·ln0 = 0 handled by a count>0 guard) are fixed double trees
    * over exact integer counts, rounded to 9 and DECIMAL-summed —
    * order-independent, bit-replayable. */
  def jsDrift(df: DataFrame, groupCol: String, keyCol: String,
              aVal: String, bVal: String): DataFrame = {
    val cells = df
      .filter(col(groupCol).isin(aVal, bVal) && col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("__key"))
      .agg(count(when(col(groupCol) === aVal, 1)).as("__na"),
        count(when(col(groupCol) === bVal, 1)).as("__nb"))
    val tot = cells.agg(sum("__na").as("__ta"), sum("__nb").as("__tb"))
    val p = col("__na").cast("double") / col("__ta").cast("double")
    val q = col("__nb").cast("double") / col("__tb").cast("double")
    val termA = when(col("__na") > 0,
      p * log((lit(2.0) * p) / (p + q))).otherwise(lit(0.0))
    val termB = when(col("__nb") > 0,
      q * log((lit(2.0) * q) / (p + q))).otherwise(lit(0.0))
    cells.crossJoin(broadcast(tot))
      .groupBy(col("__ta").cast("long").as("n_a"),
        col("__tb").cast("long").as("n_b"))
      .agg(sum(round(termA, 9).cast("decimal(28,9)")).as("__ja"),
        sum(round(termB, 9).cast("decimal(28,9)")).as("__jb"))
      .select(col("n_a"), col("n_b"),
        round((col("__ja").cast("double") + col("__jb").cast("double"))
          * lit(0.5), 6).as("js_div"))
  }

  /** Delete-one-block jackknife standard error of the mean of
    * `valueCol`: one row (n, k, mean, jackknife_se). The
    * distribution-free uncertainty estimate for a pipeline-level
    * metric ("the corpus mean quality is 0.73 ± what?") — blocks are
    * the deterministic residues of `idCol` mod k, so the estimate is
    * replayable; leave-one-out means come from complement-of-block
    * sums, so no per-block pass exists.
    *
    * Scale shape: ONE map-side-combined aggregate produces the k block
    * (count, sum) cells; everything after is k-rows-sized. Exactness:
    * block sums accumulate in DECIMAL(18,6); the k leave-one-out means
    * and their squared deviations are fixed double trees, each rounded
    * to 9 and DECIMAL-summed — order-independent, bit-replayable.
    * Blocks with no non-null value still count as draws (their
    * leave-one-out mean is the full mean); only residues absent from
    * the data entirely reduce the effective k. */
  def jackknifeSe(df: DataFrame, valueCol: String, idCol: String,
                  k: Int = 10): DataFrame = {
    require(k >= 2, s"need at least 2 blocks, got $k")
    val v = col(valueCol).cast("decimal(18,6)")
    val cells = df.groupBy(pmod(col(idCol), lit(k)).as("__b"))
      .agg(count(v).as("__nb"), sum(v).as("__sb"))
    val tot = cells.agg(sum("__nb").as("__n"), sum("__sb").as("__s"),
      count(lit(1)).as("__k"))
    val looMean = (col("__s") - coalesce(col("__sb"), lit(0))).cast("double") /
      (col("__n") - col("__nb")).cast("double")
    val withTot = cells.crossJoin(broadcast(tot))
    val thetaBar = withTot
      .agg(first(col("__n")).as("__n"), first(col("__s")).as("__s"),
        first(col("__k")).as("__k"),
        (sum(round(looMean, 9).cast("decimal(28,9)")).cast("double")
          / first(col("__k")).cast("double")).as("__tbar"))
    val dev = looMean - col("__tbar")
    val kD = col("__k").cast("double")
    cells.crossJoin(broadcast(thetaBar))
      .groupBy(col("__n"), col("__k"), col("__s"), col("__tbar"))
      .agg(sum(round(dev * dev, 9).cast("decimal(28,9)")).cast("double")
        .as("__ss"))
      .select(col("__n").cast("long").as("n"),
        col("__k").cast("long").as("k"),
        round(col("__s").cast("double") / col("__n").cast("double"), 6)
          .as("mean"),
        round(sqrt(((kD - lit(1.0)) / kD) * col("__ss")), 6)
          .as("jackknife_se"))
  }

  /** Gini concentration coefficient of a non-negative `valueCol`: one
    * row (n, total, gini) with G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx)
    * over the ascending order — "how concentrated is the corpus across
    * documents/sources?" (G=0 everyone equal, G→1 one row holds
    * everything). The Lorenz-curve number behind the a1/a3 frequency
    * reports.
    *
    * Scale shape: the global rank rides [[Ordinals.withGlobalRank]]'s
    * range-partitioned prefix sum (the one sort a total order needs —
    * same budget as [[ksTest]]'s CDFs), then ONE aggregate folds the
    * rank-weighted sum. Exactness: values enter as integer thousandths
    * and rank·x products stay in DECIMAL(38,0), so both sums are exact
    * integers under any partitioning; ties are rank-order invariant
    * (equal x at any permutation of adjacent ranks gives the same
    * Σ rank·x). `tieCols` must complete a total order for deterministic
    * ranks. */
  def gini(df: DataFrame, valueCol: String, tieCols: Seq[String]): DataFrame = {
    val m = round(col(valueCol) * lit(1000), 0).cast("decimal(19,0)")
    val sortAliases = (col(valueCol).cast("double") +: tieCols.map(col))
      .zipWithIndex.map { case (c, i) => c.as(s"__t$i") }
    val vals = df.filter(col(valueCol).isNotNull)
      .select(m.as("__m") +: sortAliases: _*)
    val ranked = Ordinals.withGlobalRank(vals,
      (0 to tieCols.size).map(i => col(s"__t$i").asc), "__r")
    ranked.agg(count(lit(1)).as("__n"), sum(col("__m")).as("__sx"),
        sum(col("__r").cast("decimal(19,0)") * col("__m")).as("__srx"))
      .select(col("__n").cast("long").as("n"),
        round(col("__sx").cast("double") / lit(1000.0), 6).as("total"),
        round(((lit(2.0) * col("__srx").cast("double"))
          - ((col("__n").cast("double") + lit(1.0))
            * col("__sx").cast("double")))
          / (col("__n").cast("double") * col("__sx").cast("double")), 6)
          .as("gini"))
  }

  /** Two-proportion z-test between the success RATES of two slices:
    * one row (n_a, k_a, n_b, k_b, rate_diff, z_stat) with the pooled
    * standard error — the conversion-rate A/B companion to [[welchT]]
    * (means) and [[chiSquare]] (independence): "did segment B purchase
    * at a different rate than segment A?". One aggregate of four exact
    * longs; z is a fixed double tree over them, so it replays
    * bit-for-bit. (p-value lookup is driver-side, as everywhere.) */
  def twoProportionZ(df: DataFrame, groupCol: String, success: Column,
                     aVal: String, bVal: String): DataFrame = {
    val s = df.agg(
      count(when(col(groupCol) === aVal, 1)).as("n_a"),
      count(when(col(groupCol) === aVal && success, 1)).as("k_a"),
      count(when(col(groupCol) === bVal, 1)).as("n_b"),
      count(when(col(groupCol) === bVal && success, 1)).as("k_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("k_a").cast("double") / na
    val pb = col("k_b").cast("double") / nb
    val pool = (col("k_a") + col("k_b")).cast("double") / (na + nb)
    val se = sqrt((pool * (lit(1.0) - pool)) *
      ((lit(1.0) / na) + (lit(1.0) / nb)))
    s.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      round(pa - pb, 6).as("rate_diff"),
      round((pa - pb) / se, 6).as("z_stat"))
  }

  /** CUSUM changepoint scan over the hourly total-value series: one row
    * (n_hours, changepoint_us, max_abs_cusum, cusum_share) locating
    * where the cumulative deviation from the global mean peaks — the
    * classic "when did the level shift?" estimator (the argmax of
    * |Σ_{i≤t}(y_i − ȳ)| is the maximum-likelihood single changepoint
    * under a mean-shift model). The retrospective companion to the
    * streaming [[graft.streaming.Streams.windowDrift]] monitor.
    *
    * Scale shape: the series is span-sized; its prefix sum and hour
    * index ride one [[Ordinals.withRunningTotals]] node. Exactness: y
    * enters as integer thousandths (exact doubles below 2^53), so the
    * prefix is exact and CUSUM_t = P_t − t·(S/N) is one fixed tree;
    * the argmax picks by (|cusum| desc, hour asc) — a total order.
    * cusum_share = max|CUSUM| / Σ|y − ȳ| is the scale-free strength
    * in [0, 1]. */
  def cusumChangepoint(df: DataFrame, tsCol: String,
                       valueCol: String): DataFrame = {
    val hourly = df.filter(col(valueCol).isNotNull)
      .groupBy(date_trunc("hour", col(tsCol)).as("__h"))
      .agg(sum(round(col(valueCol) * lit(1000), 0).cast("decimal(19,0)"))
        .as("__ym"))
    val series = hourly.select(unix_micros(col("__h")).as("__hu"),
      col("__ym").cast("double").as("__y"))
    val withIdx = Ordinals.withRunningTotals(series.withColumn("__one", lit(1.0)),
      Seq(col("__hu").asc), Seq("__y" -> "__p", "__one" -> "__t"))
    val tot = series.agg(count(lit(1)).as("__n"), sum("__y").as("__s"))
    val mean = col("__s") / col("__n").cast("double")
    val cusum = col("__p") - (col("__t").cast("double") * mean)
    val dev = abs(col("__y") - mean)
    val scored = withIdx.crossJoin(broadcast(tot))
      .select(col("__hu"), abs(cusum).as("__a"),
        round(dev, 9).cast("decimal(28,9)").as("__d"), col("__n"))
    scored.groupBy(col("__n").cast("long").as("n_hours"))
      .agg(max(struct(col("__a"), (-col("__hu")).as("__nh"))).as("__best"),
        sum("__d").cast("double").as("__td"))
      .select(col("n_hours"), (-col("__best.__nh")).as("changepoint_us"),
        round(col("__best.__a") / lit(1000.0), 6).as("max_abs_cusum"),
        round(col("__best.__a") / col("__td"), 6).as("cusum_share"))
  }

  /** PSI drift for MANY feature columns in one shared batch: one row
    * per (column, bin) — (column, bin, n_ref, n_cur, psi_term) — with
    * the exact [[psiReport]] semantics per column (reference-decile
    * cuts, lower-bin ties, +0.5 Laplace smoothing, cut multiplicity
    * preserved). The "drift the whole feature table before admitting
    * the drop" pass.
    *
    * Scale shape: ALL columns' decile cuts come from ONE
    * [[Relational.exactValuesAtRanks]] batch (~4 shared scans of the
    * reference slice however many columns), and ONE counting scan
    * (per-column bucket structs exploded, map-side combined) produces
    * every column's bin counts for both slices — ~5 passes total at
    * any column count, vs 2 sorts + 2 scans PER COLUMN for repeated
    * [[psiReport]] calls. Null cells contribute to no bin of their
    * column (matching psiReport's isNotNull), and totals re-aggregate
    * the CELLS. */
  def psiPanel(df: DataFrame, groupCol: String, valueCols: Seq[String],
               refVal: String, curVal: String, bins: Int = 10): DataFrame = {
    require(valueCols.nonEmpty, "psiPanel: no value columns")
    val spark = df.sparkSession
    val ref = df.filter(col(groupCol) === refVal)
      .select(valueCols.map(c => col(c).cast("double").as(c)): _*)
    val ranksByCol = scala.collection.mutable.Map.empty[String, Seq[Long]]
    val cutVals = Relational.exactValuesAtRanks(ref, valueCols, (c, n) => {
      require(n >= bins.toLong,
        s"reference slice has $n non-null rows of $c; need >= $bins")
      val ranks = (1 until bins).map(b => b.toLong * n / bins)
      ranksByCol(c) = ranks
      ranks.distinct
    })
    val entries = valueCols.map { c =>
      val v = col(c).cast("double")
      val cuts = ranksByCol(c).map(cutVals(c)) // multiplicity kept
      val bucket = cuts.foldLeft(lit(1L)) { (acc, cut) =>
        acc + when(v > lit(cut), 1L).otherwise(0L) }
      when(v.isNotNull, struct(lit(c).as("c"), bucket.as("bin")))
    }
    val counts = df.filter(col(groupCol).isin(refVal, curVal))
      .select(col(groupCol).as("__g"), explode(array(entries: _*)).as("e"))
      .filter(col("e").isNotNull)
      .groupBy(col("e.c").as("column"), col("e.bin").as("__bin"))
      .agg(count(when(col("__g") === refVal, 1)).as("n_ref"),
        count(when(col("__g") === curVal, 1)).as("n_cur"))
    val tot = counts.groupBy("column")
      .agg(sum("n_ref").as("__tr"), sum("n_cur").as("__tc"))
    import spark.implicits._
    val spine = valueCols.toDF("column")
      .crossJoin(spark.range(1, bins + 1).select(col("id").as("__bin")))
    val pRef = (col("n_ref").cast("double") + lit(0.5)) /
      (col("__tr").cast("double") + lit(0.5 * bins))
    val pCur = (col("n_cur").cast("double") + lit(0.5)) /
      (col("__tc").cast("double") + lit(0.5 * bins))
    spine.join(counts, Seq("column", "__bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .join(broadcast(tot), "column")
      .select(col("column"), col("__bin").as("bin"), col("n_ref"),
        col("n_cur"),
        round((pCur - pRef) * log(pCur / pRef), 6).as("psi_term"))
  }

  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
    val rowTot = cells.groupBy("__a").agg(sum("__o").as("__ra"))
    val colTot = cells.groupBy("__b").agg(sum("__o").as("__rb"))
    val tot = cells.agg(sum("__o").as("__n"),
      countDistinct("__a").as("__ka"), countDistinct("__b").as("__kb"))
    val exp = (col("__ra").cast("double") * col("__rb").cast("double")) /
      col("__n").cast("double")
    // r9: fold over the FULL marginal grid — empty cells carry
    // (0-e)^2/e mass (see cramersV; a perfect 2x2 association has half
    // its chi2 in the two zero cells)
    val o = coalesce(col("__o"), lit(0L)).cast("double")
    val term = ((o - exp) * (o - exp)) / exp
    rowTot.crossJoin(colTot)
      .join(cells, Seq("__a", "__b"), "left")
      .crossJoin(broadcast(tot))
      .agg(first(col("__n")).as("n"),
        first((col("__ka") - 1) * (col("__kb") - 1)).as("dof"),
        sum(round(term, 9).cast("decimal(28,9)")).cast("double").as("chi2"))
      .select(col("n"), col("dof"), round(col("chi2"), 6).as("chi2"))
  }
}
