package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ml.{Compare, Inference}
import graft.io.TrialLog
import Q.QueryFn

/** Driver-checked queries for the remaining inventory items: question
  * templates (S10), trial log (S12), target heuristic (M17), multi-model
  * compare (M5 — metric values deterministic, timing dropped).
  */
object MiscQueries {

  val queries: Map[String, QueryFn] = Map(
    "q10_rollup" -> ((s, dir) =>
      // multi-level aggregation surface: ROLLUP over (returnflag,
      // linestatus) with grouping_id — subtotal and grand-total rows in
      // one pass (Catalyst expands to grouping sets; quantities are
      // integer-valued doubles, so the sums are order-exact)
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))),

    "q17_set_ops" -> ((s, dir) => {
      // INTERSECT / EXCEPT surface (set semantics, deduplicating):
      // customers with a big order AND a finished order vs big-order
      // customers with none finished
      val ord = Tables.orders(s, dir)
      val big = ord.filter(col("o_totalprice") > 250000).select("o_custkey")
      val fin = ord.filter(col("o_orderstatus") === "F").select("o_custkey")
      big.intersect(fin).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
        .unionByName(
          big.except(fin).agg(count(lit(1)).as("n")).withColumn("op", lit("except")))
    }),

    "q11_cube" -> ((s, dir) =>
      // full CUBE over (returnflag, linestatus): all four grouping-set
      // levels in one pass — the remaining multi-level aggregation
      // surface beyond q10's ROLLUP (Catalyst's Expand feeds one hash
      // aggregate; integer-valued quantities keep the sums order-exact)
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))),

    "q18_funnel" -> ((s, dir) =>
      // ordered funnel analytics (r6): which step of view -> click ->
      // purchase each user reached, all steps within 7 days of their
      // FIRST view and strictly time-increasing — composed from
      // type-filtered scans + user-keyed min-joins, no sequence scan;
      // all comparisons integer microseconds, fully engine-exact
      graft.ops.Funnel.funnelSteps(Tables.events(s, dir), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        windowMicros = 7L * 24 * 3600 * 1000000)),

    "q20_sessionize" -> ((s, dir) =>
      // batch gap-rule sessionization (r6): a session breaks after 30
      // idle minutes; lag + running count share ONE user-keyed window
      // (one exchange, one sort), all arithmetic integer microseconds
      graft.ops.Timeseries.sessionize(Tables.events(s, dir),
        "user_id", "ts", "event_id", gapMicros = 30L * 60 * 1000000)),

    "q21_resample" -> ((s, dir) =>
      // daily calendar resample with LOCF gap fill (r6): per-user day
      // grid from a min/max aggregate + sequence explode (map-only),
      // day sums in DECIMAL (order-exact), fill carries the emitted
      // double bit-for-bit
      graft.ops.Timeseries.resampleDailyLocf(Tables.events(s, dir),
        "user_id", "ts", "value")),

    "a20_moments" -> ((s, dir) =>
      // distribution shape per event type (r6): skewness/kurtosis from
      // exact DECIMAL power sums — order-independent under any
      // partitioning, final formulas one fixed double tree
      graft.ops.Audit.momentStats(Tables.events(s, dir), "event_type",
        "value")),

    "a21_chi2" -> ((s, dir) =>
      // chi-square independence (r6): event_type x value-band
      // contingency in one groupBy; marginals re-aggregate the CELLS,
      // cell terms rounded + decimal-summed (order-free)
      graft.ops.Audit.chiSquare(
        Tables.events(s, dir).withColumn("band",
          when(col("value") >= 100, lit("hi")).otherwise(lit("lo"))),
        "event_type", "band")),

    "q22_rolling_range" -> ((s, dir) =>
      // trailing-1-hour rolling count/sum per user (r6): a RANGE frame
      // over integer microseconds — peers of the current timestamp are
      // in-frame in both engines; the sum accumulates DECIMAL so frame
      // addition order can't flip a bit
      graft.ops.Timeseries.rollingRange(Tables.events(s, dir),
        "user_id", "ts", "value", windowMicros = 3600000000L)),

    "q23_scd2_islands" -> ((s, dir) =>
      // gaps-and-islands run-length encoding (r6): consecutive
      // same-type event runs per user collapse to interval rows — the
      // SCD type-2 build step; island key = difference of two
      // row_numbers sharing one exchange
      graft.ops.Timeseries.stateIslands(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")),

    "a22_mutual_info" -> ((s, dir) =>
      // mutual information + marginal entropies (r6): same contingency
      // scan as a21; each term's ln tree is engine-identical, rounded
      // to 9 and DECIMAL-summed (order-free)
      graft.ops.Audit.mutualInformation(
        Tables.events(s, dir).withColumn("band",
          when(col("value") >= 100, lit("hi")).otherwise(lit("lo"))),
        "event_type", "band")),

    "a23_melt" -> ((s, dir) =>
      // wide-to-long unpivot (pandas melt) (r6): four measure columns
      // become (metric, value) rows — map-only Expand, zero shuffles,
      // values pass through bit-identical
      Tables.lineitem(s, dir).unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")),

    "q24_rank_surface" -> ((s, dir) => {
      // remaining analytic-rank surface (r6): percent_rank / cume_dist /
      // ntile / dense_rank per user over (value, event_id) — a total
      // order, so every rank is deterministic; percent_rank and
      // cume_dist are integer ratios in double (exact cross-engine)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
      Tables.events(s, dir).select(
        col("user_id"), col("event_id"),
        round(percent_rank().over(w), 9).as("pr"),
        round(cume_dist().over(w), 9).as("cd"),
        ntile(4).over(w).as("quartile"),
        dense_rank().over(w).as("dr"))
    }),

    "q25_salted_agg" -> ((s, dir) =>
      // two-phase salted aggregation (r6): the hot-key mitigation AQE
      // can't apply to aggregates — phase 1 groups on (key, salt),
      // phase 2 merges partials per key; DECIMAL sums make the result
      // salt- and partitioning-invariant, which the oracle's plain
      // GROUP BY proves
      graft.ops.Skew.saltedAggregate(Tables.events(s, dir),
        "event_type", buckets = 8,
        partials = Seq(count(lit(1)).as("__c"),
          sum(col("value").cast("decimal(18,6)")).as("__s")),
        merges = Seq(sum(col("__c")).as("n"),
          sum(col("__s")).cast("double").as("sum_value")))),

    "a24_mad_outliers" -> ((s, dir) =>
      // robust outlier report (r6): median + MAD via rank-selection
      // (no value buffering), |x - med| > 3 * 1.4826 * MAD verdict
      graft.ops.Audit.madOutliers(Tables.lineitem(s, dir),
        "l_extendedprice")),

    "q26_cumulative_users" -> ((s, dir) =>
      // growth accounting (r6): new + cumulative first-seen users per
      // day; the cumulative rides the RunningTotal distributed prefix
      // sum, not a keyless window
      graft.ops.Timeseries.cumulativeFirstSeen(Tables.events(s, dir),
        "user_id", "ts")),

    "q27_cohort_retention" -> ((s, dir) =>
      // weekly cohort retention matrix (r6): cohort = first-seen week,
      // retention = active share k weeks later — integer counts, one
      // entity-keyed join, cells-sized output
      graft.ops.Timeseries.cohortRetention(Tables.events(s, dir),
        "user_id", "ts")),

    "q28_transition_matrix" -> ((s, dir) =>
      // first-order Markov transitions between event types (r6): one
      // lag over the user-keyed window, integer counts, row-normalized
      graft.ops.Timeseries.transitionMatrix(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")),

    "a25_welch_t" -> ((s, dir) =>
      // Welch two-sample t (r6): click vs view value distributions;
      // exact integer sufficient sums, one fixed double tree
      graft.ops.Audit.welchT(Tables.events(s, dir), "event_type",
        "value", "click", "view")),

    "q29_rfm" -> ((s, dir) =>
      // RFM segmentation (r6): recency/frequency/monetary + quartile
      // scores; ranks ride the RunningTotal prefix sum (window-free),
      // quartile = floor((rank-1)*4/n)+1 in exact integer arithmetic
      graft.ops.Timeseries.rfmSegments(Tables.events(s, dir),
        "user_id", "ts", "value")),

    "q30_twap" -> ((s, dir) =>
      // time-weighted average (r6): one lead over the user-keyed
      // window; integer-microsecond weights, DECIMAL weighted sums
      graft.ops.Timeseries.twap(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value")),

    "q31_ohlc" -> ((s, dir) =>
      // hourly OHLC candles (r6): open/close as min/max-struct argmins
      // under the (epoch, id) total order — one aggregate, no window
      graft.ops.Timeseries.ohlcBars(Tables.events(s, dir),
        "user_id", "ts", "event_id", "value")),

    "a26_benford" -> ((s, dir) =>
      // Benford first-digit audit (r6): digits via integer cents +
      // string head (portable — no floor(log10) libm hazard),
      // expectations as shared literals
      graft.ops.Audit.benfordAudit(Tables.lineitem(s, dir),
        "l_extendedprice")),

    "a28_ks_drift" -> ((s, dir) =>
      // two-sample KS drift check (r8): click-vs-view value CDFs; the
      // sup|F_a - F_b| numerator is an exact integer max over the
      // RunningTotal distributed CDF, so the statistic is a ratio of
      // longs — no float summation order anywhere
      graft.ops.Audit.ksTest(Tables.events(s, dir), "event_type",
        "value", "click", "view")),

    "a27_psi" -> ((s, dir) =>
      // PSI drift report (r8): reference-decile bins from distributed
      // rank selection (integer cut ranks, lower-bin tie rule), one
      // counting pass for both slices, Laplace-smoothed terms
      graft.ops.Audit.psiReport(Tables.events(s, dir), "event_type",
        "value", "click", "view", bins = 10)),

    "a45_bh_fdr" -> ((s, dir) =>
      // Benjamini-Hochberg FDR panel (r9): 20 event segments z-tested
      // against the pooled click rate; two-sided p via the A&S 7.1.26
      // polynomial (identical tree both engines), BH step-up at q=0.1
      graft.ops.Audit.bhFdr(
        Tables.events(s, dir)
          .withColumn("seg", pmod(col("event_id"), lit(20L))),
        "seg", col("event_type") === "click", q = 0.1)),

    "a45b_bh_fdr_degen" -> ((s, dir) =>
      // planted degenerate pool (r13, e8b/a14b audit pattern): every
      // event is a click, so the pooled rate is 1 and the z denominator
      // is sqrt(0) — the r10 NULL-readout branch (z/p/rejected all NULL)
      // must survive the oracle, not just the spec. Rank order with
      // all-NULL p collapses to segment asc in BOTH engines (Spark
      // nulls-first vs DuckDB nulls-last only differ when NULL p MIXES
      // with non-NULL).
      graft.ops.Audit.bhFdr(
        Tables.events(s, dir).filter(col("event_type") === "click")
          .withColumn("seg", pmod(col("event_id"), lit(20L))),
        "seg", col("event_type") === "click", q = 0.1)),

    "a44_levene" -> ((s, dir) =>
      // Brown-Forsythe variance-homogeneity test (r9): ANOVA-F on
      // |x - exact group median|; medians via the per-key global-rank
      // trick (one range sort, broadcast size dictionary)
      graft.ops.Audit.leveneBf(Tables.lineitem(s, dir), "l_returnflag",
        "l_quantity")),

    "a46_kll_quantiles" -> ((s, dir) =>
      // mergeable quantile sketch (r10): per-returnflag price
      // percentiles from the native kll_quantiles aggregate, verified
      // by the exact-vs-bound contract — n and exact_value are
      // cross-engine exact, within_bound is the in-engine proof that
      // the (order-dependent) estimate's true rank sits inside the
      // sketch's self-reported worst-case bound; k=64 forces real
      // compactions at every SF (per-flag groups are ~15k+ rows)
      graft.ops.Quantiles.sketchQuantileAudit(Tables.lineitem(s, dir),
        "l_extendedprice", "l_returnflag",
        Seq(0.25, 0.5, 0.75, 0.9, 0.99), k = 64)),

    "a47_bootstrap_ci" -> ((s, dir) =>
      // Poisson-bootstrap mean CI (r10): 50 one-pass hash-weighted
      // replicates per event_type, percentile interval over the
      // replicate means — deterministic under any partitioning (the
      // weight is a function of (row id, replicate), not arrival
      // order), so the interval itself is full-oracle
      graft.ops.Audit.bootstrapCi(Tables.events(s, dir), "event_type",
        "value", "event_id", b = 50)),

    "a48_bootstrap_quantile_ci" -> ((s, dir) =>
      // Poisson-bootstrap MEDIAN CI (r11: a47 x a46) — same one-pass
      // replicate weights; CI endpoints from the EXACT per-replicate
      // weighted medians (cell-sized RunningTotal + integer rank
      // selection, full-oracle), all_within_bound proves each
      // replicate's one-pass KLL estimate sits inside its
      // self-reported weighted-rank interval — the 100 TB path where
      // the exact sort is replaced by the sketch
      graft.ops.Audit.bootstrapQuantileCi(Tables.events(s, dir),
        "event_type", "value", "event_id", p = 0.5, b = 50,
        sketchK = 64)),

    "a41_mann_whitney" -> ((s, dir) =>
      // Mann-Whitney rank-sum drift test (r9): click-vs-view value
      // distributions; tied-group average ranks from ONE RunningTotal
      // over the value-group table, exact integer rank sums, fixed
      // double tree for the tie-corrected z
      graft.ops.Audit.mannWhitney(Tables.events(s, dir), "event_type",
        "value", "click", "view")),

    "a42_cramers_v" -> ((s, dir) =>
      // Cramer's V effect size (r9, a21's companion): status x priority
      // contingency, one dictionary-sized aggregate, 9-decimal
      // DECIMAL-summed cell terms, V = sqrt(chi2/(n*(min(k)-1)))
      graft.ops.Audit.cramersV(Tables.orders(s, dir), "o_orderstatus",
        "o_orderpriority")),

    "a43_spearman" -> ((s, dir) =>
      // Spearman rho (r9): average-rank dictionaries from RunningTotal
      // (no per-row window), exact integer doubled-rank moments, one
      // Pearson tree
      graft.ops.Audit.spearman(Tables.lineitem(s, dir), "l_quantity",
        "l_extendedprice")),

    "a29_woe_iv" -> ((s, dir) =>
      // weight-of-evidence / information-value report (r8): per
      // event_type, how predictive is it of a high-value event? One
      // contingency aggregate; Laplace-smoothed fixed double trees
      graft.ops.Audit.woeIv(Tables.events(s, dir), "event_type",
        col("value") >= 100)),

    "a30_js_drift" -> ((s, dir) =>
      // Jensen-Shannon drift between the value-band distributions of
      // clicks vs views (r8) — the categorical companion to a28/a27;
      // bands are a map-only integer cut, terms DECIMAL-summed
      graft.ops.Audit.jsDrift(
        Tables.events(s, dir)
          .withColumn("vband", floor(col("value") / lit(50.0)).cast("int")),
        "event_type", "vband", "click", "view")),

    "a31_anova_f" -> ((s, dir) =>
      // one-way ANOVA F across event types (r8): does mean value differ
      // by type? One integer-thousandths aggregate, k-rows after it
      graft.ops.Audit.anovaF(Tables.events(s, dir), "event_type",
        "value")),

    "a32_jackknife_se" -> ((s, dir) =>
      // delete-one-block jackknife SE of the mean (r8): deterministic
      // event_id-residue blocks, complement-of-block leave-one-out
      // means, k-rows after one aggregate
      graft.ops.Audit.jackknifeSe(Tables.events(s, dir), "value",
        "event_id", k = 10)),

    "a33_gini" -> ((s, dir) =>
      // Gini concentration of line revenue (r8): exact integer rank
      // and thousandths sums over the distributed global rank
      graft.ops.Audit.gini(Tables.lineitem(s, dir), "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"))),

    "a40_logrank" -> ((s, dir) =>
      // two-group log-rank (r8): do even- and odd-id user cohorts
      // churn differently? Per-cohort at-risk prefixes over one
      // lifetimes frame; E/V terms round-9 DECIMAL-summed
      graft.ops.Timeseries.logRank(Tables.events(s, dir), "user_id",
        "ts", when(col("user_id") % 2 === 0, "even").otherwise("odd"),
        aVal = "even", horizonHours = 24)),

    "a39_nelson_aalen" -> ((s, dir) =>
      // Nelson-Aalen cumulative hazard (r8): the a34 risk table with
      // d/n and d/n² scaled-integer prefixes — hazard-scale churn
      graft.ops.Timeseries.nelsonAalen(Tables.events(s, dir), "user_id",
        "ts", horizonHours = 24)),

    "a37_two_proportion" -> ((s, dir) =>
      // two-proportion z (r8): purchase rate, even- vs odd-id user
      // segments; one aggregate of four exact longs, fixed z tree
      graft.ops.Audit.twoProportionZ(
        Tables.events(s, dir).withColumn("seg",
          when(col("user_id") % 2 === 0, "even").otherwise("odd")),
        "seg", col("event_type") === "purchase", "even", "odd")),

    "a38_cusum" -> ((s, dir) =>
      // CUSUM changepoint scan (r8): where does the hourly intake's
      // cumulative deviation peak? Exact thousandths prefix on the
      // RunningTotal operator, argmax under a total order
      graft.ops.Audit.cusumChangepoint(Tables.events(s, dir), "ts",
        "value")),

    "a36_psi_panel" -> ((s, dir) =>
      // whole-feature-table PSI (r8): all four numeric lineitem columns
      // drift-checked between returned (R) and accepted (A) lines in
      // ~5 shared passes — ONE exactValuesAtRanks batch for every
      // column's decile cuts + ONE exploded counting scan
      graft.ops.Audit.psiPanel(Tables.lineitem(s, dir), "l_returnflag",
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        refVal = "A", curVal = "R", bins = 10)),

    "a35_pair_rules" -> ((s, dir) =>
      // market-basket pair rules (r8): parts ordered together, apriori
      // item prune before the within-order self-join, explicit
      // mega-basket cap, TakeOrdered top-50 by co-occurrence
      graft.ops.Basket.pairRules(Tables.lineitem(s, dir), "l_orderkey",
        "l_partkey", minSupport = 2L, topK = 50)),

    "a34_kaplan_meier" -> ((s, dir) =>
      // Kaplan-Meier churn curve (r8): per-user lifetimes, 24h-edge
      // right-censoring, exact integer risk arithmetic, scaled-integer
      // log-survival prefix on the RunningTotal operator
      graft.ops.Timeseries.kaplanMeier(Tables.events(s, dir), "user_id",
        "ts", horizonHours = 24)),

    "q34_weighted_median" -> ((s, dir) =>
      // quantity-weighted median price (r8): inclusive cumulative
      // weight on the distributed prefix sum, suffix-min retrieval
      graft.ops.Relational.weightedMedian(Tables.lineitem(s, dir),
        "l_extendedprice", "l_quantity",
        Seq("l_orderkey", "l_linenumber"))),

    "q32_acf" -> ((s, dir) =>
      // autocorrelation of the hourly intake series at lags 1..12 (r8):
      // span-sized series, exact-micros lag equi-join, decimal sums
      graft.ops.Timeseries.acf(Tables.events(s, dir), "ts", "value",
        maxLag = 12)),

    "q35_seasonal_decompose" -> ((s, dir) =>
      // classical additive decomposition at period 24 (r9): centered
      // 2x24-MA trend via a 25-offset broadcast spine join (integer
      // weights over DECIMAL sums), phase-mean seasonal re-centered to
      // sum 0, residual; edge hours carry null trend/residual
      graft.ops.Timeseries.seasonalDecompose(Tables.events(s, dir),
        "ts", "value", period = 24)),

    "q33_mase" -> ((s, dir) =>
      // seasonal-naive MASE at season 24h (r8): |y_t - y_{t-l}| stays
      // DECIMAL end-to-end, both MAEs exact until the final division
      graft.ops.Timeseries.seasonalNaiveMase(Tables.events(s, dir),
        "ts", "value", season = 24)),

    "q12_window_analytics" -> ((s, dir) => {
      // analytic-window surface over the events stream table: per-user
      // event sequence number, previous value (lag), and a 3-row moving
      // sum. Partitioned by user_id — shuffles once on the key, never
      // funnels the frame through one reducer. The moving sum adds the
      // SAME <= 3 doubles in the same ts order in both engines, so
      // rounding it is order-exact.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir).select(
        col("user_id"), col("event_id"),
        row_number().over(w).as("seq"),
        round(lag(col("value"), 1).over(w), 4).as("prev_value"),
        round(sum("value").over(w.rowsBetween(-2, 0)), 4).as("moving_sum3"))
    }),

    "q9_sql_surface" -> ((s, dir) => {
      // the spark.sql(...) surface end-to-end: temp views over the same
      // parquet tables, ANSI SQL with a graft extension function in the
      // projection — proves the SQL entry point plans identically to the
      // DataFrame API (same Catalyst plan underneath)
      // revenue is summed in DECIMAL, not DOUBLE: a float sum's low bits
      // depend on partition order, and rounding one to 2 decimals is not
      // a stable cross-engine contract when the true sum sits within an
      // ulp of a half-cent. The per-row cast double->DECIMAL is
      // deterministic (same parquet double on both sides), the decimal
      // sum is order-exact, and the final CAST AS DOUBLE of the rounded
      // decimal is correctly rounded — bit-identical to the oracle.
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                              (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
               count(*) AS n,
               sum(unicode_sum(l_returnflag)) AS flag_codepoints
        FROM lineitem_v
        WHERE l_quantity >= 10
        GROUP BY l_returnflag""")
    }),

    "s10_question_template" -> ((s, dir) => {
      val t = Inference.questionTemplate(Tables.orders(s, dir),
        Seq("o_orderpriority", "o_orderstatus", "o_totalprice"))
      import s.implicits._
      t.toSeq.map { case (f, choices) =>
        (f, choices.size, if (choices.isEmpty) null else choices.mkString("|"))
      }.toDF("feature", "n_choices", "choices")
    }),

    "s12_trial_log" -> ((s, _) => {
      val path = Q.tempDir("graft_s12") + "/study.jsonl"
      TrialLog.append(path, TrialLog.Trial(0, Map("max_depth" -> "5"), 0.81))
      TrialLog.append(path, TrialLog.Trial(1, Map("max_depth" -> "10"), 0.86))
      TrialLog.append(path, TrialLog.Trial(2, Map("max_depth" -> "3"), 0.79))
      val best = TrialLog.bestTrial(path).get
      import s.implicits._
      TrialLog.read(path).map(t =>
        (t.number, t.params("max_depth"), t.value, t.number == best.number))
        .toDF("number", "max_depth", "value", "is_best")
    }),

    "m17_target_heuristic" -> ((s, dir) => {
      import s.implicits._
      Seq((Compare.pickTarget(Tables.orders(s, dir)).getOrElse("none"),
        Compare.pickTarget(Tables.part(s, dir)).getOrElse("none")))
        .toDF("orders_target", "part_target")
    }),

    "s11_column_desc" -> ((s, _) => {
      // S11: column-description file round trip — FULL (literal) oracle
      val path = Q.tempDir("graft_s11") + "/descriptions.txt"
      graft.io.TemplateIo.writeDescriptions(path, Map(
        "o_orderkey" -> "order primary key",
        "o_totalprice" -> "order total in cents: sum of extended prices",
        "o_orderpriority" -> "urgency bucket 1-5"))
      import s.implicits._
      graft.io.TemplateIo.readDescriptions(path).toSeq
        .map { case (c, d) => (c, d) }.toDF("column_name", "description")
    }))

  /** a36: the a27 oracle replayed PER COLUMN (suffixed CTEs) and
    * UNION ALL'd — cuts via row_number + integer division, lower-bin
    * strict ties, the identical Laplace/ln term trees. */
  private val psiPanelSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val ctes = cols.zipWithIndex.map { case (c, i) => s"""
      ref$i AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem
                WHERE l_returnflag = 'A' AND $c IS NOT NULL),
      nr$i AS (SELECT count(*) AS n FROM ref$i),
      rk$i AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM ref$i),
      bs$i AS (SELECT unnest(generate_series(1, 9)) AS b),
      cuts$i AS (
        SELECT bs$i.b, rk$i.v AS cut
        FROM bs$i CROSS JOIN nr$i
        JOIN rk$i ON rk$i.rn = (bs$i.b * nr$i.n) // 10),
      sl$i AS (
        SELECT l_returnflag AS g, CAST($c AS DOUBLE) AS v FROM lineitem
        WHERE l_returnflag IN ('A', 'R') AND $c IS NOT NULL),
      bkt$i AS (
        SELECT g, 1 + (SELECT count(*) FROM cuts$i cc WHERE cc.cut < t.v)
                 AS bin
        FROM sl$i t),
      cnt$i AS (
        SELECT bin, count(CASE WHEN g = 'A' THEN 1 END) AS n_ref,
               count(CASE WHEN g = 'R' THEN 1 END) AS n_cur
        FROM bkt$i GROUP BY 1),
      spine$i AS (SELECT unnest(generate_series(1, 10)) AS bin),
      f$i AS (
        SELECT spine$i.bin, coalesce(cnt$i.n_ref, 0) AS n_ref,
               coalesce(cnt$i.n_cur, 0) AS n_cur
        FROM spine$i LEFT JOIN cnt$i USING (bin)),
      t$i AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM f$i)"""
    }.mkString(",")
    val selects = cols.zipWithIndex.map { case (c, i) => s"""
      SELECT '$c' AS "column", CAST(f$i.bin AS BIGINT) AS bin,
             CAST(f$i.n_ref AS BIGINT) AS n_ref,
             CAST(f$i.n_cur AS BIGINT) AS n_cur,
             round((((CAST(f$i.n_cur AS DOUBLE) + 0.5)
                     / (CAST(t$i.tc AS DOUBLE) + 5.0))
                    - ((CAST(f$i.n_ref AS DOUBLE) + 0.5)
                       / (CAST(t$i.tr AS DOUBLE) + 5.0)))
                   * ln(((CAST(f$i.n_cur AS DOUBLE) + 0.5)
                         / (CAST(t$i.tc AS DOUBLE) + 5.0))
                        / ((CAST(f$i.n_ref AS DOUBLE) + 0.5)
                           / (CAST(t$i.tr AS DOUBLE) + 5.0))), 6) AS psi_term
      FROM f$i CROSS JOIN t$i"""
    }.mkString(" UNION ALL ")
    "WITH " + ctes + selects
  }

  /** a21's contingency table of event type a against value band b
    * (`cells`, counts o) and its row and column totals `ra`/`rb`. */
  private val typeValueCellsSql = """
      cells AS (
        SELECT event_type AS a,
               CASE WHEN value >= 100 THEN 'hi' ELSE 'lo' END AS b,
               count(*) AS o
        FROM events GROUP BY 1, 2),
      ra AS (SELECT a, sum(o) AS rt FROM cells GROUP BY 1),
      rb AS (SELECT b, sum(o) AS ct FROM cells GROUP BY 1)"""

  /** a28's value groups `g`: per value v, its click (na) and view (nb)
    * counts. */
  private val clickViewSql = """
      g AS (
        SELECT value AS v,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS na,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS nb
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        GROUP BY 1)"""

  /** a31's one-way ANOVA F over the groups `g` of `from`: per-group
    * integer-thousandths sums of x and x^2 (`per`), s1^2/n rounded to 9
    * and DECIMAL-summed (`tot`), the F tree token-identical. */
  private def anovaFSql(g: String, x: String, from: String): String = s"""
      per AS (
        SELECT $g, count(*) AS ng,
               sum(CAST(round($x * 1000, 0) AS DECIMAL(19,0))) AS s1,
               sum(CAST(round($x * 1000, 0) AS DECIMAL(19,0))
                   * CAST(round($x * 1000, 0) AS DECIMAL(19,0))) AS s2
        FROM $from GROUP BY 1),
      tot AS (
        SELECT CAST(sum(ng) AS DOUBLE) AS n,
               CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(s1) AS DOUBLE) AS t1,
               CAST(sum(s2) AS DOUBLE) AS t2,
               CAST(sum(CAST(round((CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                                   / CAST(ng AS DOUBLE), 9)
                             AS DECIMAL(38,9))) AS DOUBLE) AS b
        FROM per)
      SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             round((b - ((t1 * t1) / n)) / 1000000.0, 6) AS ss_between,
             round((t2 - b) / 1000000.0, 6) AS ss_within,
             round(((b - ((t1 * t1) / n)) / (k - 1.0))
                   / ((t2 - b) / (n - k)), 6) AS f_stat
      FROM tot"""

  /** a34's risk sets in exact epoch micros: each user's lifetime t and
    * event flag (censored when last seen within a day of the data's
    * edge), and per distinct t the events d and the at-risk count
    * n_risk (`r`). */
  private val riskSetSql = """
      pe AS (
        SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
        FROM events GROUP BY 1),
      e AS (SELECT max(epoch_us(ts)) AS edge FROM events),
      lv AS (
        SELECT (l - f) AS t,
               CASE WHEN l <= e.edge - 86400000000 THEN 1 ELSE 0 END AS ev
        FROM pe CROSS JOIN e),
      tm AS (SELECT t, count(*) AS alln, sum(ev) AS d FROM lv GROUP BY 1),
      n AS (SELECT count(*) AS nn FROM lv),
      c AS (
        SELECT t, alln, d, sum(alln) OVER (ORDER BY t) AS ca
        FROM tm),
      r AS (
        SELECT t, alln, d, (n.nn - (ca - alln)) AS n_risk
        FROM c CROSS JOIN n)"""

  /** a45's Benjamini-Hochberg test over 20 segments of `from`: each
    * segment's two-proportion z against the pooled click rate (NULL when
    * the pool is all or no clicks), the A&S normal-CDF Horner tree
    * token-identical, ranks by (p, segment), BH k* as a conditional
    * max. */
  private def bhFdrSql(from: String): String = s"""
      WITH per AS (
        SELECT event_id % 20 AS segment, count(*) AS n,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS n_pos
        FROM $from GROUP BY 1),
      g AS (SELECT sum(n) AS gn, sum(n_pos) AS gx, count(*) AS m FROM per),
      zc AS (SELECT per.segment, per.n, per.n_pos, g.m,
               CASE WHEN g.gx = 0 OR g.gx = g.gn THEN NULL ELSE
               ((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
                - (CAST(gx AS DOUBLE) / CAST(gn AS DOUBLE)))
               / sqrt(((CAST(gx AS DOUBLE) / CAST(gn AS DOUBLE))
                       * (1.0 - (CAST(gx AS DOUBLE) / CAST(gn AS DOUBLE))))
                      / CAST(n AS DOUBLE)) END AS z
             FROM per CROSS JOIN g),
      pc AS (SELECT segment, n, n_pos, m, z,
               (1.0 / (1.0 + (0.2316419 * abs(z)))) AS t,
               (exp((-(abs(z) * abs(z))) / 2.0) * 0.3989422804014327) AS pd
             FROM zc),
      pv AS (SELECT segment, n, n_pos, m, z,
               2.0 * (pd * (t * (0.319381530 + (t * (-0.356563782
                 + (t * (1.781477937 + (t * (-1.821255978
                 + (t * 1.330274429)))))))))) AS p
             FROM pc),
      rk AS (SELECT *, CAST(row_number() OVER (ORDER BY p, segment)
                            AS BIGINT) AS p_rank FROM pv),
      ks AS (SELECT max(CASE WHEN p <= ((CAST(p_rank AS DOUBLE) * 0.1)
                                        / CAST(m AS DOUBLE))
                             THEN p_rank END) AS k FROM rk)
      SELECT segment, n, n_pos,
             round(z, 6) AS z, round(p, 6) AS p_value, p_rank,
             CASE WHEN p IS NULL THEN NULL
                  ELSE coalesce(p_rank <= ks.k, false) END AS rejected
      FROM rk CROSS JOIN ks"""

  val oracles: Map[String, String] = Map(
    "a36_psi_panel" -> psiPanelSql,
    // earliest-anchored windowFunnel replay: per-step min epoch-us
    // chained through user-keyed joins; strictly-increasing + 7-day
    // window vs the first view — all integer comparisons
    "q18_funnel" -> """
      WITH f1 AS (SELECT user_id AS u, min(epoch_us(ts)) AS t1
                  FROM events WHERE event_type = 'view' GROUP BY 1),
      f2 AS (SELECT e.user_id AS u, f1.t1, min(epoch_us(e.ts)) AS t2
             FROM events e JOIN f1 ON e.user_id = f1.u
             WHERE e.event_type = 'click' AND epoch_us(e.ts) > f1.t1
               AND epoch_us(e.ts) - f1.t1 <= 604800000000
             GROUP BY 1, 2),
      f3 AS (SELECT e.user_id AS u, min(epoch_us(e.ts)) AS t3
             FROM events e JOIN f2 ON e.user_id = f2.u
             WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f2.t2
               AND epoch_us(e.ts) - f2.t1 <= 604800000000
             GROUP BY 1)
      SELECT f1.u AS user_id,
             CAST(CASE WHEN f3.u IS NOT NULL THEN 3
                       WHEN f2.u IS NOT NULL THEN 2
                       ELSE 1 END AS INT) AS step_reached
      FROM f1 LEFT JOIN f2 ON f1.u = f2.u LEFT JOIN f3 ON f1.u = f3.u""",

    // q10: ROLLUP null-fills grouped columns on subtotal rows in both
    // engines; grouping bits are MSB-first in declaration order
    "q10_rollup" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             count(*) AS n,
             CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q17_set_ops" -> """
      SELECT count(*) AS n, 'intersect' AS op FROM (
        SELECT o_custkey FROM orders WHERE o_totalprice > 250000
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      UNION ALL
      SELECT count(*), 'except' FROM (
        SELECT o_custkey FROM orders WHERE o_totalprice > 250000
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""",

    // q11: CUBE null-fills grouped columns per grouping set; grouping
    // bits MSB-first in declaration order, as in q10
    "q11_cube" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             count(*) AS n,
             CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
      FROM lineitem
      GROUP BY CUBE (l_returnflag, l_linestatus)""",

    // q20: (ts, event_id) is a total order per user; both engines pin
    // ROWS frames, so the running session count is replayable even
    // though event_id ties never occur
    "q20_sessionize" -> """
      WITH t AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_us
        FROM events),
      s AS (
        SELECT user_id, ts_us,
               sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
        FROM t)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_events,
             min(ts_us) AS start_us, max(ts_us) AS end_us,
             max(ts_us) - min(ts_us) AS duration_us
      FROM s GROUP BY 1, 2""",

    // q21: the grid day column casts to DATE on both sides; the LOCF
    // window carries the DECIMAL-summed double forward unchanged
    "q21_resample" -> """
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
        FROM events GROUP BY 1, 2),
      bounds AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events GROUP BY 1),
      grid AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds)
      SELECT g.user_id, g.day,
             last_value(d.day_value IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS value_filled,
             d.day_value IS NULL AS is_gap
      FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day""",

    // a20: m = HUGEINT thousandths (round(v*1000) half-up both
    // engines); power sums exact 128-bit integers, then the IDENTICAL
    // double expression tree as the engine (sqrt for the 3/2 power,
    // fully parenthesized; skew/kurt are scale-invariant so the
    // thousandths unit cancels)
    "a20_moments" -> """
      WITH t AS (
        SELECT event_type, CAST(round(value * 1000, 0) AS HUGEINT) AS m
        FROM events),
      a AS (
        SELECT event_type, count(m) AS n,
               sum(m) AS s1, sum(m * m) AS s2,
               sum(m * m * m) AS s3, sum(m * m * m * m) AS s4
        FROM t GROUP BY 1),
      d AS (
        SELECT event_type, n,
               CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
               CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
               CAST(s4 AS DOUBLE) AS s4d
        FROM a),
      m AS (
        SELECT event_type, n, (s1d / nd) AS mean,
               ((s2d / nd) - ((s1d / nd) * (s1d / nd))) AS m2,
               ((s3d / nd) - ((3.0 * (s1d / nd)) * (s2d / nd))
                 + ((2.0 * (s1d / nd)) * ((s1d / nd) * (s1d / nd)))) AS m3,
               ((s4d / nd) - ((4.0 * (s1d / nd)) * (s3d / nd))
                 + ((6.0 * ((s1d / nd) * (s1d / nd))) * (s2d / nd))
                 - (3.0 * (((s1d / nd) * (s1d / nd)) * ((s1d / nd) * (s1d / nd)))))
                 AS m4
        FROM d)
      SELECT event_type, n, round(mean / 1000.0, 6) AS mean,
             round(m2 / 1000000.0, 6) AS variance,
             round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
             round((m4 / (m2 * m2)) - 3.0, 6) AS kurtosis
      FROM m""",

    // a21: contingency cells -> marginals -> (o-e)^2/e, each term
    // rounded to 9 and summed in DECIMAL (order-free)
    "a21_chi2" -> s"""
      WITH $typeValueCellsSql,
      tot AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka,
                     count(DISTINCT b) AS kb FROM cells)
      -- r9: fold over the FULL marginal grid (empty cells carry mass)
      SELECT CAST(max(tot.n) AS BIGINT) AS n,
             CAST(max((tot.ka - 1) * (tot.kb - 1)) AS BIGINT) AS dof,
             round(CAST(sum(CAST(round(
               ((CAST(COALESCE(cells.o, 0) AS DOUBLE)
                 - ((CAST(ra.rt AS DOUBLE) * CAST(rb.ct AS DOUBLE))
                    / CAST(tot.n AS DOUBLE)))
                * (CAST(COALESCE(cells.o, 0) AS DOUBLE)
                 - ((CAST(ra.rt AS DOUBLE) * CAST(rb.ct AS DOUBLE))
                    / CAST(tot.n AS DOUBLE))))
               / ((CAST(ra.rt AS DOUBLE) * CAST(rb.ct AS DOUBLE))
                  / CAST(tot.n AS DOUBLE)), 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS chi2
      FROM ra CROSS JOIN rb LEFT JOIN cells USING (a, b) CROSS JOIN tot""",

    // q25: the salt is pure mechanics — a plain GROUP BY must
    // reproduce the two-phase result bit for bit (DECIMAL sums)
    "q25_salted_agg" -> """
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1""",

    // a24: DuckDB median interpolates the middle pair exactly like the
    // engine's rank-selection; threshold tree ((3.0*1.4826)*mad) on the
    // UNROUNDED statistics
    "a24_mad_outliers" -> """
      WITH m AS (
        SELECT CAST(median(l_extendedprice) AS DOUBLE) AS med FROM lineitem),
      d AS (
        SELECT CAST(median(abs(l.l_extendedprice - m.med)) AS DOUBLE) AS mad
        FROM lineitem l CROSS JOIN m)
      SELECT count(l.l_extendedprice) AS n,
             round(max(m.med), 6) AS median,
             round(max(d.mad), 6) AS mad,
             count(CASE WHEN abs(l.l_extendedprice - m.med)
                             > ((3.0 * 1.4826) * d.mad) THEN 1 END) AS n_outliers
      FROM lineitem l CROSS JOIN m CROSS JOIN d""",

    // a23: UNION ALL replay of the unpivot; values untouched doubles
    "a23_melt" -> """
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""",

    // q24: SQL-standard rank definitions on a per-user total order;
    // ntile's uneven-bucket rule (first buckets get the extra row) is
    // shared by both engines
    "q24_rank_surface" -> """
      SELECT user_id, event_id,
             round(percent_rank() OVER w, 9) AS pr,
             round(cume_dist() OVER w, 9) AS cd,
             CAST(ntile(4) OVER w AS INT) AS quartile,
             CAST(dense_rank() OVER w AS INT) AS dr
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""",

    // q26: cumulative over the day-level frame (days are few, but the
    // engine still computes it as a distributed prefix sum)
    "q26_cumulative_users" -> """
      WITH f AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1),
      d AS (SELECT first_day, count(*) AS n_new FROM f GROUP BY 1)
      SELECT first_day, n_new,
             CAST(sum(n_new) OVER (ORDER BY first_day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_total
      FROM d""",

    // q27: Monday-truncated weeks in both engines; offsets are exact
    // multiples of 7 days, so the /7 division is integer-valued
    "q27_cohort_retention" -> """
      WITH c AS (
        SELECT user_id, min(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
        FROM events GROUP BY 1),
      a AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        FROM events),
      cells AS (
        SELECT c.cohort_week,
               CAST((a.active_week - c.cohort_week) / 7 AS BIGINT) AS week_offset,
               count(*) AS n_active
        FROM a JOIN c USING (user_id)
        GROUP BY 1, 2),
      sizes AS (
        SELECT cohort_week, n_active AS cohort_size
        FROM cells WHERE week_offset = 0)
      SELECT cells.cohort_week, cells.week_offset, cells.n_active,
             sizes.cohort_size,
             round(CAST(cells.n_active AS DOUBLE)
                   / CAST(sizes.cohort_size AS DOUBLE), 6) AS retention
      FROM cells JOIN sizes USING (cohort_week)""",

    // q28: same lag window, same marginal join
    "q28_transition_matrix" -> """
      WITH p AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS from_type,
               event_type AS to_type
        FROM events),
      c AS (
        SELECT from_type, to_type, count(*) AS n
        FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2),
      mg AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
      SELECT c.from_type, c.to_type, c.n,
             round(CAST(c.n AS DOUBLE) / CAST(mg.tot AS DOUBLE), 6) AS p
      FROM c JOIN mg USING (from_type)""",

    // a25: HUGEINT thousandths sufficient sums; identical t/df trees
    // (Welch-Satterthwaite), mean_diff rescaled by /1000
    "a25_welch_t" -> """
      WITH t AS (
        SELECT event_type, CAST(round(value * 1000, 0) AS HUGEINT) AS m
        FROM events),
      s AS (
        SELECT CAST(count(CASE WHEN event_type = 'click' THEN m END) AS DOUBLE) AS na,
               CAST(sum(CASE WHEN event_type = 'click' THEN m END) AS DOUBLE) AS s1a,
               CAST(sum(CASE WHEN event_type = 'click' THEN m * m END) AS DOUBLE) AS s2a,
               CAST(count(CASE WHEN event_type = 'view' THEN m END) AS DOUBLE) AS nb,
               CAST(sum(CASE WHEN event_type = 'view' THEN m END) AS DOUBLE) AS s1b,
               CAST(sum(CASE WHEN event_type = 'view' THEN m * m END) AS DOUBLE) AS s2b
        FROM t),
      d AS (
        SELECT na, nb, (s1a / na) AS ma, (s1b / nb) AS mb,
               ((s2a - (na * ((s1a / na) * (s1a / na)))) / (na - 1.0)) AS va,
               ((s2b - (nb * ((s1b / nb) * (s1b / nb)))) / (nb - 1.0)) AS vb
        FROM s),
      e AS (
        SELECT na, nb, ma, mb, va, vb,
               ((va / na) + (vb / nb)) AS se2
        FROM d)
      SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             round((ma - mb) / 1000.0, 6) AS mean_diff,
             round((ma - mb) / sqrt(se2), 6) AS t_stat,
             round((se2 * se2)
                   / ((((va / na) * (va / na)) / (na - 1.0))
                      + (((vb / nb) * (vb / nb)) / (nb - 1.0))), 4) AS df
      FROM e""",

    // q29: quartiles replayed as row_number under identical total
    // orders; the recency rank is DESCENDING so score 4 = most recent
    "q29_rfm" -> """
      WITH u AS (
        SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(*) AS frequency,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        FROM events GROUP BY 1),
      a AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
      b AS (
        SELECT u.user_id, CAST(a.anchor - u.last_day AS BIGINT) AS recency_days,
               u.frequency, u.monetary
        FROM u CROSS JOIN a),
      nn AS (SELECT count(*) AS n FROM b),
      r AS (
        SELECT b.*,
               row_number() OVER (ORDER BY recency_days DESC, user_id) AS rr,
               row_number() OVER (ORDER BY frequency, user_id) AS rf,
               row_number() OVER (ORDER BY monetary, user_id) AS rm
        FROM b)
      SELECT user_id, recency_days, frequency, round(monetary, 4) AS monetary,
             CAST(floor(((rr - 1) * 4) / nn.n) + 1 AS INT) AS r_score,
             CAST(floor(((rf - 1) * 4) / nn.n) + 1 AS INT) AS f_score,
             CAST(floor(((rm - 1) * 4) / nn.n) + 1 AS INT) AS m_score
      FROM r CROSS JOIN nn""",

    // q30: same lead window; weights in BIGINT microseconds, weighted
    // value sums in exact decimals (HUGEINT-backed product)
    "q30_twap" -> """
      WITH t AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 - epoch_us(ts) AS w
        FROM events),
      g AS (
        SELECT user_id, sum(w) AS total_us,
               CAST(sum(CAST(value AS DECIMAL(8,3))
                        * CAST(w AS DECIMAL(20,0))) AS DOUBLE) AS vw
        FROM t WHERE w IS NOT NULL GROUP BY 1)
      SELECT user_id, CAST(total_us AS BIGINT) AS total_us,
             round(vw / CAST(total_us AS DOUBLE), 6) AS twap
      FROM g WHERE total_us > 0""",

    // q31: open/close replayed as rank-1 rows under the same
    // (epoch, id) total order, ascending and descending
    "q31_ohlc" -> """
      WITH t AS (
        SELECT user_id, date_trunc('hour', ts) AS bar_start,
               epoch_us(ts) AS ts_us, event_id, value
        FROM events),
      r AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id, bar_start
                                  ORDER BY ts_us, event_id) AS ra,
               row_number() OVER (PARTITION BY user_id, bar_start
                                  ORDER BY ts_us DESC, event_id DESC) AS rd
        FROM t),
      agg AS (
        SELECT user_id, bar_start, max(value) AS high, min(value) AS low,
               count(*) AS n
        FROM t GROUP BY 1, 2)
      SELECT agg.user_id, agg.bar_start,
             o.value AS open, agg.high, agg.low, c.value AS close, agg.n
      FROM agg
      JOIN r o ON o.user_id = agg.user_id AND o.bar_start = agg.bar_start
              AND o.ra = 1
      JOIN r c ON c.user_id = agg.user_id AND c.bar_start = agg.bar_start
              AND c.rd = 1""",

    // a26: identical digit extraction (integer cents -> string head)
    // and identical expectation literals
    "a26_benford" -> """
      WITH d AS (
        SELECT substr(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit
        FROM lineitem WHERE l_extendedprice > 0),
      c AS (SELECT digit, count(*) AS n_obs FROM d
            WHERE digit BETWEEN '1' AND '9' GROUP BY 1),
      t AS (SELECT sum(n_obs) AS tot FROM c)
      SELECT c.digit, c.n_obs,
             round(CAST(c.n_obs AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share,
             CASE c.digit
               WHEN '1' THEN 0.301029996 WHEN '2' THEN 0.176091259
               WHEN '3' THEN 0.124938737 WHEN '4' THEN 0.096910013
               WHEN '5' THEN 0.079181246 WHEN '6' THEN 0.066946790
               WHEN '7' THEN 0.057991947 WHEN '8' THEN 0.051152522
               WHEN '9' THEN 0.045757491 ELSE 0.0 END AS expected_share,
             round(round(CAST(c.n_obs AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
                   - CASE c.digit
                       WHEN '1' THEN 0.301029996 WHEN '2' THEN 0.176091259
                       WHEN '3' THEN 0.124938737 WHEN '4' THEN 0.096910013
                       WHEN '5' THEN 0.079181246 WHEN '6' THEN 0.066946790
                       WHEN '7' THEN 0.057991947 WHEN '8' THEN 0.051152522
                       WHEN '9' THEN 0.045757491 ELSE 0.0 END, 6) AS deviation
      FROM c CROSS JOIN t""",

    // a45b: the a45 tree on the all-click slice — gx = gn forces the
    // NULL branch everywhere; ranks tie-break on segment in both engines
    "a45b_bh_fdr_degen" -> bhFdrSql("events WHERE event_type = 'click'"),

    "a45_bh_fdr" -> bhFdrSql("events"),

    // a46: n and the target rank r = greatest(1, ceil(p*n)) (IEEE
    // double multiply — the DOUBLE[] cast keeps DuckDB off decimal
    // arithmetic) and the exact value at rank r are replayed exactly;
    // within_bound is pinned to literal TRUE — the engine side
    // computes the real rank-interval check, so a sketch that ever
    // violated its self-reported bound hash-mismatches here
    "a46_kll_quantiles" -> """
      WITH base AS (
        SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
      sizes AS (SELECT g, count(*) AS n FROM base GROUP BY 1),
      p AS (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.9, 0.99] AS DOUBLE[]))
                   AS percentile),
      tgt AS (SELECT sizes.g, p.percentile, sizes.n,
                greatest(1, CAST(ceil(p.percentile * CAST(sizes.n AS DOUBLE))
                                 AS BIGINT)) AS tr
              FROM sizes CROSS JOIN p),
      rk AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS r
             FROM base)
      SELECT tgt.g AS l_returnflag, tgt.percentile,
             CAST(tgt.n AS BIGINT) AS n,
             round(rk.x, 6) AS exact_value,
             TRUE AS within_bound
      FROM tgt JOIN rk ON rk.g = tgt.g AND rk.r = tgt.tr""",

    // a47: the Poisson(1) weight replay (Q.poissonWeightsSql);
    // replicate means as round-9 DECIMAL folds of round(x*w, 9);
    // percentile ranks via greatest(1, ceil(p*B))
    "a47_bootstrap_ci" -> s"""
      WITH ${Q.poissonWeightsSql("event_type",
        "value IS NOT NULL AND event_type IS NOT NULL", 50)},
      per AS (SELECT g, b, sum(w) AS wn,
                     sum(CAST(round(x * w, 9) AS DECIMAL(28,9))) AS ws
              FROM wts GROUP BY 1, 2),
      pm AS (SELECT g, b, CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) AS m
             FROM per WHERE wn > 0),
      beff AS (SELECT g, count(*) AS be FROM pm GROUP BY 1),
      rk AS (SELECT g, b, m,
                    row_number() OVER (PARTITION BY g ORDER BY m, b) AS r
             FROM pm),${Q.ciBoundsSql("m")},
      ov AS (SELECT g, count(*) AS n,
                    sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS s
             FROM base GROUP BY 1)
      SELECT ov.g AS event_type, CAST(ov.n AS BIGINT) AS n,
             round(CAST(ov.s AS DOUBLE) / CAST(ov.n AS DOUBLE), 6) AS mean,
             round(lo.lo, 6) AS lo95, round(hi.hi, 6) AS hi95
      FROM ov JOIN lo ON lo.g = ov.g JOIN hi ON hi.g = ov.g""",

    // a48: the a47 weight replay, exact weighted medians per replicate
    // and the 2.5/97.5 rank selection over them (Q.bootstrapMedianCiSql)
    "a48_bootstrap_quantile_ci" -> Q.bootstrapMedianCiSql("event_type",
      "event_type", "value IS NOT NULL AND event_type IS NOT NULL", 50),

    // a44: per-group middle-pair medians replayed with a partitioned
    // row_number, then a31's exact integer-thousandths ANOVA trees on
    // z = |x - med_g|
    "a44_levene" -> s"""
      WITH base AS (
        SELECT l_returnflag AS g, l_quantity AS v FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
      sizes AS (SELECT g, count(*) AS ng FROM base GROUP BY 1),
      rk AS (SELECT g, v,
                    row_number() OVER (PARTITION BY g ORDER BY v) AS r
             FROM base),
      meds AS (SELECT rk.g, avg(CAST(rk.v AS DOUBLE)) AS med
               FROM rk JOIN sizes USING (g)
               WHERE rk.r = CAST(floor((ng + 1) / 2.0) AS BIGINT)
                  OR rk.r = CAST(floor(ng / 2.0) AS BIGINT) + 1
               GROUP BY 1),
      z AS (SELECT base.g, abs(CAST(base.v AS DOUBLE) - meds.med) AS z
            FROM base JOIN meds USING (g)),
      ${anovaFSql("g", "z", "z")}""",

    // a41: the a28 value-group shape + the doubled-average-rank trick
    // (2*avgrank of a tied group = 2*cumt - t + 1, exact integers);
    // the u/z double trees mirror the engine's parenthesization
    "a41_mann_whitney" -> s"""
      WITH $clickViewSql,
      c AS (SELECT na, nb, na + nb AS t,
                   sum(na + nb) OVER (ORDER BY v) AS ct
            FROM g),
      s AS (SELECT sum(na) AS ta, sum(nb) AS tb,
                   sum(CAST(na AS HUGEINT)
                       * CAST(((2 * ct) - t) + 1 AS HUGEINT)) AS r2a,
                   sum((CAST(t AS HUGEINT) * t * t) - t) AS ties
            FROM c),
      s2 AS (SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
                    CAST(ta AS DOUBLE) AS na, CAST(tb AS DOUBLE) AS nb,
                    CAST(r2a AS DOUBLE) AS r2a, CAST(ties AS DOUBLE) AS ties
             FROM s)
      SELECT n_a, n_b,
             round((r2a / 2.0) - ((na * (na + 1.0)) / 2.0), 1) AS u_stat,
             round((((r2a / 2.0) - ((na * (na + 1.0)) / 2.0))
                    - ((na * nb) / 2.0))
                   / sqrt(((na * nb) / 12.0)
                          * (((na + nb) + 1.0)
                             - (ties / ((na + nb) * ((na + nb) - 1.0))))),
                   6) AS z
      FROM s2""",

    // a42: contingency cells + marginals; each (o-e)^2/e term rounded
    // to 9 and DECIMAL-summed exactly as the engine folds them
    "a42_cramers_v" -> """
      WITH cells AS (
        SELECT o_orderstatus AS a, o_orderpriority AS b, count(*) AS o
        FROM orders
        WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        GROUP BY 1, 2),
      rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
      ctt AS (SELECT b, sum(o) AS rb FROM cells GROUP BY 1),
      tt AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka,
                    count(DISTINCT b) AS kb FROM cells),
      f AS (SELECT max(tt.n) AS n, max(tt.ka) AS ka, max(tt.kb) AS kb,
                   sum(CAST(round(
                     ((CAST(COALESCE(o, 0) AS DOUBLE)
                       - ((CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE))
                          / CAST(tt.n AS DOUBLE)))
                      * (CAST(COALESCE(o, 0) AS DOUBLE)
                         - ((CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE))
                            / CAST(tt.n AS DOUBLE))))
                     / ((CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE))
                        / CAST(tt.n AS DOUBLE)), 9) AS DECIMAL(28,9)))
                     AS chi2
            FROM rt CROSS JOIN ctt LEFT JOIN cells USING (a, b)
                 CROSS JOIN tt)
      SELECT CAST(n AS BIGINT) AS n,
             CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
             round(CAST(chi2 AS DOUBLE), 6) AS chi2,
             round(sqrt(CAST(chi2 AS DOUBLE)
                        / (CAST(n AS DOUBLE)
                           * (CAST(least(ka, kb) AS DOUBLE) - 1.0))), 6)
               AS cramers_v
      FROM f""",

    // a43: per-column doubled-average-rank dictionaries (the a41 trick)
    // joined back to rows, exact integer moments, one Pearson tree
    "a43_spearman" -> """
      WITH b AS (SELECT l_quantity AS x, l_extendedprice AS y
                 FROM lineitem
                 WHERE l_quantity IS NOT NULL
                   AND l_extendedprice IS NOT NULL),
      gx AS (SELECT x AS v, count(*) AS t FROM b GROUP BY 1),
      rx AS (SELECT v, ((2 * sum(t) OVER (ORDER BY v)) - t) + 1 AS r
             FROM gx),
      gy AS (SELECT y AS v, count(*) AS t FROM b GROUP BY 1),
      ry AS (SELECT v, ((2 * sum(t) OVER (ORDER BY v)) - t) + 1 AS r
             FROM gy),
      j AS (SELECT CAST(rx.r AS HUGEINT) AS rxv,
                   CAST(ry.r AS HUGEINT) AS ryv
            FROM b JOIN rx ON b.x = rx.v JOIN ry ON b.y = ry.v),
      s AS (SELECT count(*) AS n, sum(rxv) AS sx, sum(ryv) AS sy,
                   sum(rxv * ryv) AS sxy, sum(rxv * rxv) AS sxx,
                   sum(ryv * ryv) AS syy
            FROM j)
      SELECT CAST(n AS BIGINT) AS n,
             round((CAST(sxy AS DOUBLE)
                    - ((CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / CAST(n AS DOUBLE)))
                   / sqrt((CAST(sxx AS DOUBLE)
                           - ((CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              / CAST(n AS DOUBLE)))
                          * (CAST(syy AS DOUBLE)
                             - ((CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                                / CAST(n AS DOUBLE)))), 6) AS rho
      FROM s""",

    // a28: per-value counts, then peer-inclusive cumulative sums (the
    // default RANGE frame steps ties atomically, matching the engine's
    // group-by-value CDF); D's numerator is an exact integer max
    "a28_ks_drift" -> s"""
      WITH $clickViewSql,
      c AS (
        SELECT sum(na) OVER (ORDER BY v) AS ca,
               sum(nb) OVER (ORDER BY v) AS cb
        FROM g),
      t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM g)
      SELECT CAST(t.ta AS BIGINT) AS n_a, CAST(t.tb AS BIGINT) AS n_b,
             CAST(max(abs((c.ca * t.tb) - (c.cb * t.ta))) AS BIGINT) AS d_num,
             round(CAST(max(abs((c.ca * t.tb) - (c.cb * t.ta))) AS DOUBLE)
                   / (CAST(t.ta AS DOUBLE) * CAST(t.tb AS DOUBLE)), 6)
               AS ks_stat
      FROM c CROSS JOIN t GROUP BY t.ta, t.tb""",

    // a27: cut ranks replayed with row_number + integer division
    // (b*n)//10; equal-to-cut goes to the LOWER bin (cut < v strict);
    // smoothing and term trees token-identical to the engine
    "a27_psi" -> """
      WITH ref AS (
        SELECT value AS v FROM events
        WHERE event_type = 'click' AND value IS NOT NULL),
      nr AS (SELECT count(*) AS n FROM ref),
      rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM ref),
      bs AS (SELECT unnest(generate_series(1, 9)) AS b),
      cuts AS (
        SELECT bs.b, rk.v AS cut
        FROM bs CROSS JOIN nr
        JOIN rk ON rk.rn = (bs.b * nr.n) // 10),
      sl AS (
        SELECT event_type AS g, value AS v FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
      bkt AS (
        SELECT g, 1 + (SELECT count(*) FROM cuts c WHERE c.cut < t.v) AS bin
        FROM sl t),
      cnt AS (
        SELECT bin, count(CASE WHEN g = 'click' THEN 1 END) AS n_ref,
               count(CASE WHEN g = 'view' THEN 1 END) AS n_cur
        FROM bkt GROUP BY 1),
      spine AS (SELECT unnest(generate_series(1, 10)) AS bin),
      f AS (
        SELECT spine.bin, coalesce(cnt.n_ref, 0) AS n_ref,
               coalesce(cnt.n_cur, 0) AS n_cur
        FROM spine LEFT JOIN cnt USING (bin)),
      t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM f)
      SELECT CAST(f.bin AS BIGINT) AS bin,
             CAST(f.n_ref AS BIGINT) AS n_ref,
             CAST(f.n_cur AS BIGINT) AS n_cur,
             round((((CAST(f.n_cur AS DOUBLE) + 0.5)
                     / (CAST(t.tc AS DOUBLE) + 5.0))
                    - ((CAST(f.n_ref AS DOUBLE) + 0.5)
                       / (CAST(t.tr AS DOUBLE) + 5.0)))
                   * ln(((CAST(f.n_cur AS DOUBLE) + 0.5)
                         / (CAST(t.tc AS DOUBLE) + 5.0))
                        / ((CAST(f.n_ref AS DOUBLE) + 0.5)
                           / (CAST(t.tr AS DOUBLE) + 5.0))), 6) AS psi_term
      FROM f CROSS JOIN t""",

    // a29: contingency cells then Laplace-smoothed woe/iv trees,
    // token-identical to the engine ((n+0.5)/(T+k*0.5) and
    // (pPos-pNeg)*ln(pPos/pNeg)); iv_term uses the UNROUNDED woe
    "a29_woe_iv" -> """
      WITH cells AS (
        SELECT event_type AS category,
               count(CASE WHEN value >= 100 THEN 1 END) AS n_pos,
               count(CASE WHEN NOT (value >= 100) THEN 1 END) AS n_neg
        FROM events WHERE event_type IS NOT NULL GROUP BY 1),
      t AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn,
                   count(*) AS k FROM cells)
      SELECT category, n_pos, n_neg,
             round(ln(((CAST(n_pos AS DOUBLE) + 0.5)
                       / (CAST(t.tp AS DOUBLE) + (CAST(t.k AS DOUBLE) * 0.5)))
                      / ((CAST(n_neg AS DOUBLE) + 0.5)
                         / (CAST(t.tn AS DOUBLE)
                            + (CAST(t.k AS DOUBLE) * 0.5)))), 6) AS woe,
             round((((CAST(n_pos AS DOUBLE) + 0.5)
                     / (CAST(t.tp AS DOUBLE) + (CAST(t.k AS DOUBLE) * 0.5)))
                    - ((CAST(n_neg AS DOUBLE) + 0.5)
                       / (CAST(t.tn AS DOUBLE) + (CAST(t.k AS DOUBLE) * 0.5))))
                   * ln(((CAST(n_pos AS DOUBLE) + 0.5)
                         / (CAST(t.tp AS DOUBLE)
                            + (CAST(t.k AS DOUBLE) * 0.5)))
                        / ((CAST(n_neg AS DOUBLE) + 0.5)
                           / (CAST(t.tn AS DOUBLE)
                              + (CAST(t.k AS DOUBLE) * 0.5)))), 6) AS iv_term
      FROM cells CROSS JOIN t""",

    // a30: per-band counts for both slices, 0*ln0 guarded by count>0,
    // terms rounded to 9 and DECIMAL-summed exactly like the engine
    "a30_js_drift" -> """
      WITH cells AS (
        SELECT CAST(floor(value / 50.0) AS INT) AS key,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS na,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS nb
        FROM events
        WHERE event_type IN ('click', 'view')
          AND CAST(floor(value / 50.0) AS INT) IS NOT NULL
        GROUP BY 1),
      t AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM cells),
      terms AS (
        SELECT
          CASE WHEN na > 0 THEN
            (CAST(na AS DOUBLE) / CAST(t.ta AS DOUBLE))
            * ln((2.0 * (CAST(na AS DOUBLE) / CAST(t.ta AS DOUBLE)))
                 / ((CAST(na AS DOUBLE) / CAST(t.ta AS DOUBLE))
                    + (CAST(nb AS DOUBLE) / CAST(t.tb AS DOUBLE))))
          ELSE 0.0 END AS term_a,
          CASE WHEN nb > 0 THEN
            (CAST(nb AS DOUBLE) / CAST(t.tb AS DOUBLE))
            * ln((2.0 * (CAST(nb AS DOUBLE) / CAST(t.tb AS DOUBLE)))
                 / ((CAST(na AS DOUBLE) / CAST(t.ta AS DOUBLE))
                    + (CAST(nb AS DOUBLE) / CAST(t.tb AS DOUBLE))))
          ELSE 0.0 END AS term_b,
          t.ta, t.tb
        FROM cells CROSS JOIN t)
      SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
             round((CAST(sum(CAST(round(term_a, 9) AS DECIMAL(28,9)))
                         AS DOUBLE)
                    + CAST(sum(CAST(round(term_b, 9) AS DECIMAL(28,9)))
                           AS DOUBLE)) * 0.5, 6) AS js_div
      FROM terms GROUP BY ta, tb""",

    // a31: per-group integer-thousandths sums, between-term
    // s1^2/n rounded to 9 and DECIMAL-summed; F tree token-identical
    "a31_anova_f" -> s"""
      WITH ${anovaFSql("event_type AS g", "value",
        "events WHERE event_type IS NOT NULL AND value IS NOT NULL")}""",

    // a32: blocks by event_id % 10, DECIMAL(18,6) block sums, the
    // leave-one-out mean / deviation trees token-identical, both
    // reductions over the k cells round-9 DECIMAL-summed
    "a32_jackknife_se" -> """
      WITH cells AS (
        SELECT event_id % 10 AS b,
               count(CAST(value AS DECIMAL(18,6))) AS nb,
               sum(CAST(value AS DECIMAL(18,6))) AS sb
        FROM events GROUP BY 1),
      t AS (SELECT sum(nb) AS n, sum(sb) AS s, count(*) AS k FROM cells),
      loo AS (
        SELECT CAST(t.s - coalesce(cells.sb, 0) AS DOUBLE)
               / CAST(t.n - cells.nb AS DOUBLE) AS theta, t.n, t.s, t.k
        FROM cells CROSS JOIN t),
      tb AS (
        SELECT n, s, k,
               CAST(sum(CAST(round(theta, 9) AS DECIMAL(28,9))) AS DOUBLE)
               / CAST(k AS DOUBLE) AS tbar
        FROM loo GROUP BY n, s, k),
      ss AS (
        SELECT tb.n, tb.k, tb.s,
               CAST(sum(CAST(round(
                 (loo.theta - tb.tbar) * (loo.theta - tb.tbar), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS ssd
        FROM loo CROSS JOIN tb GROUP BY tb.n, tb.k, tb.s)
      SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
             round(sqrt(((CAST(k AS DOUBLE) - 1.0) / CAST(k AS DOUBLE))
                        * ssd), 6) AS jackknife_se
      FROM ss""",

    // a33: rank replayed under the same (value, orderkey, linenumber)
    // total order; rank*thousandths products exact DECIMAL integers
    "a33_gini" -> """
      WITH v AS (
        SELECT CAST(round(l_extendedprice * 1000, 0) AS DECIMAL(19,0)) AS m,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS rn
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      s AS (
        SELECT count(*) AS n, sum(m) AS sx,
               sum(CAST(rn AS DECIMAL(19,0)) * m) AS srx
        FROM v)
      SELECT CAST(n AS BIGINT) AS n,
             round(CAST(sx AS DOUBLE) / 1000.0, 6) AS total,
             round(((2.0 * CAST(srx AS DOUBLE))
                    - ((CAST(n AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE)))
                   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
      FROM s""",

    // a40: the a34 lifetime rule with per-cohort pivoted counts; E/V
    // trees token-identical (n=1 tail guarded to 0 on both engines)
    "a40_logrank" -> """
      WITH pe AS (
        SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l,
               CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g
        FROM events GROUP BY 1),
      e AS (SELECT max(epoch_us(ts)) AS edge FROM events),
      lv AS (
        SELECT (l - f) AS t,
               CASE WHEN l <= e.edge - 86400000000 THEN 1 ELSE 0 END AS ev,
               (g = 'even') AS ina
        FROM pe CROSS JOIN e),
      tm AS (
        SELECT t,
               count(CASE WHEN ina THEN 1 END) AS alla,
               count(CASE WHEN NOT ina THEN 1 END) AS allb,
               sum(CASE WHEN ina THEN ev ELSE 0 END) AS da,
               sum(CASE WHEN NOT ina THEN ev ELSE 0 END) AS db
        FROM lv GROUP BY 1),
      nn AS (
        SELECT count(CASE WHEN ina THEN 1 END) AS na_tot,
               count(CASE WHEN NOT ina THEN 1 END) AS nb_tot
        FROM lv),
      c AS (
        SELECT t, da, db, alla, allb,
               sum(alla) OVER (ORDER BY t) AS ca,
               sum(allb) OVER (ORDER BY t) AS cb
        FROM tm),
      r AS (
        SELECT t, da, db,
               (nn.na_tot - (ca - alla)) AS na,
               (nn.nb_tot - (cb - allb)) AS nb,
               nn.na_tot, nn.nb_tot
        FROM c CROSS JOIN nn),
      s AS (
        SELECT na_tot, nb_tot, da,
               round(CAST(da + db AS DOUBLE)
                     * (CAST(na AS DOUBLE)
                        / CAST(na + nb AS DOUBLE)), 9) AS et,
               round(CASE WHEN (na + nb) > 1 THEN
                 ((CAST(da + db AS DOUBLE)
                   * (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE)))
                  * (1.0 - (CAST(na AS DOUBLE) / CAST(na + nb AS DOUBLE))))
                 * ((CAST(na + nb AS DOUBLE) - CAST(da + db AS DOUBLE))
                    / (CAST(na + nb AS DOUBLE) - 1.0))
                 ELSE 0.0 END, 9) AS vt
        FROM r)
      SELECT CAST(na_tot AS BIGINT) AS n_a, CAST(nb_tot AS BIGINT) AS n_b,
             CAST(sum(da) AS BIGINT) AS o_a,
             round(CAST(sum(CAST(et AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS e_a,
             round(CAST(sum(CAST(vt AS DECIMAL(28,9))) AS DOUBLE), 6) AS v,
             round(((CAST(sum(da) AS DOUBLE)
                     - CAST(sum(CAST(et AS DECIMAL(28,9))) AS DOUBLE))
                    * (CAST(sum(da) AS DOUBLE)
                       - CAST(sum(CAST(et AS DECIMAL(28,9))) AS DOUBLE)))
                   / CAST(sum(CAST(vt AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS chi2_logrank
      FROM s GROUP BY na_tot, nb_tot""",

    // a39: the a34 CTE chain with d/n and d/n² terms, round-9 scaled
    // to integer doubles so both prefixes are exact window sums
    "a39_nelson_aalen" -> s"""
      WITH $riskSetSql,
      s AS (
        SELECT t, n_risk, d,
               sum(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 9)
                   * 1e9) OVER (ORDER BY t) AS ch,
               sum(round(CAST(d AS DOUBLE)
                         / (CAST(n_risk AS DOUBLE)
                            * CAST(n_risk AS DOUBLE)), 9)
                   * 1e9) OVER (ORDER BY t) AS cv
        FROM r)
      SELECT t AS t_us, CAST(n_risk AS BIGINT) AS n_risk,
             CAST(d AS BIGINT) AS n_events,
             round(ch / 1e9, 6) AS cum_hazard,
             round(cv / 1e9, 6) AS hazard_var
      FROM s""",

    // a37: four exact longs, the same pooled-SE z tree
    "a37_two_proportion" -> """
      WITH s AS (
        SELECT
          count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
          count(CASE WHEN user_id % 2 = 0
                     AND event_type = 'purchase' THEN 1 END) AS k_a,
          count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS n_b,
          count(CASE WHEN user_id % 2 <> 0
                     AND event_type = 'purchase' THEN 1 END) AS k_b
        FROM events)
      SELECT n_a, k_a, n_b, k_b,
             round((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                   - (CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)), 6)
               AS rate_diff,
             round(((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                    - (CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
                   / sqrt(((CAST(k_a + k_b AS DOUBLE)
                            / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                           * (1.0 - (CAST(k_a + k_b AS DOUBLE)
                                     / (CAST(n_a AS DOUBLE)
                                        + CAST(n_b AS DOUBLE)))))
                          * ((1.0 / CAST(n_a AS DOUBLE))
                             + (1.0 / CAST(n_b AS DOUBLE)))), 6) AS z_stat
      FROM s""",

    // a38: integer-thousandths hourly sums (exact double prefix), the
    // same cusum tree, argmax by (|cusum| DESC, hour) total order
    "a38_cusum" -> """
      WITH h AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS hu,
               CAST(sum(CAST(round(value * 1000, 0) AS DECIMAL(19,0)))
                    AS DOUBLE) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      t AS (SELECT count(*) AS n, sum(y) AS s FROM h),
      c AS (
        SELECT hu, y, sum(y) OVER (ORDER BY hu) AS p,
               row_number() OVER (ORDER BY hu) AS rn
        FROM h),
      sc AS (
        SELECT hu,
               abs(p - (CAST(rn AS DOUBLE)
                        * (t.s / CAST(t.n AS DOUBLE)))) AS a,
               CAST(round(abs(y - (t.s / CAST(t.n AS DOUBLE))), 9)
                    AS DECIMAL(28,9)) AS d,
               t.n
        FROM c CROSS JOIN t)
      SELECT CAST(max(n) AS BIGINT) AS n_hours,
             (SELECT hu FROM sc ORDER BY a DESC, hu LIMIT 1)
               AS changepoint_us,
             round(max(a) / 1000.0, 6) AS max_abs_cusum,
             round(max(a) / CAST(sum(d) AS DOUBLE), 6) AS cusum_share
      FROM sc""",

    // a35: same apriori order — distinct items, size cap, item prune,
    // pair counts, strict unordered (a < b) pairing; top-50 under the
    // same (n_ab DESC, a, b) total order
    "a35_pair_rules" -> """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      sized AS (
        SELECT b FROM items GROUP BY b HAVING count(*) <= 1000),
      kept AS (SELECT items.* FROM items JOIN sized USING (b)),
      nb AS (SELECT count(*) AS n FROM sized),
      freq AS (
        SELECT i, count(*) AS ni FROM kept GROUP BY i
        HAVING count(*) >= 2),
      f AS (SELECT kept.b, kept.i, freq.ni FROM kept JOIN freq USING (i)),
      p AS (
        SELECT a.i AS item_a, a.ni AS n_a, c.i AS item_b, c.ni AS n_b,
               count(*) AS n_ab
        FROM f a JOIN f c ON a.b = c.b AND a.i < c.i
        GROUP BY 1, 2, 3, 4
        HAVING count(*) >= 2)
      SELECT item_a, item_b, n_a, n_b, n_ab,
             round(CAST(n_ab AS DOUBLE) / CAST(nb.n AS DOUBLE), 6)
               AS support,
             round(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
               AS conf_a_b,
             round(CAST(n_ab AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
               AS conf_b_a,
             round((CAST(nb.n AS DOUBLE) * CAST(n_ab AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
               AS lift
      FROM p CROSS JOIN nb
      QUALIFY row_number() OVER (ORDER BY n_ab DESC, item_a, item_b) <= 50""",

    // a34: lifetimes/censor rule in exact epoch micros; at-risk counts
    // all integers; log-survival terms round-9 then SCALED to integer
    // doubles (x1e9), so both prefix sums are exact window/RunningTotal
    // sums and survival is one deterministic exp
    "a34_kaplan_meier" -> s"""
      WITH $riskSetSql,
      s AS (
        SELECT t, n_risk, d, alln,
               sum(round(ln(greatest(
                 1.0 - (CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)),
                 1e-300)), 9) * 1e9) OVER (ORDER BY t) AS cl
        FROM r)
      SELECT t AS t_us, CAST(n_risk AS BIGINT) AS n_risk,
             CAST(d AS BIGINT) AS n_events,
             CAST(alln - d AS BIGINT) AS n_censored,
             round(exp(cl / 1e9), 6) AS survival
      FROM s""",

    // q34: inclusive cumulative weight under the same total order
    // (unique tie-break, so RANGE peers == ROWS); integer-valued weight
    // sums are exact doubles on both engines
    "q34_weighted_median" -> """
      WITH v AS (
        SELECT l_extendedprice AS v, CAST(l_quantity AS DOUBLE) AS wt,
               l_orderkey, l_linenumber
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
      t AS (SELECT count(*) AS n, sum(wt) AS tw FROM v),
      c AS (
        SELECT v, sum(wt) OVER (ORDER BY v, l_orderkey, l_linenumber)
                 AS cw
        FROM v)
      SELECT t.n AS n, round(t.tw, 6) AS total_weight,
             round(min(c.v), 6) AS weighted_median
      FROM c CROSS JOIN t
      WHERE (c.cw * 2.0) >= t.tw
      GROUP BY t.n, t.tw""",

    // q32: hourly DECIMAL(18,6) sums, lag pairs via the same exact
    // epoch-micros arithmetic, mean/denominator trees and round-9
    // DECIMAL-summed products token-identical to the engine
    "q32_acf" -> """
      WITH s AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS h,
               sum(CAST(value AS DECIMAL(18,6))) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      st AS (
        SELECT CAST(count(*) AS BIGINT) AS n, sum(y) AS sy,
               sum(y * y) AS syy
        FROM s),
      m AS (
        SELECT (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS mean,
               (CAST(syy AS DOUBLE)
                - (CAST(n AS DOUBLE)
                   * ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))) AS d
        FROM st),
      lags AS (SELECT unnest(generate_series(1, 12)) AS lag),
      p AS (
        SELECT lags.lag,
               (CAST(a.y AS DOUBLE) - m.mean)
               * (CAST(b.y AS DOUBLE) - m.mean) AS term
        FROM s a CROSS JOIN lags
        JOIN s b ON b.h = a.h - (CAST(lag AS BIGINT) * 3600000000)
        CROSS JOIN m)
      SELECT CAST(lag AS INT) AS lag, count(*) AS n_pairs,
             round(CAST(sum(CAST(round(term, 9) AS DECIMAL(28,9)))
                        AS DOUBLE) / (SELECT d FROM m), 6) AS acf
      FROM p GROUP BY lag""",

    // q35: the q32 hourly CTE + a 25-row offset spine; the 2x24-MA
    // rides integer weights {1,2} over DECIMAL sums (exact), the
    // /(2*24) and every mean happen in mirrored double trees, phase
    // means and the grand mean are round-9 DECIMAL sums
    "q35_seasonal_decompose" -> """
      WITH s AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS h,
               sum(CAST(value AS DECIMAL(18,6))) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      offs AS (SELECT unnest(generate_series(-12, 12)) AS off),
      tr AS (
        SELECT a.h, count(*) AS c,
               sum(b.y * (CASE WHEN abs(off) = 12 THEN 1 ELSE 2 END))
                 AS ws
        FROM s a CROSS JOIN offs
        JOIN s b ON b.h = a.h + (CAST(off AS BIGINT) * 3600000000)
        GROUP BY 1),
      j AS (
        SELECT s.h, s.y,
               CASE WHEN tr.c = 25 THEN tr.ws END AS ws,
               ((s.h // 3600000000) % 24) AS ph
        FROM s LEFT JOIN tr ON tr.h = s.h),
      sm AS (
        SELECT ph,
               sum(CAST(round(CAST(y AS DOUBLE)
                 - (CAST(ws AS DOUBLE) / 48.0), 9) AS DECIMAL(28,9)))
                 AS sd,
               count(*) AS nd
        FROM j WHERE ws IS NOT NULL GROUP BY 1),
      gm AS (
        SELECT sum(CAST(round(CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE), 9)
                   AS DECIMAL(28,9))) AS smm,
               count(*) AS np
        FROM sm),
      se AS (
        SELECT ph,
               ((CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE))
                - (CAST(smm AS DOUBLE) / CAST(np AS DOUBLE))) AS seas
        FROM sm CROSS JOIN gm)
      SELECT j.h AS h_us,
             round(CAST(j.y AS DOUBLE), 6) AS y,
             round(se.seas, 6) AS seasonal,
             round(CAST(j.ws AS DOUBLE) / 48.0, 6) AS trend,
             round((CAST(j.y AS DOUBLE) - (CAST(j.ws AS DOUBLE) / 48.0))
                   - se.seas, 6) AS residual
      FROM j JOIN se USING (ph)""",

    // q33: |y_t - y_{t-l}| in DECIMAL end-to-end; the MASE tree is one
    // double division of exact sums on both engines
    "q33_mase" -> """
      WITH s AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS h,
               sum(CAST(value AS DECIMAL(18,6))) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1),
      nv AS (
        SELECT count(*) AS n_naive, sum(abs(a.y - b.y)) AS sad
        FROM s a JOIN s b ON b.h = a.h - 3600000000),
      se AS (
        SELECT count(*) AS n_seasonal, sum(abs(a.y - b.y)) AS sad
        FROM s a JOIN s b ON b.h = a.h - 86400000000)
      SELECT nv.n_naive,
             round(CAST(nv.sad AS DOUBLE) / CAST(nv.n_naive AS DOUBLE), 6)
               AS mae_naive,
             se.n_seasonal,
             round(CAST(se.sad AS DOUBLE) / CAST(se.n_seasonal AS DOUBLE), 6)
               AS mae_seasonal,
             round((CAST(se.sad AS DOUBLE) / CAST(se.n_seasonal AS DOUBLE))
                   / (CAST(nv.sad AS DOUBLE) / CAST(nv.n_naive AS DOUBLE)), 6)
               AS mase
      FROM nv CROSS JOIN se""",

    // q22: RANGE frame over epoch microseconds; DECIMAL window sum
    "q22_rolling_range" -> """
      SELECT user_id, ts,
             count(*) OVER w AS n_window,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_window
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    // q23: islands via the two-row_number difference; all integers
    "q23_scd2_islands" -> """
      WITH t AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS grp
        FROM events)
      SELECT user_id, event_type,
             min(ts_us) AS start_us, max(ts_us) AS end_us,
             count(*) AS n_in_period
      FROM t GROUP BY user_id, event_type, grp""",

    // a22: identical ln trees ((o/n)*ln((o*n)/(ra*ct)) and p*ln(p)),
    // rounded to 9, DECIMAL-summed, negated AS 0.0 - sum for entropies
    "a22_mutual_info" -> s"""
      WITH $typeValueCellsSql,
      tot AS (SELECT sum(o) AS n FROM cells),
      mi AS (
        SELECT CAST(max(tot.n) AS BIGINT) AS n,
               CAST(sum(CAST(round(
                 (CAST(cells.o AS DOUBLE) / CAST(tot.n AS DOUBLE))
                 * ln((CAST(cells.o AS DOUBLE) * CAST(tot.n AS DOUBLE))
                      / (CAST(ra.rt AS DOUBLE) * CAST(rb.ct AS DOUBLE))), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS mi_raw
        FROM cells JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot),
      ha AS (
        SELECT CAST(sum(CAST(round(
                 (CAST(ra.rt AS DOUBLE) / CAST(tot.n AS DOUBLE))
                 * ln(CAST(ra.rt AS DOUBLE) / CAST(tot.n AS DOUBLE)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS ha_raw
        FROM ra CROSS JOIN tot),
      hb AS (
        SELECT CAST(sum(CAST(round(
                 (CAST(rb.ct AS DOUBLE) / CAST(tot.n AS DOUBLE))
                 * ln(CAST(rb.ct AS DOUBLE) / CAST(tot.n AS DOUBLE)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS hb_raw
        FROM rb CROSS JOIN tot)
      SELECT mi.n, round(0.0 - ha.ha_raw, 6) AS h_a,
             round(0.0 - hb.hb_raw, 6) AS h_b,
             round(mi.mi_raw, 6) AS mi
      FROM mi CROSS JOIN ha CROSS JOIN hb""",

    // q12: (ts, event_id) is a total order per user, so every window
    // value is deterministic; DuckDB's default RANGE frame for lag /
    // row_number matches, and the moving sum pins ROWS BETWEEN
    "q12_window_analytics" -> """
      SELECT user_id, event_id,
             CAST(row_number() OVER w AS INT) AS seq,
             round(lag(value, 1) OVER w, 4) AS prev_value,
             round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_sum3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    // unicode_sum('A') = 65, 'N' = 78, 'R' = 82 — one ASCII char per flag
    "q9_sql_surface" -> """
      SELECT l_returnflag,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                            (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
             count(*) AS n,
             CAST(sum(unicode(l_returnflag)) AS BIGINT) AS flag_codepoints
      FROM lineitem
      WHERE l_quantity >= 10
      GROUP BY l_returnflag""",

    "s10_question_template" -> """
      SELECT 'o_orderpriority' AS feature,
             count(DISTINCT o_orderpriority) AS n_choices,
             string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority) AS choices
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(DISTINCT o_orderstatus),
             string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_totalprice', 0, CAST(NULL AS VARCHAR)""",

    "s12_trial_log" -> """
      SELECT * FROM (VALUES
        (0, '5', 0.81, false),
        (1, '10', 0.86, true),
        (2, '3', 0.79, false)) AS t(number, max_depth, value, is_best)""",

    "m17_target_heuristic" -> """
      SELECT 'o_orderpriority' AS orders_target, 'p_retailprice' AS part_target""",

    "s11_column_desc" -> """
      SELECT * FROM (VALUES
        ('o_orderkey', 'order primary key'),
        ('o_orderpriority', 'urgency bucket 1-5'),
        ('o_totalprice', 'order total in cents: sum of extended prices'))
        AS t(column_name, description)""")
}
