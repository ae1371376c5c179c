package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR at local[32], prints ONE JSON line.
  *
  * Headline set = one performance-representative query per operator
  * family (scan/agg/window/join/encode/hash/impute/trim/dedup/similarity/
  * text/streaming/multimodal). The quadratic-candidate balancing ops are
  * correctness-gated in Verify but excluded here: their cost is dominated
  * by planted-pathology candidate joins, not engine throughput.
  * SPARK_GRAFT_BENCH_ALL=1 runs everything.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q8_asof_join", "a1_value_counts", "a7_column_stats",
    "a8_corr_matrix", "p3_range_filter", "e1_onehot", "e3_target_encode",
    "h2_feature_hash", "i1_mean_fill", "i4_interpolate",
    "i8_regression_impute", "b12_trim_equal", "b13_trim_proportional",
    // d22 replaced d4 here in r6: the 16-bit fixture call saturates its
    // key space at the 10x bench (quadratic candidates); d22 is the
    // scale-correct 48-bit form. d4 stays correctness-gated in Verify.
    "d1_exact_dedup", "d2_ngram_jaccard", "d3_minhash_lsh", "d22_simhash64",
    "d5_cosine_dup", "d6_dup_components", "d7_decontaminate",
    "d9_incremental_lsh", "d10_dup_spans", "d13_para_dedup",
    "d17_boilerplate_lines", "t38_token_budget_mix",
    "d15_decontaminate_maponly", "b17_group_split",
    "s1_ann_topk", "t1_token_count", "t2_quality_score",
    "t4_fingerprint", "t7_repetition", "t8_pack_sequences",
    "t9_source_mix", "t12_tfidf", "t13_lm_score", "t16_chunk_docs",
    "t17_normalize", "t29_dsir_select", "t30_winnow", "t31_bm25",
    "t41_sentence_chunks", "t42_char_entropy",
    "t46_html_extract", "t47_link_extract", "t48_host_rank",
    "t52_web_pipeline",
    "st1_tumbling_window", "st3_session_window",
    "mm2_feature_extract",
    // r6 event-time / data-quality / linkage additions
    "q20_sessionize", "q22_rolling_range", "a19_quality_audit",
    "a23_melt", "d24_entity_resolution",
    // r8: new operators enter the headline the round they land (r6 rule
    // #8 — operators that never get timed regress silently): the
    // Kneser-Ney and adaptive DoReMi loops, Kernel SHAP (full + budgeted
    // coalitions), and the p=3 Gram ridge
    "t49b_doremi_kn", "t49c_doremi_adaptive", "m24_kernel_shap",
    "m24b_kernel_shap_budget", "m23b_ridge_gram",
    // r8 second batch: drift checks, conformal intervals, quantile
    // binning, UniMax allocation, Misra-Gries heavy hitters
    "a27_psi", "a28_ks_drift", "e8_quantile_bin", "m26_conformal",
    "t57_unimax", "t58_heavy_hitters",
    // r8 third batch: the statistics/evaluation layer, leakage-safe
    // encoding, Zipf fit, and the chained-agg streaming drift monitor
    "a29_woe_iv", "a30_js_drift", "a31_anova_f", "a32_jackknife_se",
    "a33_gini", "m27_lift_gains", "m28_reliability", "m29_ols_inference",
    "m30_isotonic", "e9_oof_target_encode", "t59_zipf",
    "st13_window_drift", "q32_acf", "q33_mase", "a34_kaplan_meier",
    "q34_weighted_median", "a35_pair_rules", "a36_psi_panel",
    "a37_two_proportion", "a38_cusum", "d25_jw_scores",
    "d26_dl_distance", "a39_nelson_aalen", "a40_logrank", "m31_ece",
    // r9: the KN-adaptive DoReMi loop and the p=5 general-Gram ridge
    "t49d_doremi_kn_adaptive", "m23c_ridge_gram5",
    // r9 second batch: rank-based drift tests, effect size, Brier
    // decomposition, paired-model test, ordered target encoding
    "a41_mann_whitney", "a42_cramers_v", "a43_spearman", "m32_brier",
    "m34_mcnemar", "e10_ordered_target_encode",
    "q35_seasonal_decompose", "t60_nb_quality",
    "a44_levene", "s34_ann_recall", "a45_bh_fdr", "st14_window_hotkeys",
    "m33_pr_curve", "m35_cohen_kappa",
    // r10: mergeable quantile sketch (batch audit + streaming panel),
    // perceptual-hash image near-dup
    "a46_kll_quantiles", "st15_window_quantiles", "mm8_phash_dedup",
    "mm9_phash_components", "mm10_audio_fingerprint", "a47_bootstrap_ci",
    "b21_hash_sample", "b22_weighted_sample",
    // r11: video near-dup over ordered frame-hash shingles; KLL-backed
    // quantile consumers (sketch binning/winsorize audits) and the
    // Poisson-bootstrap median CI
    "mm11_video_near_dup", "e8b_sketch_bin", "a14b_sketch_winsorize",
    "a48_bootstrap_quantile_ci", "st16_window_bootstrap_ci")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_RELIABLE_CKPT=<dir>: run every Materialize.frame site
    // in reliable-checkpoint mode (the dynamic-allocation posture) —
    // the r10 A/B that prices graft.checkpoint.reliable=true.
    sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").foreach { dir =>
      spark.conf.set(graft.core.Materialize.ReliableKey, "true")
      spark.sparkContext.setCheckpointDir(dir)
    }
    val all = SparkEntry.queries
    // SPARK_GRAFT_BENCH_ONLY=a,b,c times an explicit subset (ad-hoc
    // measurements outside the headline); BENCH_ALL=1 times everything.
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(list) => list.split(",").toSeq.filter(all.contains)
      case None =>
        if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) all.keys.toSeq.sorted
        else headline.filter(all.contains)
    }
    // Warm every headline plan at the smallest SF before timing: codegen
    // compiles per generated class (schema-dependent, data-independent),
    // so a ~500-doc run JITs the exact classes the timed run executes —
    // the measurement then reflects engine throughput, not javac. Falls
    // back to the single-query warmup when no sibling sf0.001 exists.
    val warmDir = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
    if (warmDir.isDirectory && warmDir.getPath != sfDir)
      names.foreach { n =>
        try all(n)(spark, warmDir.getPath).count() catch { case _: Throwable => () }
      }
    else all("q1_pricing_summary")(spark, sfDir).count()
    // Per-query variance between single runs is +-2x (scheduler and GC
    // noise dominate sub-second queries), so round-over-round claims need
    // a median: SPARK_GRAFT_REPEAT=N (or --repeat N, default 3) times
    // each query N times and reports the per-query MEDIAN. Repeats run
    // back to back per query so plan/codegen state is identical.
    val repeat = math.max(1,
      args.sliding(2).collectFirst { case Array("--repeat", n) => n.toInt }
        .orElse(sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt))
        .getOrElse(3))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Session hygiene between timed repeats (r15, r14-VERDICT #1 suspect
    // (b)): every finished query leaves its localCheckpoint blocks pinned
    // in the storage pool until driver GC collects the RDD handle, so a
    // 123-query single-JVM board accumulates dead blocks that compete
    // with execution memory exactly when 32 concurrent object-heavy
    // tasks need it. Freeing them AFTER each repeat (outside the timed
    // region — the next repeat re-executes everything from parquet, so
    // nothing computed survives into any timed region).
    // NOT result caching: no query output or intermediate is retained.
    def freeSessionState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    freeSessionState() // drop warmup-run leftovers before the first timing
    val results = names.map { name =>
      // a failed repeat poisons the whole entry to -1 (the artifact
      // family's failure sentinel — recheck.py/scale_probe.py skip
      // negatives): the old shape recorded time-to-CRASH as if it were
      // a measurement, which read an sf10 OOM as a 7-second "speedup"
      // (r13). The error goes to stderr with the query name.
      val times = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { all(name)(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: " +
              s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
            false
        }
        val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        freeSessionState()
        dt
      }
      val m = if (times.exists(_ < 0)) -1.0 else median(times)
      // progress to STDERR (the driver greps the stdout JSON line only):
      // a hung/cliffed query at a new scale is identifiable mid-run
      System.err.println(f"[bench] $name $m%.2f s " +
        times.map(t => f"$t%.2f").mkString("(", " ", ")"))
      name -> m
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // r13 ADVICE: 'total' excludes failed (-1) queries, so a crashing
    // board would read SMALLER than a passing one — the explicit failed
    // count makes a partial board uncomparable-by-total at a glance.
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"queries":$qs,"sf":"$sfDir","repeat":$repeat}""")
    spark.stop()
  }
}
