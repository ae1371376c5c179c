package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory. Local defaults tuned for the test harness
  * (local[32], 128 GiB box); on a real cluster the same settings minus
  * `master` apply — AQE owns runtime re-planning, shuffle partitions are
  * a starting point that AQE coalesces/splits.
  *
  * `spark.sql.ansi.enabled=false` deliberately: the engine reproduces the
  * reference's pandas `errors='coerce'` semantics (failed casts/parses
  * yield null, never throw) — see SURVEY.md §1.2/§2.2 (P9) and
  * reference `align_columns_ui.py:176-257`.
  */
object Sessions {
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // AQE's coalescer (parallelismFirst=true) only respects
    // minPartitionSize (default 1 MiB) as the floor — but this engine's
    // shuffle payloads are narrow 8-16 byte keys carrying CPU-DENSE work
    // (md5/object aggregates over compressed sub-MB blocks), so the
    // 1 MiB floor routinely coalesced them to ONE task and serialized
    // the stage (measured: d2's per-doc set aggregate 0.58 s in one
    // task). 64 KiB keeps such stages parallel; at cluster scale the
    // floor is irrelevant (real partitions are orders of magnitude
    // larger — parallelism and advisory size govern).
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.ui.enabled", "false")
    // TypedImperativeAggregates (topk_pairs and friends) plan as
    // ObjectHashAggregate, which silently FALLS BACK to sort-based
    // aggregation after 128 distinct keys per partition (the default
    // fallback threshold) — re-introducing exactly the external sort of
    // the candidate stream that the bounded-state aggregate exists to
    // avoid (measured: b10_smote_enn 484 s at sf1 with the fallback vs
    // map-side hash truncation without). The engine's object-aggregate
    // buffers are all O(k) (k = a neighbor/explainer count), so a
    // million hashed keys per partition is ~100 MB, not a spill risk.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
    // Spark's generated-class cache is one LRU per JVM, sized from the
    // active session's conf on first use; its default of 100 classes is
    // below what one pass of a long-lived session re-runs (perfbench:
    // corpus_x5 148 classes a pass, tabular_board 192), so the LRU never
    // hit and every pass recompiled everything (JFR: 13-17% of a pass's
    // CPU samples in CodeGenerator.doCompile; 22 or fewer compiles and
    // 1% at 4096). The 123
    // headline queries compile 1,746 distinct classes at sf0.01 and
    // 1,712 at sf0.1 (Profile `compiles`, warm reps); 4096 holds that
    // with room. Cost: ~15 MB more metaspace at the end of a board run.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.sql.parquet.compression.codec", "zstd")
    // pyarrow-written TIMESTAMP(NANOS) columns (events.ts) are otherwise
    // unreadable; Tables.events converts the long back to a timestamp.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The one session builder of every main and the test fixture:
    * `local[cores]`, with shuffle partitions equal to the core count. */
  def local(appName: String = "graft", cores: String = "32"): SparkSession = {
    val s = tune(SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
