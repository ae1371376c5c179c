package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** Structured Streaming ops over the `events` stream (extension beyond the
  * reference surface — SURVEY §7.2 slice 7).
  *
  * Each transform is written against an UNBOUNDED DataFrame, so the same
  * function serves `spark.read` (backfill/oracle) and `spark.readStream`
  * (live): the Spark-idiomatic batch/streaming unification. Each
  * windowed transform sets the 2-hour event-time watermark that bounds
  * its state in a stream; Spark's analyzer drops it from a batch plan
  * (EliminateEventTimeWatermark), so the batch plan is the same with or
  * without it. Tumbling/sliding/session windows shuffle once on
  * (window, key).
  */
object Streams {

  /** `events` with the 2-hour event-time watermark on `ts`. */
  private def watermarked(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")

  /** Tumbling-window aggregate: per (1h window, event_type) count + sum.
    * State bounded by the 2h watermark in stream mode. */
  def tumblingCounts(events: DataFrame): DataFrame = {
    val src = watermarked(events)
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Sliding-window aggregate: 1h window every 30 min. */
  def slidingCounts(events: DataFrame): DataFrame = {
    val src = watermarked(events)
    src.groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
  }

  /** Session windows per user: gap-based (10 min) sessionization. */
  def userSessions(events: DataFrame, gap: String = "10 minutes"): DataFrame = {
    val src = watermarked(events)
    src.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** JSON property extraction from the props column (scalar map pass). */
  def withProps(events: DataFrame): DataFrame =
    events.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))

  /** Per-window distribution-drift monitor: chi-square statistic of
    * each 1h window's value-band histogram against a reference
    * distribution, per window — the continuous-ingestion counterpart of
    * the batch a27/a28/a30 drift checks ("alert when an hour of intake
    * stops looking like the reference"). `refProb` is an expression
    * giving the reference probability of `band` (literals or a closed
    * form — it must be row-local so the plan stays streamable).
    *
    * Identity: χ² = Σ_b (n_b − N·q_b)²/(N·q_b) = (Σ_b n_b²/q_b)/N − N,
    * so the statistic needs only per-band counts and two window-level
    * sums — which makes it expressible as TWO CHAINED windowed
    * aggregations (Spark's multiple-stateful-operator support: the
    * second groupBy re-windows on the first's window column), where
    * JS/PSI would need the window total BEFORE the per-band terms.
    * State is bounded by the watermark in stream mode; in batch the
    * same plan is two hash aggregates. Exactness: n are exact longs,
    * each n²/q term is a fixed double tree rounded to 9 and
    * DECIMAL-summed — order-independent, oracle-replayable. */
  def windowDrift(events: DataFrame, refProb: Column): DataFrame = {
    val src = watermarked(events)
    val counts = src.filter(col("value").isNotNull)
      .withColumn("band", floor(col("value") / lit(50.0)).cast("int"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("band"))
      .agg(count(lit(1)).as("n"))
    val term = (col("n").cast("double") * col("n").cast("double")) / refProb
    counts.groupBy(window(col("w"), "1 hour").as("w2"))
      .agg(sum("n").as("nw"),
        sum(round(term, 9).cast("decimal(28,9)")).as("__s2"))
      .select(col("w2.start").as("window_start"),
        col("nw").cast("long").as("n"),
        round((col("__s2").cast("double") / col("nw").cast("double"))
          - col("nw").cast("double"), 6).as("chi2_ref"))
  }

  /** Streaming hot-key monitor: per hour window, the single-key
    * dominance readout (n_events, n_keys, max_key_events, n_hot_keys
    * at an absolute per-key threshold, max_share) — the abuse/spam
    * alarm "is one user producing this hour?". Like [[windowDrift]],
    * the statistic is deliberately formulated so every output is a
    * WINDOW-LEVEL reduction of the per-key counts: two chained windowed
    * aggregations stream in append mode with watermark-bounded state,
    * where a share-per-key report would need a (stateful) join of the
    * counts against their own window total. In batch the same plan is
    * two hash aggregates. All outputs exact longs + one double ratio. */
  def windowHotKeys(events: DataFrame, keyCol: String = "user_id",
                    minEvents: Long = 20): DataFrame = {
    val src = watermarked(events)
    val per = src
      .groupBy(window(col("ts"), "1 hour").as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
    per.groupBy(window(col("w"), "1 hour").as("w2"))
      .agg(sum("n").as("__t"), count(lit(1)).as("n_keys"),
        max("n").as("max_key_events"),
        count(when(col("n") >= minEvents, 1)).as("n_hot_keys"))
      .select(col("w2.start").as("window_start"),
        col("__t").cast("long").as("n_events"),
        col("n_keys"), col("max_key_events"), col("n_hot_keys"),
        round(col("max_key_events").cast("double")
          / col("__t").cast("double"), 6).as("max_share"))
  }

  /** Streaming bootstrap MEDIAN CI per hour window (r11: a48's
    * streaming face). Every event draws its per-replicate Poisson(1)
    * multiplicity from the a47/a48 integer mix — a function of
    * (event id, replicate), never arrival order, so the replicate
    * weights are deterministic on any stream. Each (window, replicate)
    * folds into ONE `kll_quantiles_w` sketch (weighted entry, no
    * explode-by-weight), and the window's CI is a rank selection over
    * its B replicate medians — a WINDOW-LEVEL reduction, so the whole
    * readout is two chained windowed aggregations that stream in
    * append mode with watermark-bounded state (the st13/st14
    * discipline). State per window: B sketch buffers of O(k log n/k)
    * doubles. Estimates are order-dependent within the sketch bound
    * (max_rank_err ships with the row; a48's batch audit prices the
    * same construction against exact weighted medians); the degenerate
    * constant-column case is exactly reproducible and pinned by
    * StreamingSpec on a real watermark+append stream. */
  def windowBootstrapCi(events: DataFrame, valueCol: String = "value",
                        idCol: String = "event_id", p: Double = 0.5,
                        b: Int = 30, k: Int = 64): DataFrame = {
    val src = watermarked(events)
    val base = src.filter(col(valueCol).isNotNull)
      .select(col("ts"), col(valueCol).cast("double").as("__x"),
        graft.ops.Audit.bootstrapSeed(idCol).as("__m"))
    val wtd = graft.ops.Audit.poissonReplicates(base, b)
      .filter(col("__w") > 0)
    val per = wtd
      .groupBy(window(col("ts"), "1 hour").as("w"), col("__b"))
      .agg(call_function("kll_quantiles_w", col("__x"),
        col("__w").cast("long"), lit(k), array(lit(p))).as("__sk"))
      .select(col("w"), col("__b"),
        element_at(col("__sk.est"), 1).as("__q"),
        col("__sk.err").as("__e"))
    val (loR, hiR) = graft.ops.Audit.ciRanks(col("b_eff"))
    per.groupBy(window(col("w"), "1 hour").as("w2"))
      .agg(count(lit(1)).as("b_eff"),
        sort_array(collect_list(struct(col("__q"), col("__b")))).as("__qs"),
        max(col("__e")).as("max_rank_err"))
      .select(col("w2.start").as("window_start"), col("b_eff"),
        element_at(col("__qs"), loR.cast("int")).getField("__q").as("ci_lo"),
        element_at(col("__qs"), hiR.cast("int")).getField("__q").as("ci_hi"),
        col("max_rank_err"))
  }

  /** Streaming quantile monitor: per hour window, sketch-estimated
    * percentiles of `valueCol` (p50/p95 latency-style readouts) via the
    * native mergeable `kll_quantiles` aggregate — the panel that is
    * IMPOSSIBLE with exact rank selection in a stream (multi-pass).
    * ONE windowed aggregation whose per-window state is the
    * O(k log(n/k))-double sketch buffer (serialized to the state
    * store like any TypedImperativeAggregate), watermark-bounded in
    * stream mode; in batch the identical plan is one object hash
    * aggregate. Output rows carry the exact window count AND the
    * sketch's worst-case rank-error bound, so every estimate ships
    * with its own accuracy certificate
    * ([[graft.ops.Quantiles.auditEstimates]] is the batch audit). */
  def windowQuantiles(events: DataFrame, valueCol: String = "value",
                      probs: Seq[Double] = Seq(0.5, 0.95), k: Int = 64): DataFrame = {
    val src = watermarked(events)
    src.filter(col(valueCol).isNotNull)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(call_function("kll_quantiles", col(valueCol).cast("double"),
        lit(k), array(probs.map(lit): _*)).as("__sk"))
      .select(col("w.start").as("window_start"), col("__sk.n").as("n"),
        col("__sk.err").as("rank_err_bound"), posexplode(col("__sk.est")))
      .select(col("window_start"), col("n"), col("rank_err_bound"),
        element_at(array(probs.map(lit): _*), col("pos") + 1)
          .as("percentile"),
        col("col").as("estimate"))
  }

  /** Streaming exact dedup for continuous ingestion (the training-data
    * pipeline's "don't index the same document twice" step): on a
    * stream, `dropDuplicatesWithinWatermark` keeps the first arrival per
    * key and EVICTS key state once the watermark passes — state is
    * bounded by (keys per `delay` horizon), not by stream history. On a
    * batch frame the same call site does a plain `dropDuplicates`
    * backfill. Duplicates farther apart than `delay` are kept (that is
    * the documented horizon trade-off that makes 100 TB/day feasible). */
  def dedupByKey(src: DataFrame, keyCols: Seq[String], tsCol: String = "ts",
                 delay: String = "2 hours"): DataFrame =
    if (src.isStreaming)
      src.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)
    else src.dropDuplicates(keyCols)

  /** Interval (time-window) join: pairs with the same key where the
    * right event lands within `[left.ts, left.ts + gapSec]`. When either
    * side is a stream this is Spark's native stream join — watermarks on
    * BOTH sides plus the time-range condition let the engine evict join
    * state older than the horizon, so state is bounded by the event rate
    * × delay, not stream history. On two batch frames the same call site
    * delegates to [[graft.ops.RangeJoin.within]] (the gap-bucket
    * equi-join — a raw inequality join would re-pair each key's whole
    * history). Output columns are `l_`/`r_`-prefixed in both modes. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, gapSec: Long,
                   delay: String = "2 hours"): DataFrame =
    if (!left.isStreaming && !right.isStreaming)
      graft.ops.RangeJoin.within(left, right, keyCol, tsCol, gapSec)
    else {
      val l = left.select(left.columns.map(c => col(c).as(s"l_$c")): _*)
        .withWatermark(s"l_$tsCol", delay)
      val r = right.select(right.columns.map(c => col(c).as(s"r_$c")): _*)
        .withWatermark(s"r_$tsCol", delay)
      l.join(r,
        col(s"l_$keyCol") === col(s"r_$keyCol") &&
          col(s"r_$tsCol") >= col(s"l_$tsCol") &&
          col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $gapSec SECONDS"))
    }

  /** Stream-static enrichment join — the most common production
    * streaming shape: each event picks up its dimension row (user
    * profile, product metadata) from a BATCH table. The static side is
    * broadcast, so in stream mode every micro-batch joins map-side with
    * zero stateful shuffle (no watermark needed — the static side is
    * not a stream, there is no join state to bound); in batch mode the
    * same call is a plain broadcast left join. Dimension columns ride
    * along; unmatched keys keep nulls. */
  def enrichJoin(events: DataFrame, dim: DataFrame, keyCol: String,
                 dimKeyCol: String): DataFrame =
    events.join(broadcast(dim), col(keyCol) === col(dimKeyCol), "left")
      .drop(dimKeyCol)

  /** Run any of the transforms as a REAL stream from parquet files into an
    * in-memory sink; returns the query (caller awaits/stops). Used by the
    * spec to prove stream-mode execution, not just batch semantics. */
  def runFileStream(spark: SparkSession, sourceDir: String, schema: org.apache.spark.sql.types.StructType,
                    transform: DataFrame => DataFrame, sinkName: String,
                    mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    transform(stream).writeStream
      .format("memory").queryName(sinkName)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
