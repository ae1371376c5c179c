package graft.queries

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.Streams
import Q.QueryFn

/** Driver-checked queries for the streaming transforms, evaluated in batch
  * mode (Spark's batch/stream unification makes the logical plan
  * identical); StreamingSpec runs the same transforms through a real
  * readStream → memory sink and asserts equality with these results.
  */
object StreamingQueries {

  /** The near-duplicate `pairs` (Jaccard >= 0.7) of the `corpus` CTE
    * over its [[Q.shingleSetSql]] 3-shingles `sh`, whose per-doc counts
    * are `sizes` (st11, st7). */
  private val corpusPairsSql: String = s"""
      sh AS (${Q.shingleSetSql("doc_id", "corpus", 3)}),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      pairs AS (SELECT id_a, id_b
                FROM prs JOIN sizes na ON na.doc_id = id_a
                         JOIN sizes nb ON nb.doc_id = id_b
                WHERE CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) >= 0.7)"""

  val queries: Map[String, QueryFn] = Map(
    "st1_tumbling_window" -> ((s, dir) =>
      Streams.tumblingCounts(Tables.events(s, dir))),

    "st2_sliding_window" -> ((s, dir) =>
      Streams.slidingCounts(Tables.events(s, dir))),

    "st3_session_window" -> ((s, dir) =>
      Streams.userSessions(Tables.events(s, dir))),

    "st4_json_props" -> ((s, dir) =>
      Streams.withProps(Tables.events(s, dir))
        .groupBy("event_type").agg(sum("k").as("sum_k"), count(lit(1)).as("n"))),

    "st13_window_drift" -> ((s, dir) =>
      // streaming drift monitor (r8), batch path: per-hour chi-square
      // of the value-band histogram vs a closed-form reference
      // (q_b = (b+1)/55 over bands 0..9) through TWO chained windowed
      // aggregations; StreamingSpec proves the same transform on a
      // real watermark+append stream
      Streams.windowDrift(Tables.events(s, dir),
        (col("band").cast("double") + lit(1.0)) / lit(55.0))),

    "st14_window_hotkeys" -> ((s, dir) =>
      // streaming hot-key monitor (r9), batch path: per-hour single-key
      // dominance (window-level reductions only, so it streams as two
      // chained aggregations); StreamingSpec proves batch==stream on a
      // real watermark+append stream
      Streams.windowHotKeys(Tables.events(s, dir), "user_id",
        minEvents = 20)),

    "st15_window_quantiles" -> ((s, dir) => {
      // streaming percentile monitor (r10), batch path: the SAME
      // windowQuantiles transform (one windowed kll_quantiles
      // aggregate), its order-dependent estimates then verified
      // in-engine by the exact-vs-bound contract — n and exact_value
      // replay in DuckDB, within_bound pins to literal TRUE;
      // StreamingSpec proves the contract holds on a real
      // watermark+append stream too (estimates differ, bound never)
      val ev = Tables.events(s, dir)
      graft.ops.Quantiles.auditEstimates(
        ev.withColumn("window_start", date_trunc("hour", col("ts"))),
        "value",
        Streams.windowQuantiles(ev, "value", Seq(0.5, 0.95), k = 64),
        "window_start")
    }),

    "st16_window_bootstrap_ci" -> ((s, dir) =>
      // streaming bootstrap median CI (r11), batch-audited form: the
      // full a48 contract per hour window — CI endpoints from EXACT
      // per-replicate weighted medians (DuckDB-replayable),
      // all_within_bound proves each (window, replicate) kll_quantiles_w
      // estimate sits in its weighted-rank interval. StreamingSpec
      // drives Streams.windowBootstrapCi (the sketch-only, two-chained-
      // windowed-aggregation production form) on a real watermark+append
      // stream and pins its invariants
      graft.ops.Audit.bootstrapQuantileCi(
        Tables.events(s, dir)
          .withColumn("window_start", date_trunc("hour", col("ts"))),
        "window_start", "value", "event_id", p = 0.5, b = 30,
        sketchK = 64)),

    "st5_big_spender" -> ((s, dir) =>
      graft.streaming.Stateful.bigSpenderBatch(Tables.events(s, dir), threshold = 500.0)),

    "st6_stream_dedup" -> ((s, dir) => {
      // batch path of the unified dedup call site over a dup-planted
      // stream; the REAL-stream path (watermark state eviction) is
      // proven by StreamingSpec against this same function
      val e = Tables.events(s, dir)
      Streams.dedupByKey(e.unionByName(e), Seq("event_id"))
        .agg(count(lit(1)).as("n_rows"), count_distinct(col("event_id")).as("n_ids"))
    }),

    "st10_stream_static_join" -> ((s, dir) =>
      // stream-static enrichment, batch path: events pick up their
      // user's market segment from the customer dim (broadcast — zero
      // stateful shuffle in stream mode); StreamingSpec runs the same
      // join on a real file stream
      Streams.enrichJoin(Tables.events(s, dir),
          Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
          "user_id", "c_custkey")
        .groupBy("event_type", "c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))),

    "st9_interval_join" -> ((s, dir) => {
      // stream-stream interval join, batch path: every view paired with
      // the same user's purchases within the following hour. The batch
      // side is RangeJoin.within's gap-bucket equi-join; StreamingSpec
      // proves the REAL watermarked stream-stream join emits the
      // identical pair set
      val e = Tables.events(s, dir)
      Streams.intervalJoin(
        e.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
        e.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
        "user_id", "ts", gapSec = 3600)
        .select(col("l_event_id"), col("r_event_id"), col("l_user_id"))
    }),

    "st8_vector_ingest" -> ((s, dir) => {
      // one VectorIngest.step against a fresh ANN index of the embedding
      // corpus: 10 verbatim dups (+30000, dropped vs history) + 10
      // negated vectors (+31000, cosine -1 -> novel, kept). Rows-only
      // (k-means); VectorIngestSpec drives the real two-file stream.
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val batch = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 30000).as("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
          .select((col("vec_id") + 31000).as("vec_id"),
            transform(col("embedding"), x => -x).as("embedding")))
      val ixDir = java.nio.file.Files.createTempDirectory("st8ix").toString
      graft.ops.AnnIndex.save(graft.ops.AnnIndex.build(e, "embedding", "vec_id",
        nlist = 8), ixDir, mode = "overwrite")
      graft.streaming.VectorIngest.step(batch, ixDir, "embedding", "vec_id",
        threshold = 0.99, nprobe = 8).select("vec_id")
    }),

    "st12_streaming_matview" -> ((s, dir) => {
      // streaming materialized view (r6): a REAL two-file readStream
      // appends partitioned data and incrementally maintains the
      // AggManifest per micro-batch (batch 1 builds, batch 2 refreshes
      // only its touched partitions). The oracle aggregates the
      // replayed final dataset from scratch — equality proves the
      // incremental path AND batch-boundary independence; the
      // engine-side pin additionally checks manifest == direct scan.
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
      val b1 = docs.filter(col("doc_id") < 150)
      val b2 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 300)
      val root = Q.tempDir("graft_st12")
      val srcDir = s"$root/src"
      new java.io.File(srcDir).mkdirs()
      for ((b, name, age) <- Seq((b1, "f1", 20000L), (b2, "f2", 10000L))) {
        b.coalesce(1).write.parquet(s"$srcDir/$name")
        val part = new java.io.File(s"$srcDir/$name").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$srcDir/$name"))
        dst.setLastModified(System.currentTimeMillis() - age)
      }
      val out = s"$root/ds"
      graft.streaming.MatView.start(s, srcDir, docs.schema,
        graft.streaming.MatView.Config(out, "lang", "n_chars"),
        s"$root/cp").awaitTermination()
      val m = graft.io.AggManifest.read(s, out)
      val scanAgg = s.read.parquet(out)
        .groupBy(col("lang").cast("string").as("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("decimal(28,6)")).as("sum_v"))
      val eq = m.exceptAll(scanAgg).count() == 0 &&
        scanAgg.exceptAll(m).count() == 0
      m.select(col("lang"), col("n"), col("sum_v").cast("double").as("sum_v"))
        .withColumn("manifest_equals_scan", lit(eq))
    }),

    "st11_corpus_pipeline" -> ((s, dir) => {
      // END-TO-END streaming corpus pipeline (ingest-dedup -> bloom
      // decontamination -> quality gate -> partitioned sink), run as a
      // REAL two-file readStream, then re-run as the batch fold of the
      // same step over the same files. The returned rows are the
      // stream's surviving corpus; `stream_equals_batch` pins the
      // bit-for-bit equality of the two paths engine-side, and the
      // DuckDB oracle independently replays the whole pipeline
      // (incremental LSH drop rule across both batches, exact shingle
      // decontamination, quality threshold).
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      val b1 = docs.filter(col("doc_id") < 100)
      val b2 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .unionByName(docs.filter(col("doc_id") < 25)
          .select((col("doc_id") + 30000).as("doc_id"), col("lang"),
            concat(col("text"), lit(" extra token")).as("text")))
        .unionByName(docs.filter(col("doc_id") >= 100 && col("doc_id") < 110)
          .select((col("doc_id") + 31000).as("doc_id"), col("lang"),
            concat(col("text"), lit(" extra token")).as("text")))
      val root = Q.tempDir("graft_st11")
      val srcDir = s"$root/src"
      new java.io.File(srcDir).mkdirs()
      // two single-file batches with strictly ordered mod times so the
      // file stream processes f1 before f2
      for ((b, name, age) <- Seq((b1, "f1", 20000L), (b2, "f2", 10000L))) {
        b.coalesce(1).write.parquet(s"$srcDir/$name")
        val part = new java.io.File(s"$srcDir/$name").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$srcDir/$name"))
        dst.setLastModified(System.currentTimeMillis() - age)
      }
      val schema = docs.schema
      val benchmark = docs.filter(col("doc_id") >= 50 && col("doc_id") < 60)
      val bloom = graft.ops.Dedup.benchmarkBloom(benchmark, "text", "doc_id",
        n = 3, expectedShingles = 200000L)
      def freshIndex(path: String): Unit =
        graft.ops.LshIndex.save(graft.ops.LshIndex.build(docs.limit(0),
          "text", "doc_id", n = 3, bands = 21, rowsPerBand = 3), path)
      def cfg(ix: String, out: String) = graft.streaming.CorpusPipeline.Config(
        indexPath = ix, threshold = 0.7, bloom = bloom, n = 3,
        maxOverlap = 0.8, minQuality = 0.75, outDir = out,
        partitionCol = "lang")
      // stream path
      freshIndex(s"$root/ixS")
      graft.streaming.CorpusPipeline.start(s, srcDir, schema,
        cfg(s"$root/ixS", s"$root/outS"), s"$root/cp").awaitTermination()
      // batch path: fold the SAME step over the SAME files in order
      freshIndex(s"$root/ixB")
      for (f <- Seq("f1", "f2"))
        graft.streaming.CorpusPipeline.step(
          s.read.parquet(s"$srcDir/$f.parquet"), cfg(s"$root/ixB", s"$root/outB"))
      val outS = s.read.parquet(s"$root/outS").select("doc_id", "lang", "text")
      val outB = s.read.parquet(s"$root/outB").select("doc_id", "lang", "text")
      val equal = outS.exceptAll(outB).isEmpty && outB.exceptAll(outS).isEmpty
      outS.select(col("doc_id"), col("lang"))
        .withColumn("stream_equals_batch", lit(equal))
    }),

    "st7_ingest_dedup" -> ((s, dir) => {
      // one IngestDedup.step against a fresh index of the corpus: batch =
      // 25 perturbed corpus docs (near-dups of history, dropped) + 25
      // token-REVERSED docs (novel shingle sets, kept). The real
      // file-stream path (cross-batch index growth) is IngestDedupSpec;
      // the drop rule here is the exact oracle below.
      val corpus = Tables.documents(s, dir).select("doc_id", "text")
      val batch = corpus.filter(col("doc_id") < 25)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
        .unionByName(corpus.filter(col("doc_id") >= 25 && col("doc_id") < 50)
          .select((col("doc_id") + 31000).as("doc_id"),
            concat_ws(" ", reverse(graft.ops.Text.tokens(col("text")))).as("text")))
      val ixDir = java.nio.file.Files.createTempDirectory("st7ix").toString
      // buildAndSave (r14): one shingle-stage execution instead of one
      // per table write — output-identical index
      graft.ops.LshIndex.buildAndSave(corpus, "text", "doc_id",
        n = 3, bands = 21, rowsPerBand = 3, path = ixDir, mode = "overwrite")
      graft.streaming.IngestDedup.step(batch, ixDir, "text", "doc_id",
        threshold = 0.7).select("doc_id")
    }))

  val oracles: Map[String, String] = Map(
    // st14: per-(hour, user) counts re-aggregated per hour — all exact
    // longs, one mirrored double ratio
    "st14_window_hotkeys" -> """
      WITH per AS (
        SELECT date_trunc('hour', ts) AS w, user_id, count(*) AS n
        FROM events GROUP BY 1, 2),
      agg AS (
        SELECT w, sum(n) AS t, count(*) AS n_keys, max(n) AS mx,
               count(CASE WHEN n >= 20 THEN 1 END) AS n_hot
        FROM per GROUP BY 1)
      SELECT w AS window_start, CAST(t AS BIGINT) AS n_events,
             n_keys, CAST(mx AS BIGINT) AS max_key_events,
             n_hot AS n_hot_keys,
             round(CAST(mx AS DOUBLE) / CAST(t AS DOUBLE), 6) AS max_share
      FROM agg""",

    // st15: hour windows = epoch-aligned date_trunc; target rank
    // r = greatest(1, ceil(p*n)) as IEEE doubles (DOUBLE[] cast keeps
    // DuckDB off decimals), exact value at rank r via partitioned
    // row_number; within_bound literal TRUE vs the engine's real
    // rank-interval check on the sketch estimates
    "st15_window_quantiles" -> """
      WITH base AS (
        SELECT date_trunc('hour', ts) AS w, CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL),
      sizes AS (SELECT w, count(*) AS n FROM base GROUP BY 1),
      p AS (SELECT unnest(CAST([0.5, 0.95] AS DOUBLE[])) AS percentile),
      tgt AS (SELECT sizes.w, p.percentile, sizes.n,
                greatest(1, CAST(ceil(p.percentile * CAST(sizes.n AS DOUBLE))
                                 AS BIGINT)) AS tr
              FROM sizes CROSS JOIN p),
      rk AS (SELECT w, x, row_number() OVER (PARTITION BY w ORDER BY x) AS r
             FROM base)
      SELECT tgt.w AS window_start, tgt.percentile,
             CAST(tgt.n AS BIGINT) AS n,
             round(rk.x, 6) AS exact_value,
             TRUE AS within_bound
      FROM tgt JOIN rk ON rk.w = tgt.w AND rk.r = tgt.tr""",

    // st16: the a48 replay with g = the hour window, 30 replicates
    "st16_window_bootstrap_ci" -> Q.bootstrapMedianCiSql("window_start",
      "date_trunc('hour', ts)", "value IS NOT NULL AND ts IS NOT NULL", 30),

    // st13: hour windows = epoch-aligned date_trunc; the n²/q terms
    // (q = (band+1)/55) rounded to 9 and DECIMAL-summed per window,
    // chi2 = S2/N − N with the engine's exact tree
    "st13_window_drift" -> """
      WITH b AS (
        SELECT date_trunc('hour', ts) AS ws,
               CAST(floor(value / 50.0) AS INT) AS band
        FROM events WHERE value IS NOT NULL),
      c AS (SELECT ws, band, count(*) AS n FROM b GROUP BY 1, 2),
      w AS (
        SELECT ws, sum(n) AS nw,
               CAST(sum(CAST(round(
                 (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 / ((CAST(band AS DOUBLE) + 1.0) / 55.0), 9)
                 AS DECIMAL(28,9))) AS DOUBLE) AS s2
        FROM c GROUP BY 1)
      SELECT ws AS window_start, CAST(nw AS BIGINT) AS n,
             round((s2 / CAST(nw AS DOUBLE)) - CAST(nw AS DOUBLE), 6)
               AS chi2_ref
      FROM w""",

    "st10_stream_static_join" -> """
      SELECT e.event_type, c.c_mktsegment, count(*) AS n,
             round(sum(e.value), 4) AS sum_value
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY 1, 2""",

    // inclusive [ts, ts + 1h] bounds at microsecond granularity — the
    // same contract as the engine's unix_micros arithmetic
    "st9_interval_join" -> """
      SELECT v.event_id AS l_event_id, p.event_id AS r_event_id,
             v.user_id AS l_user_id
      FROM events v JOIN events p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
      WHERE v.event_type = 'view' AND p.event_type = 'purchase'""",

    // st8: with nprobe = nlist the dup check is EXACT (all cells
    // probed), so the kept set is deterministic: the 10 negated
    // (novel) vectors survive, the 10 verbatim dups drop
    "st8_vector_ingest" -> """
      SELECT CAST(vec_id + 31000 AS BIGINT) AS vec_id
      FROM embeddings WHERE vec_id >= 10 AND vec_id < 20""",

    // st11: full pipeline replay — batch1 (ids < 100) dedups against an
    // empty index (within-batch components), batch2 (ids >= 100, incl.
    // the +30000/+31000 plants) drops on any pair into batch-1 SURVIVORS
    // (history wins; dropped batch-1 docs never entered the index) plus
    // within-batch components; then exact shingle decontamination vs
    // docs 50..59 and the quality threshold. stream == batch is pinned
    // engine-side; this replay pins WHAT both compute.
    // st12: from-scratch aggregate over the replayed ingested set —
    // however the stream chopped it, the manifest cannot differ
    "st12_streaming_matview" -> """
      SELECT lang, count(*) AS n,
             CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS sum_v,
             true AS manifest_equals_scan
      FROM documents WHERE doc_id < 300 GROUP BY lang""",

    "st11_corpus_pipeline" -> s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id < 200
        UNION ALL SELECT doc_id + 30000, lang, text || ' extra token'
        FROM documents WHERE doc_id < 25
        UNION ALL SELECT doc_id + 31000, lang, text || ' extra token'
        FROM documents WHERE doc_id >= 100 AND doc_id < 110),
      $corpusPairsSql,
      p11 AS (SELECT id_a, id_b FROM pairs WHERE id_a < 100 AND id_b < 100),
      e1 AS (SELECT id_a AS src, id_b AS dst FROM p11
             UNION SELECT id_b, id_a FROM p11),
      reach1 AS (SELECT src AS id, dst AS r FROM e1
                 UNION SELECT reach1.id, e.dst FROM reach1 JOIN e1 e ON e.src = reach1.r),
      drop1 AS (SELECT id FROM reach1 GROUP BY id
                HAVING least(id, min(r)) <> id),
      surv1 AS (SELECT doc_id FROM corpus WHERE doc_id < 100
                AND doc_id NOT IN (SELECT id FROM drop1)),
      old2 AS (SELECT id_b AS id FROM pairs
               WHERE id_b >= 100 AND id_a IN (SELECT doc_id FROM surv1)
               UNION SELECT id_a FROM pairs
               WHERE id_a >= 100 AND id_b IN (SELECT doc_id FROM surv1)),
      p22 AS (SELECT id_a, id_b FROM pairs WHERE id_a >= 100 AND id_b >= 100),
      e2 AS (SELECT id_a AS src, id_b AS dst FROM p22
             UNION SELECT id_b, id_a FROM p22),
      reach2 AS (SELECT src AS id, dst AS r FROM e2
                 UNION SELECT reach2.id, e.dst FROM reach2 JOIN e2 e ON e.src = reach2.r),
      drop2 AS (SELECT id FROM reach2 GROUP BY id
                HAVING least(id, min(r)) <> id),
      surv2 AS (SELECT doc_id FROM corpus WHERE doc_id >= 100
                AND doc_id NOT IN (SELECT id FROM old2)
                AND doc_id NOT IN (SELECT id FROM drop2)),
      kept AS (SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv2),
      bsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id BETWEEN 50 AND 59),
      hits AS (SELECT s.doc_id, count(*) AS h FROM sh s
               JOIN bsh ON s.sh = bsh.sh GROUP BY 1),
      contam AS (SELECT k.doc_id FROM kept k
                 JOIN sizes z ON z.doc_id = k.doc_id
                 JOIN hits h ON h.doc_id = k.doc_id
                 WHERE h.h > 0 AND h.h >= z.n_sh * 0.8)
      SELECT c.doc_id, c.lang, true AS stream_equals_batch
      FROM corpus c JOIN kept k ON k.doc_id = c.doc_id
      WHERE c.doc_id NOT IN (SELECT doc_id FROM contam)
        AND ${TextQueries.qualitySql} >= 0.75""",

    // kept = batch docs with NO >= 0.7 Jaccard pair into the corpus AND
    // min of their within-batch near-dup component (the step() drop rule)
    "st7_ingest_dedup" -> s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 30000, text || ' extra token'
        FROM documents WHERE doc_id < 25
        UNION ALL SELECT doc_id + 31000,
          array_to_string(list_reverse(string_split_regex(trim(text), '\\s+')), ' ')
        FROM documents WHERE doc_id >= 25 AND doc_id < 50),
      $corpusPairsSql,
      oldpair AS (SELECT id_b AS id FROM pairs WHERE id_b >= 30000 AND id_a < 30000
                  UNION SELECT id_a FROM pairs WHERE id_a >= 30000 AND id_b < 30000),
      nn AS (SELECT id_a, id_b FROM pairs WHERE id_a >= 30000 AND id_b >= 30000),
      ${Q.reachSql("nn")},
      comp AS (SELECT n.id, ${Q.ComponentSql} AS c FROM nodes n),
      dropped AS (SELECT id FROM oldpair UNION SELECT id FROM comp WHERE c <> id),
      batch AS (SELECT doc_id + 30000 AS doc_id FROM documents WHERE doc_id < 25
                UNION ALL SELECT doc_id + 31000 FROM documents
                WHERE doc_id >= 25 AND doc_id < 50)
      SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT id FROM dropped)""",

    "st1_tumbling_window" -> """
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events GROUP BY 1, 2""",

    "st2_sliding_window" -> """
      WITH cand AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start,
               event_type, ts
        FROM events, (SELECT unnest([0, 1]) AS k))
      SELECT window_start, event_type, count(*) AS n
      FROM cand
      WHERE ts < window_start + INTERVAL '1 hour' AND ts >= window_start
      GROUP BY 1, 2""",

    "st3_session_window" -> """
      WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '10 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events),
      s AS (SELECT user_id, ts, value,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM g)
      SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             round(sum(value), 4) AS sum_value
      FROM s GROUP BY user_id, sid""",

    "st4_json_props" -> """
      SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             count(*) AS n
      FROM events GROUP BY 1""",

    "st5_big_spender" -> """
      WITH r AS (SELECT user_id, value,
                        sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
                 FROM events)
      SELECT user_id, round(running, 4) AS total_at_crossing
      FROM r WHERE running >= 500.0 AND running - value < 500.0""",

    "st6_stream_dedup" -> """
      WITH doubled AS (SELECT event_id FROM events UNION ALL SELECT event_id FROM events)
      SELECT count(DISTINCT event_id) AS n_rows, count(DISTINCT event_id) AS n_ids
      FROM doubled""")
}
