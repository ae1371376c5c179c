package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops._

/** End-to-end demonstration of the TRAINING-CORPUS value loop — the
  * 100 TB-shaped path the engine adds beyond the reference's tabular ML
  * loop ([[Demo]]): profile → Gopher rules + quality filter →
  * repeated-span audit → exact dedup → quality-aware near-dup keep-one →
  * decontaminate → DSIR domain selection → build LSH index →
  * incremental batch ingest → leakage-safe split → chunk → pack →
  * hybrid-retrieval sanity probe.
  * Runs on sf0.001 in ~1 min: `sbt "runMain graft.CorpusDemo"`.
  */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.Sessions.local("graft-corpus-demo", cores = "4")
    val out = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    println(s"[demo] corpus: ${docs.count()} docs")

    // 1. normalize, then Gopher rule audit + quality gate +
    //    repeated-span audit (all map-only passes)
    val normed = docs.withColumn("text", Text.normalizeText(col("text")))
    val gopher = normed.withColumn("g", Text.gopherRules(col("text")))
    println(s"[demo] gopher rule panel passes: " +
      s"${gopher.filter(col("g.passes")).count()} of ${gopher.count()}")
    val scored = normed.withColumn("q", Text.qualityScore(col("text")))
    val kept0 = scored.filter(col("q") >= 0.3).drop("q")
    val spanStats = Dedup.dupSpanStats(kept0, "text", "doc_id", minTokens = 10)
    println(f"[demo] quality kept ${kept0.count()}; mean dup-span frac " +
      f"${spanStats.agg(avg("dup_frac")).head().getDouble(0)}%.4f")

    // 1b. cross-document boilerplate line removal (CCNet line rule) —
    //     on this fixture no line crosses the df threshold, proving the
    //     rule passes clean corpora through untouched
    val debp = Dedup.removeBoilerplateLines(kept0, "text", "doc_id", maxDocs = 50)
    println(s"[demo] boilerplate line pass: ${debp.count()} docs survive")

    // 2. exact + near dedup — each cluster keeps its LONGEST member
    //    (quality-aware keep-one, not blind min-id)
    val exact = Dedup.exactDedup(kept0, "text", "doc_id")
    val pairs = Dedup.minhashLshPairs(exact, "text", "doc_id", n = 3,
      bands = 21, rowsPerBand = 3, threshold = 0.7)
    val canon = Dedup.keepBest(exact, pairs, "doc_id", length(col("text")))
    println(s"[demo] exact dedup ${exact.count()} -> canonical ${canon.count()}")

    // 3. decontaminate against a small "benchmark" (first 5 docs, verbatim)
    val bench = canon.limit(5).select((col("doc_id") + 90000).as("doc_id"), col("text"))
    val clean = Dedup.decontaminate(canon, bench, "text", "doc_id", n = 3,
      maxOverlap = 0.8)
    println(s"[demo] decontaminated -> ${clean.count()}")

    // 3b. DSIR domain selection: treat the 30 longest docs as the
    //     "target domain" sample, pick the 50 most target-like others
    val tgt = clean.orderBy(length(col("text")).desc, col("doc_id")).limit(30)
    val raw = clean.join(tgt.select("doc_id"), Seq("doc_id"), "left_anti")
    val selected = Dsir.selectTopK(raw, tgt, "text", "doc_id", k = 50)
    println(s"[demo] DSIR selected ${selected.count()} target-like docs " +
      "(hashed n-gram importance weights)")

    // 4. index the clean corpus, then ingest a perturbed batch incrementally
    val ixDir = s"$out/ix"
    LshIndex.save(LshIndex.build(clean, "text", "doc_id", 3, 21, 3), ixDir)
    val batch = clean.limit(10)
      .select((col("doc_id") + 50000).as("doc_id"),
        concat(col("text"), lit(" extra token")).as("text"))
    val keptNew = graft.streaming.IngestDedup.step(batch, ixDir, "text", "doc_id", 0.7)
    println(s"[demo] batch of ${batch.count()} -> ${keptNew.count()} kept " +
      "(near-dups of indexed history dropped)")

    // 5. leakage-safe split, chunk, pack
    val split = Balancing.groupSplit(clean, "doc_id", pairs, testFraction = 0.1)
    val train = split.filter(col("split") === "train").drop("split")
    val chunks = Corpus.chunkDocs(train, "text", "doc_id",
      chunkTokens = 64, overlapTokens = 8)
    val packed = Corpus.packSequences(
      chunks.select(concat_ws("#", col("id"), col("chunk_id")).as("doc_id"),
        col("chunk").as("text")), // unique per-chunk id keeps the pack order total
      "text", "doc_id", budget = 512)
    println(s"[demo] train ${train.count()} docs -> ${chunks.count()} chunks -> " +
      s"${packed.agg(count_distinct(col("seq_id"))).head().getLong(0)} packed sequences")

    // 5b. per-source length profile + token-budget mix on the full
    //     table (source column lives there), then a compacted release
    val withSrc = Tables.documents(spark, sf).select("doc_id", "text", "source")
    val prof = Corpus.lengthPercentiles(withSrc, "text", "doc_id", "source")
    println(s"[demo] length quartiles over ${prof.count()} sources")
    val mixed = Corpus.mixToTokenBudget(withSrc, "text", "doc_id", "source",
      budgets = withSrc.select("source").distinct().collect()
        .map(_.getString(0) -> 300L).toMap)
    println(s"[demo] token-budget mix kept ${mixed.count()} docs " +
      s"(${mixed.agg(sum("n_tokens")).head().getLong(0)} tokens)")
    val relDir = s"$out/release"
    graft.io.CorpusSink.writePartitioned(mixed, relDir, "source",
      maxRecordsPerFile = 5L)
    val (fb, fa) = graft.io.CorpusSink.compact(spark, relDir,
      targetBytes = 1L << 30, partitionCol = Some("source"))
    println(s"[demo] release compacted: $fb -> $fa files")

    // 6. reproducible training order
    val shuffled = Corpus.deterministicShuffle(
      chunks.select(concat_ws("#", col("id"), col("chunk_id")).as("chunk_key"),
        col("chunk")), "chunk_key")
    println(s"[demo] shuffled first chunk_key: " +
      shuffled.orderBy("shuffle_rank").select("chunk_key").head().getString(0))

    // 7. hybrid-retrieval sanity probe over the cleaned corpus:
    //    BM25 rank list fused with a token-count proxy ranking via RRF
    val bm = Retrieval.rankBy(Lexicon.bm25Search(clean, "text", "doc_id",
      Seq("data", "join", "filter")), "doc_id", "score", k = 20)
    val byLen = Retrieval.rankBy(clean.select(col("doc_id"),
      Text.tokenCount(col("text")).cast("double").as("score")),
      "doc_id", "score", k = 20)
    val fused = Retrieval.rrfFuse(bm.select("doc_id", "rank"),
      byLen.select("doc_id", "rank"), "doc_id", k = 5)
    println(s"[demo] hybrid top-5 doc ids: " +
      fused.collect().map(_.getLong(0)).mkString(", "))
    spark.stop()
  }
}
