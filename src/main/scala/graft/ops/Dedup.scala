package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication for training-data pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design: every variant avoids the O(n^2) cross join. Candidate
  * pairs come from an inverted-index/banding SHUFFLE JOIN on a short key
  * (shingle, LSH band, simhash block); only candidates are verified
  * exactly. That is the standard web-scale recipe: the shuffle volume is
  * O(docs x shingles) with heavy-key pruning, never O(n^2).
  */
object Dedup {

  /** Exact dedup: canonical row = min (id, rest of row) per identical
    * `textCol` — ONE min-struct aggregate keyed by md5(text). The struct
    * leads with the id, so min() keeps the lowest id and breaks id ties
    * by the remaining columns' values: exactly one row survives per text
    * even when idCol repeats (the old min+join-back shape kept every row
    * matching the min id). Scale: min() gets map-side partial
    * aggregation, so a pathologically hot text (the same document
    * ingested millions of times) collapses to one candidate row per input
    * partition BEFORE the shuffle instead of sorting through one reducer;
    * the shuffle carries one row per (partition, text), strictly less
    * than the old winners-join which re-shuffled the whole frame. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val rest = (idCol +: df.columns.filterNot(_ == idCol).toSeq)
    df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(struct(rest.map(col): _*)).as("__first"))
      .select(df.columns.map(c => col(s"__first.`$c`").as(c)): _*)
  }

  /** Distinct word n-gram shingles of a text column (array form — the
    * interpreted-lambda path; fine for small frames and the specs'
    * reference semantics). The SCALE path is [[shingleRows]]. */
  def shingles(c: Column, n: Int): Column = {
    val toks = Text.tokens(c)
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Shingle rows (id, sh), NOT yet deduplicated — ZERO-shuffle: shingle
    * i is row i of `arrays_zip` over n shifted `slice`s of the token
    * array, exploded and `concat_ws`-joined. Every step is a plain
    * codegen collection expression (no higher-order-function lambdas, no
    * window): shingling runs at parquet-scan speed with NO exchange. (The
    * previous shape built shingles with `lead()` over an id-partitioned
    * window — a full shuffle AND sort of every token row; profiled at
    * sf0.1 that window was most of d2/d3/d7's cost.)
    *
    * Documents shorter than n tokens contribute their whole
    * whitespace-normalized text as ONE shingle via the `when` branch —
    * same output contract as before. ZERO-token docs (empty /
    * whitespace-only text) take that same short-doc path:
    * `split(trim(text))` yields `[""]`, so their single shingle is the
    * empty string. Empty duplicates therefore still cluster in d2/d3
    * (Jaccard 1.0 via {""} = {""}) and an empty benchmark doc
    * decontaminates empty corpus docs — nothing silently bypasses
    * shingle-based dedup (DedupSpec pins this; the DuckDB oracles carry a
    * matching short-doc branch). A NULL text has no tokens and no
    * shingles (`size` of the null array is negative): it is never a
    * duplicate and never contaminated, as on the map-only
    * `shingle_hashes` path. */
  private[ops] def shingleRowsRaw(df: DataFrame, textCol: String, idCol: String,
                                  n: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__toks"))
    val sz = size(col("__toks"))
    val m = sz - (n - 1) // full-shingle count when sz >= n
    val full = arrays_zip((0 until n).map(j =>
      slice(col("__toks"), lit(j + 1), greatest(m, lit(0))).as(j.toString)): _*)
    val short = array(struct((concat_ws(" ", col("__toks")).as("0") +:
      (1 until n).map(j => lit(null).cast(StringType).as(j.toString))): _*))
    base
      .select(col("id"), explode(when(sz >= n, full).when(sz >= 0, short)).as("__sh"))
      .select(col("id"), concat_ws(" ",
        (0 until n).map(j => col("__sh").getField(j.toString)): _*).as("sh"))
  }

  /** Distinct shingles as EXPLODED rows (id, sh). Profiling at sf0.1: the
    * array-lambda `shingles` form cost 6.7 s of the minhash pipeline;
    * this shape is the fix. */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleRowsRaw(df, textCol, idCol, n).dropDuplicates("id", "sh")

  /** Distinct shingles as EXPLODED 60-bit HASH rows (id, __h) — the d2/d3
    * hot-path shape. The one explicit repartition-by-id exchange moves
    * the COMPACT (id, text) rows and the tokenize + shingle + md5 run
    * AFTER it (r15): fewer shuffled bytes than the former exploded
    * hash-row shuffle (16 B per shingle occurrence ~ 16 B per token vs
    * the token's ~6 B of text, shipped once), and the CPU-dense
    * tokenize+md5 runs at shuffle parallelism instead of the ONE task a
    * single-row-group fixture scan provides. Aliases preserve the
    * partitioning attribution, so the dedup aggregate's (id, __h)
    * clustering AND every later groupBy("id") hang off this single
    * exchange (AQE stage reuse materializes it once). */
  def shingleHashRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    shingleRowsRaw(df.select(col(idCol), col(textCol)).repartition(col(idCol)),
        textCol, idCol, n)
      .select(col("id"), Hashing.md5Int(col("sh")).as("__h"))
      .dropDuplicates("id", "__h")

  /** POSITIONED shingle hash rows (id, pos, __h) — no dedup (positions
    * matter), no short-doc branch (a doc under n tokens has no length-n
    * span). Same exchange-free arrays_zip construction as
    * [[shingleRowsRaw]]; pos is 0-based token offset. */
  private[ops] def shinglePosRows(df: DataFrame, textCol: String, idCol: String,
                                  n: Int): DataFrame = {
    val base = df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__toks"))
    val sz = size(col("__toks"))
    val m = sz - (n - 1)
    val full = arrays_zip((0 until n).map(j =>
      slice(col("__toks"), lit(j + 1), greatest(m, lit(0))).as(j.toString)): _*)
    base.filter(sz >= n)
      .select(col("id"), posexplode(full).as(Seq("pos", "__sh")))
      .select(col("id"), col("pos"), Hashing.md5Int(concat_ws(" ",
        (0 until n).map(j => col("__sh").getField(j.toString)): _*)).as("__h"))
  }

  /** Exact repeated token spans — the "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al., 2022) exact-substring signal in
    * a shingle-hash formulation Spark can run without a distributed
    * suffix array: a length-`minTokens` span is DUPLICATED when its
    * shingle hash occurs >= 2 times anywhere in the corpus (cross- or
    * within-doc); overlapping/adjacent duplicated spans merge into
    * maximal intervals per doc. Returns (id, span_start, span_end) in
    * 0-based token offsets, span_end inclusive.
    *
    * Scale: the duplicated-hash set is an aggregate semi-join on the
    * 8-byte shingle hash (map-side partial counts; repeated content is
    * the only thing that survives the >= 2 filter); the island merge is a
    * per-DOC window — bounded by document length, never corpus-sized. */
  def dupSpans(df: DataFrame, textCol: String, idCol: String,
               minTokens: Int): DataFrame = {
    // repartition by hash (r14): the positioned-shingle explode (tokenize
    // + md5 per position) feeds BOTH the duplicated-hash aggregate and
    // the probe side of the semi join — without a shared exchange below
    // it, the explode executed twice; with it, ReuseExchange computes it
    // once and both consumers (clustered by __h) hang off that shuffle.
    val sh = shinglePosRows(df, textCol, idCol, minTokens)
      .repartition(col("__h"))
    val dup = sh.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__h")
    val hits = sh.join(dup, "__h").select("id", "pos")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
    hits
      .withColumn("__brk", when(col("pos") - lag("pos", 1).over(w) > minTokens, 1)
        .otherwise(0))
      .withColumn("__isl", sum("__brk").over(w))
      .groupBy(col("id"), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") + minTokens - 1).as("span_end"))
      .select("id", "span_start", "span_end")
  }

  /** Rewrite documents with token spans REMOVED — the cut step after
    * [[dupSpans]] (aggressive mode: every listed span goes; pass a
    * keep-first-filtered span list for Lee-et-al keep-one semantics).
    * Tokens survive unless covered by one of their doc's (span_start,
    * span_end) intervals; survivors rejoin in original order. The span
    * join is id-equi with a range residual (per-doc interval lists are
    * bounded); reassembly is a per-doc bounded collect_list. Docs whose
    * every token is cut vanish (same contract as [[dedupParagraphs]]).
    * Returns (id, text). */
  def cutSpans(df: DataFrame, spans: DataFrame, textCol: String,
               idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      posexplode(Text.tokens(col(textCol))).as(Seq("pos", "tok")))
    val kept = toks.join(spans,
      toks("id") === spans("id") &&
        toks("pos") >= spans("span_start") && toks("pos") <= spans("span_end"),
      "left_anti")
    kept.groupBy("id")
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("pos"), col("tok"))))
          .getField("tok")).as(textCol))
      .select(col("id").as(idCol), col(textCol))
  }

  /** Per-doc duplicated-token budget from [[dupSpans]]: (id, n_tokens,
    * dup_tokens, dup_frac) for every doc — the RefinedWeb-style "drop or
    * trim docs that are mostly duplicated text" filter signal. Docs with
    * no duplicated span report 0. */
  def dupSpanStats(df: DataFrame, textCol: String, idCol: String,
                   minTokens: Int): DataFrame = {
    val spans = dupSpans(df, textCol, idCol, minTokens)
      .groupBy("id").agg(sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    df.select(col(idCol).as("id"), size(Text.tokens(col(textCol))).as("n_tokens"))
      .join(spans, Seq("id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac", col("dup_tokens").cast(DoubleType) / col("n_tokens"))
  }

  /** Candidate pairs sharing >=1 shingle, with exact Jaccard similarity.
    * `maxDocsPerShingle` prunes stop-shingles (a shingle shared by half
    * the corpus generates quadratic pairs but never decides near-dup).
    *
    * AllPairs/PPJoin-style PREFIX FILTERING (Chaudhuri et al. 2006,
    * Bayardo et al. 2007 — public method): per-doc shingle sets are
    * sorted by the global (docFreq asc, hash asc) order and only the
    * first `n_sh - ceil(t*n_sh) + 1` shingles are indexed. Any pair with
    * Jaccard >= t has common >= ceil(t*n_d) for BOTH docs (c >= t(n+c)-tc
    * algebra), and by the prefix-filtering lemma two sets meeting that
    * overlap share an element inside both prefixes — so joining prefixes
    * only is EXACT, while candidate volume drops quadratically with the
    * prefix fraction (rare shingles lead the order, so prefix postings
    * are short). Survivors are verified with `array_intersect` over the
    * full per-doc hash arrays — no per-occurrence pair expansion, no
    * giant groupBy(pair) shuffle of every co-occurrence row. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
                        threshold: Double, maxDocsPerShingle: Int = 1000): DataFrame = {
    // join key = 60-bit md5 of the shingle: an 8-byte shuffle key instead
    // of the n-word string (collision odds ~ |shingles|^2 / 2^60 — nil).
    // The by-id exchange is applied inside jaccardPairsAuto (after the
    // size probe) so every consumer hangs off ONE exchange: ReuseExchange
    // materializes the scan+shingle explode once, the downstream
    // groupBy(id) aggregates see their clustering satisfied, and the
    // doc-frequency branch reads the SAME exchange output instead of
    // re-scanning the corpus.
    val sh = shingleHashRows(df, textCol, idCol, n)
      .withColumnRenamed("__h", "sh")
    // Dispatch bound computed MAP-ONLY from token counts (r14): raw
    // shingle rows per doc = 1 if sz < n else sz - n + 1 (the exact
    // shingleRowsRaw emission), and distinct occurrences can only be
    // fewer — a valid occBound. The generic cappedCount probe on `sh`
    // executed the whole shingle stage a second time (its early-stop
    // iterators sit ABOVE the dedup aggregate, whose first output row
    // still needs the full map stage + shuffle): one duplicated heavy
    // leaf stage per jaccard call in the d2/b17 profiles. This scan
    // tokenizes only — no md5, no explode, no exchange — and is
    // strictly cheaper at every scale.
    val sz = size(graft.ops.Text.tokens(col(textCol)))
    val rawBound = df
      .agg(coalesce(sum(when(sz < n, 1L)
        .otherwise((sz - (n - 1)).cast(LongType))), lit(0L)))
      .head.getLong(0)
    jaccardPairsAuto(sh, threshold, maxDocsPerShingle, rawBound)
  }

  /** Occurrence-count boundary between the two pair-generation shapes:
    * below it the FUSED per-doc collect_list aggregate (fewer fixed
    * stages — ~0.6 s cheaper on sub-second fixtures, r13 recheck mm11)
    * is strictly better; above it the window-rank + ppjoin shape wins
    * (the fused object aggregate buffers |occurrences| structs and
    * spilled the sf10 heap — r13 ProfileJaccard). ~1M is where the r13
    * phase profiles crossed. */
  private[graft] val FusedOccLimit = 1000000L

  /** Capped row-count probe: reads at most ~max(limit/partitions, 64k)
    * rows per partition (each partition's iterator stops at the cap, so
    * the probe never pays a full pass on a big frame). Returns
    * Some(exactTotal) when the frame is provably <= limit rows; None
    * when it is bigger OR any partition hit the cap (a skewed frame
    * under the limit reads as "big" — conservative: both consumers are
    * exact, only the stage shape differs). */
  private[graft] def cappedCount(df: DataFrame, limit: Long): Option[Long] = {
    val probe = df.select(lit(1).as("__one"))
    val parts = math.max(1, probe.rdd.getNumPartitions).toLong
    val cap = math.max(limit / parts, 65536L) + 1L
    val counts = probe.rdd.mapPartitions { it =>
      var c = 0L
      while (c < cap && it.hasNext) { it.next(); c += 1 }
      Iterator.single(c)
    }.collect()
    val total = counts.sum
    if (counts.exists(_ >= cap) || total > limit) None else Some(total)
  }

  /** Shape dispatch for exact-Jaccard pair generation (r13 VERDICT #2):
    * fused aggregate under [[FusedOccLimit]] feature occurrences,
    * window-rank + ppjoin above. `occBound` is an upper bound on the
    * occurrence count of `sh`, computed by the caller from a cheaper
    * input than `sh` (token counts in [[ngramJaccardPairs]], a capped
    * frame-row count in [[Multimodal.videoNearDupPairs]];
    * `Long.MaxValue` when unknown): pass a bound, not a guess — a
    * too-small bound on a big frame revives the r13 sf10
    * object-aggregate spill. */
  private[graft] def jaccardPairsAuto(sh: DataFrame, threshold: Double,
                                      maxDocsPerShingle: Int,
                                      occBound: Long): DataFrame = {
    val small = occBound <= FusedOccLimit
    // No repartition here (r14): both callers already arrive id-clustered
    // ([[shingleHashRows]] exchanges by id for its per-doc dedup and its
    // aggregate preserves that partitioning; [[Multimodal.videoShingles]]
    // groups by media_id) — the former explicit repartition(id) was a
    // SECOND full exchange of the occurrence frame on every call. A
    // caller with unclustered input still computes correctly: the per-doc
    // aggregates below insert their own exchange.
    if (small) jaccardPairsFused(sh, threshold, maxDocsPerShingle)
    else jaccardPairsFromShingles(sh, threshold, maxDocsPerShingle)
  }

  /** Small-input pair generation: ONE per-doc object aggregate serves
    * prefix extraction AND exact verification (sort_array over (df, sh)
    * structs = the global rarest-first order). Output-identical to
    * [[jaccardPairsFromShingles]] — same prefix lemma, same size-ratio
    * filter, same verify — but 4 fewer fixed stages: the right shape
    * when |occurrences| is fixture-sized, the WRONG shape at corpus
    * scale (the aggregate buffers every occurrence struct on the heap;
    * see the r13 reshape notes below). Dispatch via [[jaccardPairsAuto]]. */
  private[graft] def jaccardPairsFused(sh: DataFrame, threshold: Double,
                                       maxDocsPerShingle: Int): DataFrame = {
    // Broadcast hints throughout (r14): this path only runs when the
    // dispatch proved total occurrences <= FusedOccLimit (~1M), so the
    // vocab table, the per-doc prefix rows, and the per-doc verify sets
    // are ALL bounded small by construction — every join below builds a
    // <= occurrence-sized hash relation and the id-clustered exchange
    // stays the only shuffle before the pair dedup. (The at-scale path
    // [[jaccardPairsFromShingles]] keeps its shuffle joins: there the
    // vocab is corpus-sized.)
    val dfCounts = sh.groupBy("sh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocsPerShingle)
    val pruned = sh.join(broadcast(dfCounts), "sh")
    val docs = pruned.groupBy("id").agg(
      sort_array(collect_list(struct(col("__df"), col("sh")))).as("__ordered"),
      count(lit(1)).as("n_sh"))
    // ceil(t*n) - 1e-9: FP error may only LENGTHEN the prefix (safe)
    val prefLen = (col("n_sh") - ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + 1).cast("int")
    val prefix = docs.select(col("id"), col("n_sh"),
      explode(slice(col("__ordered.sh"), lit(1), prefLen)).as("sh"))
    val cand = prefix.as("a").join(broadcast(prefix.as("b")),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
          greatest(col("a.n_sh"), col("b.n_sh")) * lit(threshold) <=
            least(col("a.n_sh"), col("b.n_sh")) + lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyPairsJaccard(cand, docs.select(col("id"),
      col("__ordered.sh").as("__set"), col("n_sh")), threshold,
      broadcastSets = true)
  }

  /** The full exact-Jaccard near-dup discipline over PRE-COMPUTED
    * feature rows `sh` = (id, sh: long) — one row per (document,
    * feature-hash); the caller owns what a "feature" is (word n-grams
    * for [[ngramJaccardPairs]], ordered frame-hash shingles for the
    * video fingerprint, anything set-shaped). Input should arrive
    * id-clustered (repartition(col("id"))) so the two aggregates and
    * the verify scan hang off one exchange. */
  private[graft] def jaccardPairsFromShingles(sh: DataFrame, threshold: Double,
                                              maxDocsPerShingle: Int): DataFrame = {
    // stop-shingle prune over the FULL universe: Jaccard is then
    // consistent with the pair-common counts (stop-shingles are removed
    // from the feature set, not just from the join). Doc frequencies
    // come from an AGGREGATE + JOIN, not a Window.partitionBy(sh): the
    // counts table is vocabulary-sized after map-side combine.
    //
    // r13 reshape (sf10 phase profile, ProfileJaccard): the former
    // collect_list(struct)+sort_array per-doc aggregate was the d6
    // monster — an OBJECT hash aggregate materializing |occurrences|
    // structs into per-doc arrays (and spilling the 8g bench heap) just
    // to slice a prefix. Three changes, all output-identical:
    //   1. the global rarest-first (df, sh) rank now comes from a
    //      row_number WINDOW — a codegen sort of narrow rows, no object
    //      buffers, and the same window yields n_sh via count(*);
    //   2. the pair dedup aggregate also applies the PPJOIN-style
    //      suffix bound: m shared prefix elements with last match at
    //      ranks (pa, pb) admit at most m + min(na-pa, nb-pb) common
    //      shingles — every unmatched common element sits strictly
    //      after the last match in BOTH prefixes under the shared
    //      global order — so candidates that cannot reach the required
    //      overlap ceil(t(na+nb)/(1+t)) die before the array join
    //      (sf10: 10.4M candidates -> the verify set);
    //   3. verification arrays are collected ONLY for docs that appear
    //      in surviving candidates (left_semi) — the one remaining
    //      object aggregate is proportional to the near-dup-involved
    //      corpus, not the whole corpus.
    val dfCounts = sh.groupBy("sh").agg(count(lit(1)).as("__df"))
    val keepCounts = dfCounts.filter(col("__df") <= maxDocsPerShingle)
    // the inner join attaches df for ordering AND drops hot shingles
    val withDf = sh.join(keepCounts, "sh")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id")
    val ranked = withDf.select(col("id"), col("sh"),
      row_number().over(byDoc.orderBy(col("__df"), col("sh"))).as("__pos"),
      count(lit(1)).over(byDoc).as("n_sh"))
    // ceil(t*n) - 1e-9: FP error may only LENGTHEN the prefix (safe)
    val prefLen = (col("n_sh") - ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + 1).cast("int")
    val prefix = ranked.filter(col("__pos") <= prefLen)
    // size-ratio filter (J>=t forces t*max<=min); 1e-9 slack only
    // over-keeps — a wrong drop would lose a true pair
    val joined = prefix.as("a").join(prefix.as("b"),
      col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
        greatest(col("a.n_sh"), col("b.n_sh")) * lit(threshold) <=
          least(col("a.n_sh"), col("b.n_sh")) + lit(1e-9))
    // pair aggregate = the old dropDuplicates shuffle, now also carrying
    // the suffix-bound stats (max pos on each side comes from the SAME
    // shared element — the global-order maximum of the matched set)
    val candAll = joined.groupBy(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("__na"), col("b.n_sh").as("__nb"))
      .agg(count(lit(1)).as("__m"),
        max(col("a.__pos")).as("__pa"), max(col("b.__pos")).as("__pb"))
    val required = ceil((col("__na") + col("__nb")) * lit(threshold)
      / lit(1.0 + threshold) - lit(1e-9))
    // no Materialize here (the pair generators' no-persisted-RDD
    // contract, DedupSpec): `cand` is consumed twice below, but the two
    // subtrees are identical so ReuseExchange computes the pair-join
    // shuffle once
    val cand = candAll
      .filter(col("__m") + least(col("__na") - col("__pa"),
        col("__nb") - col("__pb")) >= required)
      .select("id_a", "id_b")
    val candIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val sets = withDf.join(candIds, Seq("id"), "left_semi")
      .groupBy("id").agg(collect_list(col("sh")).as("__set"),
        count(lit(1)).as("n_sh"))
    verifyPairsJaccard(cand, sets, threshold)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * per-doc shingle-hash arrays `sets` = (id, __set: array<long>, n_sh).
    * `array_intersect` runs inside codegen per pair row — the candidate
    * frame is joined twice on its ids and never expanded per shingle
    * occurrence (the old shape shuffled |pairs| x |shingles| rows into a
    * groupBy(pair); this shuffles |pairs| rows carrying two arrays). */
  private def verifyPairsJaccard(cand: DataFrame, sets: DataFrame,
                                 threshold: Double,
                                 broadcastSets: Boolean = false): DataFrame = {
    // broadcastSets (r14): the fused small-input path's per-doc arrays
    // are occurrence-bounded (<= FusedOccLimit longs total), so building
    // them as broadcast hash relations spares the candidate frame two
    // hash exchanges. Both sides join the SAME canonical frame (aliases
    // only differ), so exchange reuse builds the broadcast — and the
    // object aggregate feeding it — ONCE; the former per-side renamed
    // projections were distinct subtrees and re-ran the aggregate per
    // side. The at-scale path keeps shuffle joins (its sets are
    // proportional to the near-dup-involved corpus).
    def side(d: DataFrame): DataFrame = if (broadcastSets) broadcast(d) else d
    val keep = cand.columns.map(col).toSeq
    cand
      .join(side(sets.as("__vsa")), col("id_a") === col("__vsa.id"))
      .select((keep :+ col("__vsa.__set").as("__sa") :+
        col("__vsa.n_sh").as("na")): _*)
      .join(side(sets.as("__vsb")), col("id_b") === col("__vsb.id"))
      .select((keep :+ col("__sa") :+ col("na") :+
        col("__vsb.__set").as("__sb") :+ col("__vsb.n_sh").as("nb")): _*)
      .withColumn("common", size(array_intersect(col("__sa"), col("__sb"))).cast(LongType))
      .withColumn("jaccard", col("common").cast(DoubleType) / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signature: k permutations h_i(x) = (a_i * md5Int(x) + b_i) mod p,
    * signature element i = min over shingles. Deterministic params from a
    * seeded LCG so any engine can reproduce them. */
  val MinhashP = 2147483647L
  def minhashParams(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var s = seed
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); math.abs(s % (MinhashP - 1)) + 1 }
    Seq.fill(k)((next(), next()))
  }

  /** Per-band 64-bit LSH keys straight from the signature aggregate:
    * (id, key) rows where key = xxhash64(band, min_{b*r} .. min_{b*r+r-1})
    * — the band index is folded INTO the hash, so banding (and the
    * candidate self-join) carries one long per (doc, band) instead of an
    * array slice + band column. Input is [[shingleHashRows]] output. */
  def minhashBandKeys(shingleHashed: DataFrame, idCol: String, bands: Int,
                      rowsPerBand: Int, seed: Long = 42L): DataFrame = {
    val k = bands * rowsPerBand
    val params = minhashParams(k, seed)
    val ex = shingleHashed.withColumn("__hp", pmod(col("__h"), lit(MinhashP)))
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("__hp") + lit(b), lit(MinhashP))).as(s"__m$i")
    }
    val sigs = ex.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bandKeys = (0 until bands).map { b =>
      xxhash64((lit(b) +: (0 until rowsPerBand).map(r =>
        col(s"__m${b * rowsPerBand + r}"))): _*)
    }
    sigs.select(col(idCol), explode(array(bandKeys: _*)).as("key"))
  }

  /** MinHash+LSH near-dup pairs: signatures banded into `bands` groups of
    * `rowsPerBand`; pairs sharing any band key are verified with exact
    * Jaccard and filtered at `threshold`. Shuffle key = one 64-bit band
    * hash — short and uniform.
    *
    * `maxDocsPerBand` (0 = unbounded) is the HOT-BUCKET guard: a band
    * key shared by k docs emits k(k-1)/2 candidate pairs — at 100 TB a
    * boilerplate page repeated a million times is a 5*10^11-pair bucket.
    * Above the cap the bucket emits STAR edges to its min id instead
    * (k-1 pairs): connectivity is preserved, so [[components]]-based
    * keep-one dedup still collapses the whole cluster, while the
    * quadratic blowup disappears. Trade-off: non-star pairs of a hot
    * bucket are not emitted individually, and a star edge that fails
    * exact verification can split a marginal cluster — use the cap for
    * canonicalization pipelines, not for exhaustive pair reporting. */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String, n: Int,
                      bands: Int, rowsPerBand: Int, threshold: Double,
                      seed: Long = 42L, maxDocsPerBand: Int = 0): DataFrame = {
    // No persist: shingleHashRows leaves the frame hash-partitioned by id,
    // so the signature aggregate, the size aggregate, and the verify scan
    // all hang off ONE window exchange (ReuseExchange) — no cache entry
    // to own, nothing to leak across corpus runs (r2 VERDICT item 7).
    val ex = shingleHashRows(df, textCol, idCol, n)
    val banded = minhashBandKeys(ex, "id", bands, rowsPerBand, seed)
    val cand0 =
      if (maxDocsPerBand <= 0)
        banded.as("a").join(banded.as("b"),
            col("a.key") === col("b.key") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
        val sized = banded.withColumn("__bn", count(lit(1)).over(w))
          .withColumn("__bmin", min("id").over(w))
        val small = sized.filter(col("__bn") <= maxDocsPerBand)
        val smallCand = small.as("a").join(small.as("b"),
            col("a.key") === col("b.key") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        val starCand = sized
          .filter(col("__bn") > maxDocsPerBand && col("id") =!= col("__bmin"))
          .select(col("__bmin").as("id_a"), col("id").as("id_b"))
        smallCand.unionByName(starCand)
      }
    val cand = cand0.dropDuplicates("id_a", "id_b")
    // exact verify anchored on the candidate PAIRS (a shingle self-join
    // would blow up quadratically on hot shingles): join each pair with
    // both docs' full hash ARRAYS and intersect in codegen — no
    // per-occurrence expansion, no groupBy(pair) over occurrence rows
    val sets = ex.groupBy("id").agg(collect_list(col("__h")).as("__set"),
      count(lit(1)).as("n_sh"))
    verifyPairsJaccard(cand, sets, threshold)
  }

  /** SimHash: `bits`-wide signature; bit j set iff more than half the
    * tokens have bit j of md5Int(token) set. SimHash is ROW-LOCAL, and
    * since r4 the implementation is too: the native `simhash64`
    * expression ([[graft.functions.SimHash64]]) loops tokens inside
    * whole-stage codegen — MAP-ONLY, no explode, no shuffle, and no
    * token-count bound (the old packed-counter shape exploded every
    * token through a groupBy and failed loudly at 2^16 tokens/doc).
    * A null `textCol` yields a null signature (the row stays). */
  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int): DataFrame =
    df.select(col(idCol).as("id"),
      call_function("simhash64", Text.tokens(col(textCol)), lit(bits)).as("simhash"))

  /** SimHash near-dup pairs at Hamming distance <= maxDist. Candidate
    * generation is Manku-style block banding: the signature splits into
    * `maxDist + blocksPerKey` blocks, and any pair within distance must
    * leave >= blocksPerKey blocks UNTOUCHED (pigeonhole), so each doc is
    * keyed under every C(nBlocks, blocksPerKey) combination of
    * blocksPerKey block values and pairs join on combination-key
    * equality; exact popcount verifies.
    *
    * `blocksPerKey` is the precision/fan-out lever: 1 gives the classic
    * match-one-block scheme (key width bits/(maxDist+1) — FINE while the
    * key space dwarfs the corpus, quadratic once it saturates: the r6
    * 10x bench caught 12-bit keys at 100k docs collecting 41M candidates
    * for 320k true pairs, 8.5x the uniform-hash floor because templated
    * documents CORRELATE block values). 3 widens the key to
    * 3·bits/(maxDist+3) bits — e.g. 24 bits at bits=48/maxDist=3 — at
    * the cost of C(6,3)=20 keys per doc: candidate volume collapses to
    * near the true-pair count because unrelated docs must now agree on
    * 24 correlated bits, not 12. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String, bits: Int,
                   maxDist: Int, blocksPerKey: Int = 1): DataFrame =
    hammingPairs(simhash(df, textCol, idCol, bits), "simhash", "id",
      bits, maxDist, blocksPerKey)

  /** Hamming near-dup pairs over ANY precomputed bit-signature column
    * (SimHash text signatures, perceptual image hashes, …) — the
    * banding body of [[simhashPairs]], factored out in r10 so the
    * multimodal family's dHash dedup ([[Multimodal.phashPairs]]) rides
    * the identical candidate discipline. Blocks that do not cover all
    * `bits` (e.g. 64 bits over 9 blocks of 7) keep the pigeonhole
    * guarantee: a difference in an uncovered bit touches zero blocks,
    * which only LOWERS the number of disturbed blocks. */
  def hammingPairs(sigFrame: DataFrame, hashCol: String, idCol: String,
                   bits: Int, maxDist: Int, blocksPerKey: Int = 1): DataFrame = {
    require(blocksPerKey >= 1, s"blocksPerKey must be >= 1, got $blocksPerKey")
    val sigs = sigFrame.select(col(idCol).as("id"), col(hashCol).as("simhash"))
    val nBlocks = maxDist + blocksPerKey
    val blockBits = bits / nBlocks
    require(blockBits >= 1, s"bits=$bits too narrow for $nBlocks blocks")
    val combos = (0 until nBlocks).combinations(blocksPerKey).toSeq
    val comboIdBits = 64 - java.lang.Long.numberOfLeadingZeros(combos.length.toLong)
    require(blocksPerKey * blockBits + comboIdBits <= 63,
      s"combination key overflows a long: $blocksPerKey x $blockBits value bits + $comboIdBits combo-id bits")
    val block = (b: Int) => shiftrightunsigned(col("simhash"), b * blockBits)
      .bitwiseAND(lit((1L << blockBits) - 1))
    val keyed = sigs.select(col("id"), col("simhash"),
      explode(array(combos.zipWithIndex.map { case (combo, ci) =>
        combo.foldLeft(lit(ci.toLong): Column)((acc, b) =>
          shiftleft(acc, blockBits).bitwiseOR(block(b)))
      }: _*)).as("key"))
    keyed.as("a").join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Cross-corpus decontamination — the "remove eval-benchmark overlap
    * from training data" step: a corpus doc is contaminated when >=
    * `maxOverlap` of its distinct n-gram shingles appear ANYWHERE in the
    * benchmark. Inverted-index join on 60-bit shingle hashes (benchmark
    * shingle sets are eval-sized and hash-bucketed — never a cross
    * join); contaminated ids anti-join out of the corpus. Docs shorter
    * than n tokens (including empty docs) carry their whole trimmed text
    * as one shingle — see [[shingleRows]] — so an empty benchmark doc
    * flags empty corpus docs.
    *
    * The benchmark's distinct shingle hashes always BROADCAST: the
    * benchmark is eval-sized while the corpus is the 100 TB side. A
    * benchmark whose shingle set exceeds the broadcast budget goes
    * through [[decontaminateBloom]] (exact) or [[decontaminateMapOnly]]. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, textCol: String,
                    idCol: String, n: Int, maxOverlap: Double): DataFrame = {
    val cs = shingleHashRows(corpus, textCol, idCol, n)
    // the corpus-side shingle rows are never re-shuffled by hash: one
    // LEFT broadcast join preserves the id partitioning and a single
    // groupBy(id) computes size AND hit count together
    val bs = broadcast(shingleHashRows(benchmark, textCol, idCol, n)
      .select("__h").distinct().withColumn("__hit", lit(1)))
    // __hits > 0 guards the maxOverlap == 0 boundary: a doc with ZERO
    // benchmark overlap satisfies `0 >= n * 0`, and without the guard a
    // zero threshold would silently drop the entire corpus — a doc that
    // shares nothing with the benchmark is never contaminated
    val contaminated = cs.join(bs, Seq("__h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("__n_sh"), count(col("__hit")).as("__hits"))
      .filter(col("__hits") > 0 && col("__hits") >= col("__n_sh") * maxOverlap)
      .select(col("id").as(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Paragraph rows (id, para_id, para): structural split on a blank-line
    * separator — the unit Dolma/RefinedWeb-style PARAGRAPH dedup works
    * at. Map-only (split + posexplode); blank paragraphs are dropped,
    * para_id keeps the original position for order-preserving
    * reassembly. */
  def splitParagraphs(df: DataFrame, textCol: String, idCol: String,
                      sepRe: String = "\\n{2,}"): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepRe)).as(Seq("para_id", "para")))
      .filter(trim(col("para")) =!= "")

  /** Paragraph-level dedup (the Dolma recipe): every paragraph whose
    * text appears elsewhere in the corpus survives only at its FIRST
    * occurrence (min (doc id, position)); docs are reassembled from
    * their surviving paragraphs in original order. Boilerplate shared
    * across pages (headers, disclaimers) disappears from every doc but
    * the first — finer-grained than document dedup, stricter than line
    * rules. JOIN-FREE: one min-struct aggregate keyed by the paragraph
    * hash carries (id, para_id, para) through the min (the exact-dedup
    * shape: map-side combine collapses a million-fold boilerplate para
    * per input partition BEFORE the shuffle — since (id, para_id) is
    * unique per row, the trailing para field never decides the min),
    * then a per-doc collect_list reassembly (bounded by doc size) —
    * no corpus-sized join back, no self-join ambiguity. Returns
    * (id, text) with `sep` between paragraphs. */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
                      sep: String = "\n\n"): DataFrame =
    splitParagraphs(df, textCol, idCol)
      .withColumn("__h", Hashing.md5Int(col("para")))
      .groupBy("__h")
      .agg(min(struct(col("id"), col("para_id"), col("para"))).as("__w"))
      .select(col("__w.id").as("id"), col("__w.para_id").as("para_id"),
        col("__w.para").as("para"))
      .groupBy("id")
      .agg(concat_ws(sep,
        array_sort(collect_list(struct(col("para_id"), col("para"))))
          .getField("para")).as(textCol))
      .select(col("id").as(idCol), col(textCol))

  /** Aggressive normalization for dedup KEYS (not for output text):
    * lowercase, strip everything but letters/digits/whitespace,
    * collapse whitespace runs, trim — the standard canonicalization
    * most pipelines hash BEFORE exact dedup, so that case, punctuation,
    * and spacing variants of the same document collapse ("Hello,
    * World!" == "hello world"). UNICODE-aware (`\p{L}\p{N}`, not
    * `[a-z0-9]`): CJK/Cyrillic/Arabic text keeps its letters instead of
    * normalizing to the empty string. Map-only column expression. */
  def normalizeForDedup(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^\\p{L}\\p{N}\\s]", ""), "\\s+", " "))

  /** Exact dedup under [[normalizeForDedup]] keys — "fuzzy-exact":
    * keeps one representative (lowest id) per NORMALIZED text while
    * returning the ORIGINAL text of the survivor. Same one
    * map-side-combined min-struct aggregate as [[exactDedup]], keyed by
    * md5 of the normalized form. Rows whose normalized key is EMPTY
    * (emoji-only, punctuation-only) all pass through unchanged — an
    * empty key is absence of signal, not evidence of duplication, so
    * they must never collapse into a single survivor (each such row
    * gets its own id-keyed group; the grouping stays one aggregate). */
  def normalizedDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = normalizeForDedup(col(textCol))
    val keyed = df.select(col(idCol).as("id"), col(textCol),
      Hashing.md5Int(norm).as("__h"),
      when(norm === "", col(idCol).cast("string")).otherwise(lit(null))
        .as("__eid"))
    keyed.groupBy("__h", "__eid")
      .agg(min(struct(col("id"), col(textCol))).as("__w"))
      .select(col("__w.id").as(idCol), col(s"__w.$textCol"))
  }

  /** Line rows (id, line_id, line): single-newline split — the unit
    * CCNet/RefinedWeb-style LINE rules work at, finer than
    * [[splitParagraphs]]' blank-line unit. Map-only; blank lines are
    * dropped, line_id keeps position for order-preserving reassembly. */
  def splitLines(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\\n")).as(Seq("line_id", "line")))
      .filter(trim(col("line")) =!= "")

  /** Cross-document boilerplate line removal (the CCNet / RefinedWeb
    * line rule): any line whose trimmed text appears in MORE than
    * `maxDocs` distinct documents is boilerplate — nav bars, cookie
    * banners, legal footers — and is removed from EVERY document.
    * Different contract from [[dedupParagraphs]]: there a shared unit is
    * content that deserves ONE canonical owner (keep-first); here high
    * document frequency is evidence the line is template chrome, so no
    * copy survives. Docs reduced to nothing disappear from the output
    * (compose with a length gate downstream, as the pipelines do).
    *
    * Scale shape: one map-only line explode, ONE exchange keyed by the
    * 64-bit line hash for the distinct-doc-frequency aggregate
    * (count_distinct plans as a two-level partial agg — a million-doc
    * cookie banner collapses to one row per input partition before the
    * shuffle), and a LEFT ANTI join of the line rows against the
    * frequent-line table. That table holds only lines with df > maxDocs
    * — vanishingly small next to the corpus (boilerplate is rare in
    * DISTINCT-line space) — so AQE turns the anti-join into a broadcast:
    * line rows are never reshuffled. Reassembly is the bounded per-doc
    * collect_list sort, as in [[dedupParagraphs]]. */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                             maxDocs: Int, sep: String = "\n"): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val lines = splitLines(df, textCol, idCol)
      .withColumn("__h", Hashing.md5Int(trim(col("line"))))
    val frequent = lines.groupBy("__h")
      .agg(count_distinct(col("id")).as("__df"))
      .filter(col("__df") > maxDocs)
    lines.join(frequent, Seq("__h"), "left_anti")
      .groupBy(col("id"))
      .agg(concat_ws(sep,
        array_sort(collect_list(struct(col("line_id"), col("line"))))
          .getField("line")).as(textCol))
      .select(col("id").as(idCol), col(textCol))
  }

  /** Per-document NOVELTY score: the fraction of a doc's distinct
    * n-gram shingles that appear in no other document — the
    * corpus-relative complement of [[Corpus.repetitionStats]]'
    * within-doc repetition. Low novelty flags templated/near-duplicate
    * content that survived exact dedup; selection recipes upweight
    * high-novelty docs the way DSIR upweights target-like ones.
    *
    * Scale shape: [[shingleHashRows]]' single by-id exchange feeds both
    * the shingle doc-frequency aggregate (keyed by the 60-bit hash —
    * two-level partial agg, a boilerplate shingle collapses per
    * partition before the shuffle) and the join back, then one per-doc
    * aggregate. Rows are (id, n_shingles, novelty), novelty rounded to
    * 6 (the pre-rank-rounding rule every scorer follows). */
  def noveltyScores(df: DataFrame, textCol: String, idCol: String,
                    n: Int): DataFrame = {
    val sh = shingleHashRows(df, textCol, idCol, n)
    // rows are distinct per (id, hash), so a plain count IS the
    // distinct-document frequency
    val docFreq = sh.groupBy("__h").agg(count(lit(1)).as("__df"))
    sh.join(docFreq, Seq("__h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        round(avg(when(col("__df") === 1, 1.0).otherwise(0.0)), 6).as("novelty"))
      .select(col("id").as(idCol), col("n_shingles"), col("novelty"))
  }

  /** Cross-source overlap matrix: for each source pair, the number of
    * shared distinct n-gram shingles and their Jaccard similarity — the
    * audit that finds sources mirroring each other (a crawl that
    * re-ingested a dump, two snapshots of the same site) BEFORE their
    * duplicates dilute a training mix. Pairs with zero overlap are
    * omitted.
    *
    * Scale shape: shingles are keyed directly by SOURCE (the source
    * column rides [[shingleRowsRaw]]'s id seat), so the distinct
    * (source, hash) vocabulary collapses the corpus by orders of
    * magnitude before anything wide; the self-join on the hash is the
    * inverted-index shape with fan-out bounded by #sources per hash
    * (sources are low-cardinality by definition — a shingle in every
    * source emits S(S-1)/2 rows, not corpus-squared); per-source sizes
    * come back as a broadcast dictionary. */
  def sourceOverlap(df: DataFrame, textCol: String, sourceCol: String,
                    n: Int): DataFrame = {
    val sh = shingleRowsRaw(df, textCol, sourceCol, n)
      .select(col("id").as("__src"), Hashing.md5Int(col("sh")).as("__h"))
      .distinct()
    val sizes = sh.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val a = sh.select(col("__src").as("source_a"), col("__h"))
    val b = sh.select(col("__src").as("source_b"), col("__h"))
    a.join(b, Seq("__h")).filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col("__src").as("source_a"), col("__n").as("__na"))), "source_a")
      .join(broadcast(sizes.select(col("__src").as("source_b"), col("__n").as("__nb"))), "source_b")
      .select(col("source_a"), col("source_b"), col("common"),
        round(col("common").cast("double") /
          (col("__na") + col("__nb") - col("common")), 6).as("jaccard"))
  }

  /** Per-suite contamination REPORT — the attribution a team reads
    * before choosing thresholds: for each (corpus doc, benchmark suite)
    * pair with shingle-overlap fraction >= `minOverlap`, one row
    * (id, suite, overlap). Same broadcast shape as [[decontaminate]] —
    * all suites union into ONE tagged broadcast, so adding suites adds
    * broadcast bytes, not corpus passes. Compose with a threshold +
    * anti-join to act on it, or feed dashboards as-is. */
  def contaminationReport(corpus: DataFrame, suites: Map[String, DataFrame],
                          textCol: String, idCol: String, n: Int,
                          minOverlap: Double = 0.0): DataFrame = {
    require(suites.nonEmpty, "need at least one benchmark suite")
    val cs = shingleHashRows(corpus, textCol, idCol, n)
    val sizes = cs.groupBy("id").agg(count(lit(1)).as("__n_sh"))
    val bs = suites.map { case (name, b) =>
      shingleHashRows(b, textCol, idCol, n).select("__h").distinct()
        .withColumn("suite", lit(name))
    }.reduce(_ unionByName _)
    cs.join(broadcast(bs), Seq("__h"))
      .groupBy("id", "suite").agg(count(lit(1)).as("__hits"))
      .join(sizes, "id")
      .withColumn("overlap", col("__hits").cast(DoubleType) / col("__n_sh"))
      .filter(col("overlap") >= minOverlap)
      .select(col("id").as(idCol), col("suite"), col("overlap"))
  }

  /** [[decontaminate]] for a benchmark whose shingle set exceeds the
    * broadcast budget but whose BLOOM FILTER does not: build a Bloom
    * filter over the benchmark's distinct shingle hashes (one aggregate —
    * ~1.2 GB per 10^9 shingles at 10 bits/item, so any realistic eval
    * suite fits), ship it as a literal into a map-only
    * `bloom_might_contain` prune over the corpus shingles, and run the
    * exact overlap join ONLY on the surviving rows. False positives cost
    * shuffle bytes, never correctness: the verify join is exact, so the
    * result equals [[decontaminate]] bit-for-bit. The corpus side is
    * never re-shuffled by hash except for the pruned sliver. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, textCol: String,
                         idCol: String, n: Int, maxOverlap: Double,
                         expectedShingles: Long = 4L * 1000 * 1000): DataFrame = {
    val cs = shingleHashRows(corpus, textCol, idCol, n)
    val bs = shingleHashRows(benchmark, textCol, idCol, n)
      .select("__h").distinct()
    val bloomRow = bs.agg(call_function("bloom_agg", col("__h"),
      lit(expectedShingles), lit(expectedShingles * 10)).as("bf")).head()
    if (bloomRow.isNullAt(0)) return corpus // empty benchmark: nothing to drop
    val bloom = bloomRow.getAs[Array[Byte]](0)
    val candidate = cs.filter(call_function("bloom_might_contain", lit(bloom), col("__h")))
    val hits = candidate.join(bs, "__h").groupBy("id").agg(count(lit(1)).as("__hits"))
    val sizes = cs.groupBy("id").agg(count(lit(1)).as("__n_sh"))
    // same __hits > 0 guard as [[decontaminate]] (the inner join above
    // already excludes zero-hit docs — the guard keeps the two variants
    // textually equal at the maxOverlap == 0 boundary)
    val contaminated = sizes.join(hits, "id")
      .filter(col("__hits") > 0 && col("__hits") >= col("__n_sh") * maxOverlap)
      .select(col("id").as(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** MAP-ONLY decontamination — the streaming/ingest-filter shape: the
    * benchmark's bloom filter ships as a literal, and the per-doc
    * shingle set, size, and hit count all come from ONE row-local
    * codegen pass (`shingle_hashes` + `bloom_count_in` — no explode, no
    * groupBy, NO SHUFFLE AT ALL), so the same call runs unchanged on a
    * STREAMING DataFrame (stateless filter) and on 100 TB of batch
    * corpus at scan speed.
    *
    * Semantics match [[decontaminate]] except bloom false positives can
    * inflate a doc's hit count — the op can only OVER-drop (the safe
    * direction for decontamination; same failure direction as
    * [[graft.streaming.IngestDedup]]'s replays). The filter is
    * deterministic given the benchmark, so results are reproducible;
    * size `expectedShingles` for the suite and the default 10 bits/item
    * keeps the FP rate under ~1%. Use [[decontaminateBloom]] when exact
    * equality with [[decontaminate]] is required. */
  def decontaminateMapOnly(corpus: DataFrame, benchmark: DataFrame,
                           textCol: String, idCol: String, n: Int,
                           maxOverlap: Double,
                           expectedShingles: Long = 4L * 1000 * 1000): DataFrame =
    benchmarkBloom(benchmark, textCol, idCol, n, expectedShingles) match {
      case None => corpus // empty benchmark: nothing to drop
      case Some(bloom) =>
        decontaminateWithBloom(corpus, bloom, textCol, n, maxOverlap)
    }

  /** The fit half of [[decontaminateMapOnly]]: one aggregate over the
    * benchmark's distinct shingle hashes -> a driver-held bloom filter
    * (None for an empty benchmark). Build ONCE, then apply
    * [[decontaminateWithBloom]] to any number of batches / micro-batches
    * — the streaming pipeline's shape, where re-scanning the benchmark
    * per batch would be pure waste. */
  def benchmarkBloom(benchmark: DataFrame, textCol: String, idCol: String,
                     n: Int,
                     expectedShingles: Long = 4L * 1000 * 1000): Option[Array[Byte]] = {
    val bs = shingleHashRows(benchmark, textCol, idCol, n).select("__h").distinct()
    val bloomRow = bs.agg(call_function("bloom_agg", col("__h"),
      lit(expectedShingles), lit(expectedShingles * 10)).as("bf")).head()
    if (bloomRow.isNullAt(0)) None else Some(bloomRow.getAs[Array[Byte]](0))
  }

  /** The apply half of [[decontaminateMapOnly]]: ZERO-shuffle row-local
    * filter against a prebuilt benchmark bloom — runs on batch or
    * streaming DataFrames alike. */
  def decontaminateWithBloom(corpus: DataFrame, bloom: Array[Byte],
                             textCol: String, n: Int,
                             maxOverlap: Double): DataFrame = {
    val sh = call_function("shingle_hashes", col(textCol), lit(n))
    val withCounts = corpus
      .withColumn("__n_sh", size(sh).cast(LongType))
      .withColumn("__hits", call_function("bloom_count_in", lit(bloom), sh))
    withCounts
      // coalesce: a null text has no shingles and is never contaminated
      // (the join shape keeps such docs too — no rows to aggregate)
      .filter(coalesce(
        !(col("__hits") > 0 && col("__hits") >= col("__n_sh") * maxOverlap),
        lit(true)))
      .drop("__n_sh", "__hits")
  }

  /** Connected components over a near-dup pair list (id_a, id_b).
    *
    * TWO-TIER: when the deduplicated edge list fits a single task
    * (`localEdgeBudget`, default 2M edges), components are computed in ONE
    * stage by a per-partition union-find with path compression — a near-dup
    * pair list is usually orders of magnitude smaller than the corpus
    * (that's the point of candidate pruning), and the distributed loop
    * below costs ~6 scheduled stages PER ROUND, pure overhead at that
    * size. Above the budget, the distributed fixpoint runs:
    * min-label propagation with POINTER DOUBLING — each round every node
    * takes the min of its own and its neighbors' labels, then follows its
    * label's label (comp := comp(comp)). Doubling squares the propagation
    * distance per round, so convergence is O(log diameter) rounds — a
    * duplicate CHAIN of length 10^6 converges in ~20 rounds where plain
    * propagation needs 10^6. Each round: two shuffle joins + one
    * aggregate, then a changed-count that is a plain scan of the freshly
    * checkpointed partitions (the changed flag is computed IN the round's
    * plan — no extra join against the previous labels). Labels are
    * localCheckpoint'ed so the pair plan executes once and lineage stays
    * flat. The checkpoints are RDD-level storage: the ContextCleaner
    * frees them when the returned frame is dropped (GC-scoped, unlike a
    * Dataset persist(), which leaks in the CacheManager until an explicit
    * unpersist). THROWS IllegalStateException if the fixpoint is not
    * reached within maxIter rounds (silently-wrong cluster labels are
    * worse than a loud failure); with doubling, the default 25 covers any
    * component a near-dup graph can realistically hold (~2^25 diameter).
    * Returns (id, component) for every id appearing in `pairs`,
    * component = min id of the cluster — the keep-one key a dedup
    * pipeline drops duplicates by. */
  def components(pairs: DataFrame, maxIter: Int = 25,
                 localEdgeBudget: Long = 2L * 1000 * 1000): DataFrame = {
    val undirected = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .distinct().transform(graft.core.Materialize.frame)
    if (undirected.count() <= localEdgeBudget) return localComponents(undirected)
    val edges0 = undirected
      .unionByName(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(graft.core.Materialize.frame)
    graft.core.Materialize.free(undirected) // folded into edges0 above
    // Size the round parallelism to the GRAPH, not the corpus: the pair
    // list is usually orders of magnitude smaller than the input (that's
    // the point of near-dup candidate pruning), and every round launches
    // ~6 stages over these partitions. The count is free — the checkpoint
    // above already materialized the edges. O(1) driver data; at scale
    // (>= ~1M edges/partition budget) this keeps full parallelism.
    val nEdges = edges0.count()
    val parts = math.max(1L, math.min(nEdges / 1000000L + 1L,
      edges0.rdd.getNumPartitions.toLong)).toInt
    val edges =
      if (parts < edges0.rdd.getNumPartitions) {
        val e = edges0.repartition(parts, col("dst"))
          .transform(graft.core.Materialize.frame)
        graft.core.Materialize.free(edges0) // superseded by the repartitioned copy
        e
      } else edges0
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).transform(graft.core.Materialize.frame)
    // the round loop frees each superseded label frame once its successor
    // is materialized (r15 — a 20-round fixpoint otherwise pins 20 dead
    // label snapshots in the storage pool until driver GC)
    var prevMat = labels
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      // 1) min over self + neighbours' labels
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("__dc")), "dst")
        .groupBy(col("src").as("id")).agg(min("__dc").as("__nc"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("__old"),
          least(col("comp"), coalesce(col("__nc"), col("comp"))).as("__mid"))
      // 2) pointer doubling: labels point at node ids, so comp(comp) is a
      //    self-join of this round's mapping (left: a label always names a
      //    node, but keep the coalesce as belt-and-braces)
      val updated = stepped.join(
          stepped.select(col("id").as("__mid"), col("__mid").as("__cc")),
          Seq("__mid"), "left")
        .select(col("id"), coalesce(col("__cc"), col("__mid")).as("comp"),
          (coalesce(col("__cc"), col("__mid")) =!= col("__old")).as("__chg"))
        .transform(graft.core.Materialize.frame)
      changed = updated.filter(col("__chg")).count()
      graft.core.Materialize.free(prevMat)
      prevMat = updated
      labels = updated.select("id", "comp")
      it += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"components: min-label propagation did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter")
    // the edge table fed only the (eager) round materializes; the
    // returned labels hang off the final round's checkpoint alone
    graft.core.Materialize.free(edges)
    labels
  }

  /** Exact components of a small (≤ localEdgeBudget) edge list in ONE
    * task: union-find with path compression over the coalesced edges,
    * emitting (id, rep) under arbitrary representatives, then a tiny
    * groupBy remap to comp = min(id) — the remap keeps the id type
    * generic (min() is SQL-ordered for any orderable column, so string
    * and numeric ids both work without a JVM Ordering). The single task
    * is bounded by the caller's edge budget, NOT corpus-sized — the
    * distributed loop in [[components]] remains the unbounded path. */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("src").dataType
    // SQL-faithful "a < b" for the in-task min remap (r14): numeric ids
    // by natural order, strings by Spark's BINARY order (unsigned UTF-8
    // bytes — String.compareTo would diverge on supplementary
    // characters). Types without a faithful in-task order fall back to
    // the former SQL remap below.
    def utf8Lt(a: String, b: String): Boolean =
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0
    val lt: Option[(Any, Any) => Boolean] = idType match {
      case LongType => Some((a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long])
      case IntegerType => Some((a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int])
      case ShortType => Some((a, b) => a.asInstanceOf[Short] < b.asInstanceOf[Short])
      case StringType => Some((a, b) => utf8Lt(a.asInstanceOf[String], b.asInstanceOf[String]))
      case _ => None
    }
    val labeled = edges.coalesce(1).rdd.mapPartitions { it =>
      val parent = new scala.collection.mutable.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var root = x
        while (parent.get(root).exists(_ != root)) root = parent(root)
        var cur = x // path compression
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      it.foreach { r =>
        val ra = find(r.get(0)); val rb = find(r.get(1))
        parent(ra) = ra
        parent(rb) = ra
      }
      lt match {
        case Some(less) =>
          // comp = min member id, computed HERE: the former shape shipped
          // (id, rep) out and remapped with a groupBy + self-join — two
          // exchanges, and the un-persisted RDD lineage (union-find
          // included) executed once per join branch (r14).
          val minOf = new scala.collection.mutable.HashMap[Any, Any]()
          parent.keysIterator.foreach { k =>
            val r = find(k)
            if (minOf.get(r).forall(m => less(k, m))) minOf(r) = k
          }
          parent.keysIterator.map(k => org.apache.spark.sql.Row(k, minOf(find(k))))
        case None =>
          parent.keysIterator.map(k => org.apache.spark.sql.Row(k, find(k)))
      }
    }
    val labels = spark.createDataFrame(labeled, StructType(Seq(
      StructField("id", idType), StructField("rep", idType))))
    if (lt.isDefined) labels.withColumnRenamed("rep", "comp")
    else labels.join(labels.groupBy("rep").agg(min(col("id")).as("comp")), "rep")
      .select("id", "comp")
  }

  /** Keep-one-per-cluster: drop every row of `df` whose id appears in a
    * near-dup cluster under a non-minimal id. Composes any pair
    * generator above with [[components]]. */
  def canonicalize(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    // broadcast: the dupe-id list is pair-list-sized by design (candidate
    // pruning), so the corpus-side anti join stays map-only (r14)
    val dupes = components(pairs).filter(col("id") =!= col("comp")).select("id")
    df.join(broadcast(dupes.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti")
  }

  /** SemDeDup (Abbas et al., 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding near-dup pairs
    * with K-MEANS cluster candidate bounding — cluster the L2-normalized
    * embeddings (MLlib KMeans on a `Normalizer` column, the paper's
    * setup), generate pairs only WITHIN a cluster, verify with exact
    * cosine. Complements [[cosinePairs]]' sign-LSH: k-means cells adapt
    * to the data's density (LSH planes are data-blind), which is why the
    * paper's web-scale runs use it. Identical vectors always share a
    * cluster, so exact-dup recall is 1 by construction; near-dup recall
    * depends on `nClusters` (cluster-boundary splits — the paper accepts
    * this; raise recall by lowering nClusters at quadratic within-cluster
    * cost). Scale: within-cluster self-join volume is sum_c |c|^2 — size
    * `nClusters` ~ n/1000 to bound cells ~1000 docs; a pathologically hot
    * cell is a data-skew signal (near-identical embeddings), exactly what
    * the dedup is for. */
  def semdedupPairs(df: DataFrame, vecCol: String, idCol: String,
                    threshold: Double, nClusters: Int,
                    seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.feature.Normalizer
    import org.apache.spark.ml.functions.array_to_vector
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val feat = new Normalizer().setInputCol("__raw").setOutputCol("__fv").setP(2.0)
      .transform(v.withColumn("__raw", array_to_vector(col("v"))))
    val km = new KMeans().setK(nClusters).setSeed(seed)
      .setFeaturesCol("__fv").setPredictionCol("__cell").fit(feat)
    val cells = km.transform(feat).select(col("id"), col("v"), col("__cell"))
    val cand = cells.as("a").join(cells.as("b"),
        col("a.__cell") === col("b.__cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    Similarity.cosineForPairs(cand, v, "id", "v")
      .filter(col("cosine") >= threshold)
  }

  /** Embedding cosine near-dup pairs above `threshold`.
    * `Similarity.cosine` does the arithmetic; candidate generation here is
    * the sign-LSH band join (random-hyperplane sketch) — brute force only
    * when `lshPlanes == 0`. `lshTables` > 1 unions candidates from
    * independently-seeded sketch tables (the banded form: per-pair miss
    * probability (1-p^planes)^tables — more planes keep buckets SMALL as
    * n grows, more tables buy the recall back; exact verification means
    * extra tables can only ADD true pairs, never false ones).
    *
    * FIXED planes are a scale trap: bucket occupancy n/2^planes grows
    * linearly with the corpus, and candidate volume occupancy²·buckets =
    * n²/2^planes grows QUADRATICALLY (the r6 sf1 bench measured 36x for
    * 10x data). Use [[cosinePairsAuto]] unless the corpus size is known
    * and fixed. */
  def cosinePairs(df: DataFrame, vecCol: String, idCol: String,
                  threshold: Double, lshPlanes: Int = 0, seed: Long = 42L,
                  lshTables: Int = 1): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    if (lshPlanes <= 0) {
      // all-pairs candidates, but scoring still goes through the
      // codegen exploded-join aggregate (no interpreted lambda)
      val cand = v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      Similarity.cosineForPairs(cand, v, "id", "v")
        .filter(col("cosine") >= threshold)
    } else {
      // scale path: codegen'd sketches for candidates, codegen'd
      // exploded-join cosine for verification — no interpreted lambdas
      // on the hot path; per-table candidate sets union + distinct
      // BEFORE the exact verify so a pair colliding in several tables
      // verifies once
      val cand = (0 until math.max(1, lshTables)).map { t =>
        val sk = Similarity.signSketchDf(v, "id", "v", lshPlanes,
          seed + 7919L * t)
        sk.as("a").join(sk.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      }.reduce(_ unionByName _).distinct()
      Similarity.cosineForPairs(cand, v, "id", "v")
        .filter(col("cosine") >= threshold)
    }
  }

  /** [[cosinePairs]] with SIZE-ADAPTIVE planes: planes =
    * ceil(log2(n / targetBucket)) keeps expected bucket occupancy near
    * `targetBucket` at ANY corpus size, so candidate volume stays
    * LINEAR (n·occupancy·tables/2) instead of quadratic — the same
    * 1/sqrt(n) discipline as `Neighbors.autoWidth`. One count() job
    * sizes the sketch; recall lost to the extra planes is bought back
    * with `tables` independent sketch tables. */
  def cosinePairsAuto(df: DataFrame, vecCol: String, idCol: String,
                      threshold: Double, targetBucket: Int = 32,
                      tables: Int = 4, seed: Long = 42L): DataFrame = {
    val n = df.count()
    val planes = math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
    cosinePairs(df, vecCol, idCol, threshold, lshPlanes = planes, seed = seed,
      lshTables = tables)
  }

  /** Quality-aware keep-one: collapse every near-dup cluster in `pairs`
    * to its best-`score` member (max score, ties to the LOWEST id) and
    * keep all documents no pair touches — the representative-selection
    * step real pipelines run instead of blind min-id keep-one (keep the
    * longest/cleanest copy, drop the truncated mirror).
    *
    * Scale: the component table only covers ids appearing in `pairs` —
    * pair-list-sized, orders below the corpus after candidate pruning —
    * so both the membership join and the winner semi-join broadcast
    * under AQE; the corpus itself crosses no exchange. The winner pick
    * is one max-struct aggregate keyed by component (no window). */
  def keepBest(df: DataFrame, pairs: DataFrame, idCol: String,
               score: Column): DataFrame = {
    // r14 reshape: decide LOSERS on the pair-sized frames and drop them
    // with one broadcast anti join — the former left-join + null-split +
    // unionByName shape put the corpus through a sort-merge exchange
    // twice (membership join + winner semi-join) and scanned it three
    // times. Here the corpus crosses NO exchange: the winner aggregate
    // sees only component members (id, score), and the final anti join
    // broadcasts the loser ids (pair-list-sized by the same argument as
    // the membership broadcast). Output multiset identical: kept =
    // untouched + winners = df minus (touched minus winners).
    val comp = components(pairs).withColumnRenamed("id", idCol)
    val winners = df.select(col(idCol), score.as("__s"))
      .join(broadcast(comp), Seq(idCol))
      .groupBy("comp")
      .agg(max(struct(col("__s"), (-col(idCol)).as("__negId"))).as("__w"))
      .select((-col("__w.__negId")).as(idCol))
    val losers = comp.select(col(idCol))
      .join(broadcast(winners), Seq(idCol), "left_anti")
    df.join(broadcast(losers), Seq(idCol), "left_anti")
  }
}
