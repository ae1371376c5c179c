package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus assembly for LLM training data: repetition filtering
  * (Gopher-style), token-budget sequence packing, and source-mixture
  * sampling — the steps between "cleaned documents" and "training
  * batches" that the reference's tabular pipeline stops short of, built
  * for the 100 TB path:
  *
  *  - repetition: one repartition-by-doc exchange, both aggregates
  *    hang off it map-side-combined;
  *  - packing: distributed prefix sum ([[Ordinals.withRunningTotal]] —
  *    range-sort, NOT a single-partition window);
  *  - mixing: per-source rank via [[Ordinals.withPerKeyRank]] (one
  *    range-sorted running count per source, hot sources spread across
  *    partitions).
  */
object Corpus {

  /** Per-doc word-n-gram repetition stats — the Gopher repetition rules
    * (Rae et al. 2021, §A1.1: "fraction of characters in the most common
    * n-gram" family, word-count form):
    *
    *  - `top_ngram_frac`: occurrences of the doc's most frequent n-gram
    *    over total n-gram occurrences;
    *  - `dup_ngram_frac`: fraction of n-gram occurrences beyond each
    *    gram's first (1 - distinct/total).
    *
    * Boilerplate/spam (repeated headers, SEO keyword stuffing) scores
    * high on both; natural prose stays low. Docs shorter than n tokens
    * carry their whole text as ONE gram (top_ngram_frac 1.0, dup 0.0) —
    * threshold repetition filters on a minimum length, as Gopher does.
    *
    * Scale: repetition stats are ROW-LOCAL, and since r4 the
    * implementation is too — the native `ngram_stats` expression
    * ([[graft.functions.NgramStats]]) counts grams in one per-row loop
    * inside codegen: MAP-ONLY, no explode, no shuffle. (The previous
    * shape exploded grams and rolled up through a repartition-by-doc
    * exchange.) */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol),
        call_function("ngram_stats", Text.tokens(col(textCol)), lit(n)).as("__s"))
      .select(col(idCol),
        col("__s.top_ngram_frac").as("top_ngram_frac"),
        col("__s.dup_ngram_frac").as("dup_ngram_frac"))

  /** Token-budget sequence packing: assign each doc (in `idCol` order) to
    * the training shard its EXCLUSIVE token prefix-sum falls in —
    * seq_id = floor((cumsum - own) / budget). Document-level packing:
    * a doc is never split, so a shard can overflow by at most one doc
    * (the standard greedy pretraining packer). Returns
    * (idCol, n_tokens, seq_id).
    *
    * Scale: the prefix sum is [[Ordinals.withRunningTotal]] — a
    * range-partitioned sort plus an O(#partitions) offset pass, NOT a
    * `sum().over(Window.orderBy)` single-partition window. Exact while
    * total tokens < 2^53 (double mantissa) — 100 TB of text is ~25 T
    * tokens, three orders inside the bound. */
  /** Deterministic global shuffle — the reproducible training order:
    * rows sorted by a seeded hash of the id (md5 arithmetic, identical
    * across engines and retries — `rand()` would fork under stage
    * replay). A range sort, not a `repartition(shuffle=true)`: the order
    * is total and stable, so shard N of a re-run is byte-identical.
    * Emits `shuffle_rank` (0-based) for downstream shard assignment. */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: Long = 42L): DataFrame =
    Ordinals.withGlobalRank(df,
        Seq(Hashing.md5Int(concat_ws(":", col(idCol).cast("string"), lit(seed))).asc,
          col(idCol).asc), "shuffle_rank")
      .withColumn("shuffle_rank", col("shuffle_rank") - 1)

  /** Snapshot diff between two corpus versions: (id, change) rows with
    * change ∈ {added, removed, changed} — the audit a versioned-corpus
    * release publishes (what moved between v(N) and v(N+1)). One
    * full-outer join on the id plus a text comparison; at scale both
    * sides shuffle once by id (bucket both snapshots by id at write
    * time — [[graft.io.Bucketing]] — and the join is shuffle-free).
    * Unchanged docs are omitted (the diff is release-note-sized, not
    * corpus-sized). */
  def diffSnapshots(oldDf: DataFrame, newDf: DataFrame, textCol: String,
                    idCol: String): DataFrame = {
    // presence flags, not text nullity: a doc whose text IS null must not
    // read as absent
    val o = oldDf.select(col(idCol).as("id"), col(textCol).as("__old"),
      lit(true).as("__ino"))
    val n = newDf.select(col(idCol).as("id"), col(textCol).as("__new"),
      lit(true).as("__inn"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("change",
        when(col("__ino").isNull, "added")
          .when(col("__inn").isNull, "removed")
          // null-safe compare: a null-text doc that gains text IS a change
          .when(!(col("__old") <=> col("__new")), "changed"))
      .filter(col("change").isNotNull)
      .select(col("id").as(idCol), col("change"))
  }

  /** Split long documents into fixed-token-budget chunks with overlap —
    * the "fit the context window" step between cleaning and batching.
    * Chunk k covers tokens [k*stride, k*stride + chunkTokens) where
    * stride = chunkTokens - overlapTokens; the last chunk may be short
    * but is never empty, and a doc at or under the budget passes through
    * as its own single chunk (chunk_id 0). MAP-ONLY: token slicing via
    * `slice` + `sequence` inside codegen, one posexplode, no shuffle —
    * chunking 100 TB is a pure scan. Output (id, chunk_id, chunk,
    * n_tokens) with whitespace-normalized chunk text. */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
                chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got $overlapTokens / $chunkTokens")
    val stride = chunkTokens - overlapTokens
    val n = size(col("__toks"))
    // number of chunks: 1 + ceil(max(0, n - chunkTokens) / stride)
    val nChunks = lit(1) + ceil(greatest(n - chunkTokens, lit(0)) /
      lit(stride.toDouble)).cast(IntegerType)
    df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__toks"))
      .select(col("id"), col("__toks"),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("chunk_id", "__k")))
      .select(col("id"), col("chunk_id"),
        concat_ws(" ", slice(col("__toks"), col("__k") * stride + 1,
          lit(chunkTokens))).as("chunk"),
        least(size(col("__toks")) - col("__k") * stride, lit(chunkTokens))
          .as("n_tokens"))
  }

  /** `tokenCount` is pluggable so packing budgets can use TRAINED
    * tokenizer counts (`Bpe.tokenCount(_, merges)` — map-only codegen,
    * same plan shape) instead of the default whitespace count. */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    budget: Long,
                    tokenCount: Column => Column = Text.tokenCount): DataFrame = {
    val toks = df.select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
    Ordinals.withRunningTotal(toks, Seq(col(idCol).asc), "n_tokens", "__cum")
      .select(col(idCol), col("n_tokens"),
        floor((col("__cum") - col("n_tokens")) / budget).cast(LongType).as("seq_id"))
  }

  /** Per-source quality gate: keep documents whose [[Text.qualityScore]]
    * is >= their OWN source's median quality — the relative form of
    * C4-style filtering (an absolute threshold over-prunes sources whose
    * baseline quality differs; a per-source quantile self-calibrates).
    * Returns (idCol, sourceCol, quality rounded to 6).
    *
    * The per-source median is EXACT but buffers no values: rows rank
    * within their source via [[Ordinals.withPerKeyRank]] (one range
    * sort, the count restarting per source), the two middle ranks per source
    * are picked against a broadcast count dictionary, and their mean is
    * the median (odd sizes: both ranks coincide) — the same
    * rank-selection recipe as the a7 exact median, per group. Source is
    * low-cardinality by construction (a corpus has tens of sources, not
    * millions), so every dictionary is broadcast-sized. */
  def qualityGate(df: DataFrame, textCol: String, idCol: String,
                  sourceCol: String): DataFrame = {
    // Materialized ONCE (id, source, one double — op-output-sized): the
    // rank/count/median/gate phases traverse q four-plus times, and its
    // lineage holds the quality-score text kernel over every document —
    // lazily, each traversal re-scanned and re-scored the corpus.
    val q = df.select(col(idCol), col(sourceCol),
      Text.qualityScore(col(textCol)).as("__q"))
      .transform(graft.core.Materialize.frame)
    val ranked = Ordinals.withPerKeyRank(q, sourceCol,
      Seq(col("__q").asc, col(idCol).asc), "__rk")
    val counts = q.groupBy(sourceCol).agg(count(lit(1)).as("__n"))
    val medians = ranked.join(broadcast(counts), sourceCol)
      .filter(col("__rk") === floor((col("__n") + 1) / 2) ||
        col("__rk") === floor((col("__n") + 2) / 2))
      .groupBy(sourceCol).agg(avg("__q").as("__med"))
    q.join(broadcast(medians), sourceCol)
      .filter(col("__q") >= col("__med"))
      .select(col(idCol), col(sourceCol), round(col("__q"), 6).as("quality"))
  }

  /** Per-source EXACT token-length percentiles (nearest-rank, type-1:
    * the value at rank ceil(p*n) under (token_count, id) order) — the
    * length profile a corpus release publishes next to its report card,
    * and the input to choosing chunk/packing budgets per source.
    * Percentiles should be dyadic (0.25/0.5/0.75) so ceil(p*n) is
    * float-exact and any engine replays the same rank.
    *
    * Scale: the same machinery as [[qualityGate]]'s exact median — one
    * [[Ordinals.withPerKeyRank]] range sort (a dominant source spreads
    * across partitions, no per-source window reducer), a broadcast
    * count dictionary, and one conditional aggregate; values are never
    * buffered per group (the builtin exact percentile agg would hold
    * every length in memory). Output: (source, p<NN>..., n_docs). */
  def lengthPercentiles(df: DataFrame, textCol: String, idCol: String,
                        sourceCol: String,
                        ps: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must lie in (0,1], got $ps")
    require(ps.map(p => math.round(p * 100)).distinct.size == ps.size,
      s"percentiles collide after rounding to whole percent (column names p<NN>): $ps")
    // materialized once — rank + counts + the percentile join traverse
    // t repeatedly, and its lineage holds the token-count text kernel
    val t = df.select(col(sourceCol), col(idCol),
      Text.tokenCount(col(textCol)).as("__tok"))
      .transform(graft.core.Materialize.frame)
    val ranked = Ordinals.withPerKeyRank(t, sourceCol,
      Seq(col("__tok").asc, col(idCol).asc), "__rk")
    val counts = t.groupBy(sourceCol).agg(count(lit(1)).as("__n"))
    val j = ranked.join(broadcast(counts), sourceCol)
    val aggs = ps.map(p =>
      max(when(col("__rk") === ceil(lit(p) * col("__n")), col("__tok")))
        .as(s"p${math.round(p * 100)}")) :+ max("__n").as("n_docs")
    j.groupBy(sourceCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Source-mixture sampling: keep the first floor(weight * totalRows)
    * docs of each weighted source, in `idCol` order — the deterministic
    * quota form of training-mix assembly (Pile/Dolma-style source
    * weights). Sources absent from `weights` are dropped; a source with
    * fewer rows than its quota contributes all it has (the available
    * data caps the mixture, as in any real mix run). Deterministic, so
    * re-runs and the SQL oracle reproduce the exact selection.
    *
    * Scale: per-source rank is [[Ordinals.withPerKeyRank]] — one range
    * sort with a count that restarts per source; a dominant source
    * spreads over many partitions instead of one window reducer. */
  def mixSources(df: DataFrame, sourceCol: String, idCol: String,
                 weights: Map[String, Double], totalRows: Long): DataFrame = {
    require(weights.nonEmpty, "mixSources: weights must not be empty")
    val quotaCol = weights.foldLeft(lit(0L)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(math.floor(w * totalRows).toLong)).otherwise(acc)
    }
    Ordinals.withPerKeyRank(
        df.filter(col(sourceCol).isin(weights.keys.toSeq: _*)),
        sourceCol, Seq(col(idCol).asc), "__rk")
      .filter(col("__rk") <= quotaCol)
      .drop("__rk")
  }

  /** Sample each source down to a TOKEN budget — what an LM training
    * mix actually provisions ([[mixSources]]' row quotas are a proxy;
    * epochs are priced in tokens). Docs are taken in seeded-hash order
    * (the [[deterministicShuffle]] key — reproducible across engines
    * and stage retries, unlike `rand()`), and a doc is kept while its
    * source's EXCLUSIVE running token total is still under the budget:
    * the budget may overshoot by at most one document, and the first
    * document of a source always survives a positive budget. Sources
    * absent from `budgets` are dropped.
    *
    * Scale: the running total is [[Ordinals.withRunningTotals]] under
    * the (source, hash, id) total order, restarting per source — ONE
    * range exchange, no per-source window reducer (a dominant source
    * spreads across many partitions) and no driver round trip while
    * the frame is built. Token arithmetic stays exact while a source's
    * tokens < 2^53 (100 TB of text is ~25 T tokens, three orders inside).
    * Output keeps the input columns plus `n_tokens`. */
  def mixToTokenBudget(df: DataFrame, textCol: String, idCol: String,
                       sourceCol: String, budgets: Map[String, Long],
                       seed: Long = 42L): DataFrame = {
    require(budgets.nonEmpty, "mixToTokenBudget: budgets must not be empty")
    val in = df.filter(col(sourceCol).isin(budgets.keys.toSeq: _*))
      .withColumn("n_tokens", graft.ops.Text.tokenCount(col(textCol)))
      .withColumn("__tok", col("n_tokens").cast("double"))
    val run = Ordinals.withRunningTotals(in,
      Seq(col(sourceCol).asc,
        Hashing.md5Int(concat_ws(":", col(idCol).cast("string"), lit(seed))).asc,
        col(idCol).asc),
      Seq("__tok" -> "__cum"), resetKeys = 1)
    val budgetCol = budgets.foldLeft(lit(0.0)) { case (c, (s, b)) =>
      when(col(sourceCol) === s, lit(b.toDouble)).otherwise(c)
    }
    run.filter(col("__cum") - col("__tok") < budgetCol)
      .drop("__tok", "__cum")
  }

  /** Temperature-scaled mixture weights from the OBSERVED source sizes
    * (the multilingual-sampling recipe, mC4/XLM-R style: p_s prop. to
    * n_s^(1/T); T > 1 upsamples the tail, T = 1 is proportional) —
    * feed the result to [[mixSources]]. One driver-sized aggregate
    * (source is low-cardinality by definition).
    *
    * Determinism contract: at T = 2 the scaling uses `sqrt` (IEEE
    * requires it correctly rounded, so any engine reproduces the exact
    * doubles; `pow` is only 1-ulp), and the normalizer folds in SOURCE
    * ORDER — an external replayer (the t27 oracle) following the same
    * two rules is bit-identical, quotas included. */
  def temperatureWeights(df: DataFrame, sourceCol: String,
                         temperature: Double): Map[String, Double] = {
    require(temperature > 0, s"temperature must be > 0, got $temperature")
    val invT = 1.0 / temperature
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    def scaled(n: Long): Double =
      if (invT == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, invT)
    val norm = counts.foldLeft(0.0) { case (acc, (_, n)) => acc + scaled(n) }
    counts.map { case (s, n) => s -> scaled(n) / norm }.toMap
  }

  /** [[mixSources]] with [[temperatureWeights]] computed from the data
    * — one call for the standard "flatten the source distribution at
    * temperature T" step. */
  def mixSourcesTemperature(df: DataFrame, sourceCol: String, idCol: String,
                            temperature: Double, totalRows: Long): DataFrame =
    mixSources(df, sourceCol, idCol,
      temperatureWeights(df, sourceCol, temperature), totalRows)

  /** UniMax domain allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): given a token budget and a per-domain repetition
    * cap of `maxEpochs`, allocate the budget as UNIFORMLY as possible —
    * every domain gets min(cap_d, λ) where the water level λ solves
    * Σ min(cap_d, λ) = budget. Small domains saturate their epoch cap;
    * large domains share the remainder evenly — the fairness fix over
    * proportional ([[mixSources]]) and temperature ([[mixSourcesTemperature]])
    * sampling, which both let head domains dominate.
    *
    * Returns one row per domain: (domain, size_n, cap, alloc, epochs)
    * with size_n = Σ sizeCol, cap = floor(size_n * maxEpochs), alloc
    * the waterfilled budget share and epochs = alloc / size_n. The
    * budget is floor(budgetEpochs * Σ size_n).
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus; the
    * waterfilling then runs on the domains-sized frame through the
    * rank and cap prefix sum of one RunningTotal node (no keyless
    * window, no driver loop — the closed form
    * max{j : prefix_{j-1} + cap_j*(m-j+1) ≤ B} replaces the iterative
    * water-level search; that expression is nondecreasing in j for
    * caps sorted ascending, so one max aggregate finds j*).
    * Exactness: sizes, caps, prefix sums and the saturation condition
    * are all integer arithmetic; λ and the epoch ratios are single
    * fixed double trees — bit-replayable in SQL. */
  def unimaxAllocation(df: DataFrame, domainCol: String, sizeCol: String,
                       budgetEpochs: Double, maxEpochs: Double): DataFrame = {
    val d = df.groupBy(col(domainCol).as("domain"))
      .agg(sum(col(sizeCol)).cast(LongType).as("size_n"))
      .withColumn("cap",
        floor(col("size_n").cast(DoubleType) * lit(maxEpochs)).cast(LongType))
    val tot = d.agg(sum("size_n").cast(LongType).as("__ts"),
      count(lit(1)).as("__m"))
    val sort = Seq(col("cap").asc, col("domain").asc)
    // the rank j (a running total of 1) and the cap prefix sum in one node
    val ranked = Ordinals.withRunningTotals(d.withColumn("__one", lit(1.0)),
        sort, Seq("__one" -> "__j", "cap" -> "__pc"))
      .withColumn("__j", col("__j").cast(LongType))
      .withColumn("__pc", col("__pc").cast(LongType))
      .crossJoin(broadcast(tot))
      .withColumn("__bud",
        floor(col("__ts").cast(DoubleType) * lit(budgetEpochs)).cast(LongType))
    val cond = ((col("__pc") - col("cap")) +
      (col("cap") * ((col("__m") - col("__j")) + 1))) <= col("__bud")
    val sel = ranked.agg(
      coalesce(max(when(cond, col("__j"))), lit(0L)).as("__jstar"),
      coalesce(max(when(cond, col("__pc"))), lit(0L)).as("__pstar"))
    val lambda = (col("__bud").cast(DoubleType) - col("__pstar").cast(DoubleType)) /
      (col("__m").cast(DoubleType) - col("__jstar").cast(DoubleType))
    val alloc = when(col("__j") <= col("__jstar"), col("cap").cast(DoubleType))
      .otherwise(least(col("cap").cast(DoubleType), lambda))
    ranked.crossJoin(broadcast(sel))
      .select(col("domain"), col("size_n"), col("cap"),
        round(alloc, 4).as("alloc"),
        round(alloc / col("size_n").cast(DoubleType), 6).as("epochs"))
  }

  /** Sentence-aware chunking: like [[chunkDocs]] but cuts only at
    * sentence boundaries, so no chunk ever starts or ends mid-sentence
    * (the property RAG retrieval and span-sensitive training care
    * about). A sentence is a `[.!?]`-terminated run; each sentence
    * joins the chunk its START token offset falls in
    * (floor(offset / budget)), so chunks cover contiguous token ranges
    * and may run over the budget by less than one sentence — the
    * documented trade for a replayable, state-free assignment (greedy
    * reset-on-overflow packing is prefix-sequential and neither
    * distributable nor oracle-replayable). A single sentence longer
    * than the budget becomes its own over-budget chunk rather than
    * being split.
    *
    * Scale: sentence split is one map-only posexplode; the running
    * token offset is a window partitioned BY DOC (bounded by document
    * length, the d10-island class of window — never keyless); chunk
    * reassembly is the bounded per-doc collect_list sort. Output
    * (id, chunk_id, chunk, n_tokens, n_sentences). */
  def chunkBySentence(df: DataFrame, textCol: String, idCol: String,
                      chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be > 0, got $chunkTokens")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("sent_id")
    val sents = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "(?<=[.!?])\\s+")).as(Seq("sent_id", "sent")))
      // trim each sentence: the split consumes separator whitespace but
      // not a document's LEADING whitespace, which would otherwise leak
      // into the first chunk's text (and disagree with token counting,
      // which trims)
      .withColumn("sent", trim(col("sent")))
      .filter(col("sent") =!= "")
      .withColumn("__tok", Text.tokenCount(col("sent")))
      .withColumn("__start",
        coalesce(sum("__tok").over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("chunk_id", floor(col("__start") / chunkTokens))
    sents.groupBy(col("id"), col("chunk_id"))
      .agg(concat_ws(" ",
          array_sort(collect_list(struct(col("sent_id"), col("sent"))))
            .getField("sent")).as("chunk"),
        sum("__tok").as("n_tokens"),
        count(lit(1)).as("n_sentences"))
      .select(col("id").as(idCol), col("chunk_id"), col("chunk"),
        col("n_tokens"), col("n_sentences"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, §4.3): split
    * each source into `head` / `middle` / `tail` thirds by LM score —
    * best-scoring third is `head`, and downstream mixes sample the
    * buckets at different rates (or drop `tail` outright). Relative
    * bucketing self-calibrates per source exactly like [[qualityGate]]'s
    * per-source median: an absolute perplexity cut would gut sources
    * whose baseline register differs (legal text scores "worse" than
    * news under any web-trained LM without being lower quality).
    *
    * `scorer` returns (idCol, ..., mean_logprob) — default is the
    * corpus-unigram LM ([[Lexicon.unigramLogProb]]); pass
    * `Lexicon.bigramLogProb(_, _, _)` or `bigramLogProbKN` for the
    * higher-order signal (CCNet itself uses a 5-gram KenLM). Higher
    * mean log-prob = lower perplexity = earlier bucket.
    *
    * Determinism: ranks order on the scorer's ROUNDED score (all
    * scorers round to 6 before emitting, the t12 pre-rank-rounding
    * rule) with the id as tiebreak, and the bucket boundary is integer
    * arithmetic (`3*rk <= n`, `3*rk <= 2n`) — no ntile() engine
    * ambiguity, so an external replayer lands every boundary doc in the
    * same bucket. Returns (idCol, sourceCol, mean_logprob, bucket).
    *
    * Scale: the scorer is aggregate-shaped (no windows), the per-source
    * rank is [[Ordinals.withPerKeyRank]] (one range sort — a dominant
    * source spreads across partitions instead of one window reducer),
    * and the per-source count dictionary is broadcast-sized by
    * construction. */
  def perplexityBuckets(df: DataFrame, textCol: String, idCol: String,
                        sourceCol: String,
                        scorer: (DataFrame, String, String) => DataFrame =
                          Lexicon.unigramLogProb): DataFrame = {
    val lm = scorer(df, textCol, idCol).select(col(idCol), col("mean_logprob"))
    // materialized once — the rank and counts phases traverse scored
    // repeatedly, and its lineage holds the LM build + scoring pass
    val scored = df.select(col(idCol), col(sourceCol)).join(lm, idCol)
      .transform(graft.core.Materialize.frame)
    val ranked = Ordinals.withPerKeyRank(scored, sourceCol,
      Seq(col("mean_logprob").desc, col(idCol).asc), "__rk")
    val counts = scored.groupBy(sourceCol).agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(counts), sourceCol)
      .withColumn("bucket",
        when(col("__rk") * 3 <= col("__n"), "head")
          .when(col("__rk") * 3 <= col("__n") * 2, "middle")
          .otherwise("tail"))
      .select(col(idCol), col(sourceCol), col("mean_logprob"), col("bucket"))
  }

  /** Corpus report card: the release-note statistics table in ONE scan
    * — doc/token/char totals, language spread, quality and Gopher-pass
    * rates, dup-signal means. Every statistic is an aggregate over
    * map-only per-row expressions, so the whole report is a single
    * pass with one driver-sized result row at any corpus size. */
  def reportCard(df: DataFrame, textCol: String, idCol: String,
                 langCol: String): DataFrame = {
    val g = Text.gopherRules(col(textCol))
    df.agg(
      count(lit(1)).as("n_docs"),
      sum(Text.tokenCount(col(textCol))).as("total_tokens"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      count_distinct(col(langCol)).as("n_langs"),
      round(avg(Text.qualityScore(col(textCol))), 6).as("mean_quality"),
      sum(when(g.getField("passes"), 1L).otherwise(0L)).as("gopher_pass"),
      round(avg(g.getField("mean_word_len")), 6).as("mean_word_len"),
      min(length(col(textCol))).cast("long").as("min_chars"),
      max(length(col(textCol))).cast("long").as("max_chars"))
  }

  /** Curriculum training order: documents proceed easy-to-hard by
    * [[perplexityBuckets]] stage (head -> middle -> tail) and are
    * seeded-hash shuffled WITHIN each stage — curriculum learning's
    * coarse ordering with stochasticity inside stages, fully
    * deterministic (re-runs and the SQL oracle reproduce the exact
    * order; no rand()). Returns (id, bucket, curriculum_rank 0-based).
    *
    * Scale: one global range sort via [[Ordinals.withGlobalRank]] (the
    * RunningTotal operator — no keyless window) over (stage, md5,
    * id); the LM scoring upstream is [[perplexityBuckets]]'s shape. */
  def curriculumOrder(df: DataFrame, textCol: String, idCol: String,
                      sourceCol: String, seed: Long = 42L): DataFrame = {
    val b = perplexityBuckets(df, textCol, idCol, sourceCol)
      .withColumn("__stage",
        when(col("bucket") === "head", 0)
          .when(col("bucket") === "middle", 1).otherwise(2))
    Ordinals.withGlobalRank(b,
        Seq(col("__stage").asc,
          Hashing.md5Int(concat_ws(":", col(idCol).cast("string"),
            lit(seed))).asc,
          col(idCol).asc), "curriculum_rank")
      .withColumn("curriculum_rank", col("curriculum_rank") - 1)
      .select(col(idCol), col("bucket"), col("curriculum_rank"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
    * algorithm A-ES): each row draws a hash-uniform u in (0,1) keyed by
    * (seed, id) and ranks by u^(1/weight); the top k keys are an exact
    * weighted sample without replacement — the op behind
    * quality-weighted or length-weighted corpus subsampling.
    *
    * Deterministic by construction: u is the md5-prefix uniform (the
    * engine's [[Hashing.md5Int]] recipe — retry- and replay-stable, no
    * rand()), and ranking happens on the key ROUNDED to 9 decimals with
    * id as tie-break, so the selected set is identical across engines
    * even where pow() differs in the last ulp. Rows with weight <= 0
    * are excluded (zero-weight rows cannot be drawn).
    *
    * Scale: map-only key computation + `orderBy.limit` = TakeOrdered
    * (per-partition top-k merged on the driver, O(k x partitions)) —
    * never a global sort. */
  def weightedSample(df: DataFrame, weightCol: String, idCol: String,
                     k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1)
    val u = (Hashing.md5Int(concat_ws(":", col(idCol).cast("string"),
      lit(seed.toString))).cast(DoubleType) + lit(0.5)) /
      lit(math.pow(2.0, 60))
    df.filter(col(weightCol) > 0)
      .withColumn("sample_key",
        round(pow(u, lit(1.0) / col(weightCol)), 9))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(k)
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * exponentiated-gradient updates push training weight toward domains
    * with EXCESS loss — where the proxy model underperforms the
    * reference — then smooth toward uniform.
    *
    * Honest stand-in scope: DoReMi proper re-evaluates a proxy model
    * between steps; with no trainer in the engine, the per-domain loss
    * here is the corpus-unigram LM cross-entropy (nats/token, the
    * [[Lexicon.unigramLogProb]] machinery aggregated per SOURCE) and
    * the reference loss is the all-corpus cross-entropy, both FIXED
    * across steps — so the `steps` loop telescopes mathematically to a
    * single step at `steps * eta` (kept as a loop because that is the
    * seam where a real proxy-model eval plugs in, and the oracle
    * replays the loop's exact float product). [[doremiWeightsKN]]
    * upgrades the scorer side of that seam to the engine's Kneser-Ney
    * bigram LM (a real sequence model; losses still fixed across EG
    * steps). The update rule itself is the published one:
    * `alpha_d <- alpha_d * exp(eta * max(L_d - L_ref, 0))`,
    * `w = (1-smoothing) * alpha/sum(alpha) + smoothing/nDomains`,
    * starting from token-share alpha_0.
    *
    * Returns one row per source: (source, tokens, excess_loss, weight).
    *
    * Scale: the heavy work is the (doc, term) count table — the shared
    * t12/t13 shape (occurrence collapse BEFORE the term join, broadcast
    * vocabulary totals). Everything after the per-source rollup is
    * arithmetic on a domains-sized frame: the EG loop adds zero
    * exchanges, and nDomains rides a 1-row broadcast, never a collect
    * of data rows. */
  def doremiWeights(df: DataFrame, textCol: String, idCol: String,
                    sourceCol: String, eta: Double = 1.0, steps: Int = 2,
                    smoothing: Double = 0.01): DataFrame = {
    require(steps >= 1 && eta > 0 && smoothing >= 0 && smoothing < 1)
    val dt = Lexicon.docTermCounts(df, textCol, idCol)
    val ct = dt.groupBy("term").agg(sum("c").as("__ct"))
    val total = ct.agg(sum("__ct").as("__tot"))
    val dom = dt
      .join(df.select(col(idCol).as("id"), col(sourceCol).as("source")), "id")
      .join(ct, "term").crossJoin(broadcast(total))
      .groupBy("source")
      .agg(sum("c").as("tokens"),
        sum(col("c") * log(col("__ct").cast(DoubleType) / col("__tot")))
          .as("__lp"))
    egReweight(dom, eta, steps, smoothing)
  }

  /** The fixed-loss DoReMi of [[doremiWeights]] and [[doremiWeightsKN]]
    * over a per-domain (source, tokens, __lp) frame: the excess losses
    * against the all-corpus loss are computed once, from token-share
    * alpha_0, and [[egLoop]] applies them every step. The frame is
    * |domains| rows — a config-scale constant (corpus mixtures have
    * dozens of domains, never data-scale cardinality) — so it is
    * collected (r15, guide §1.2/§5): one collect in place of two scalar
    * aggregates, two broadcast exchanges and a crossJoin per query. */
  private def egReweight(dom: DataFrame, eta: Double, steps: Int,
                         smoothing: Double): DataFrame = {
    val rows = dom.collect()
    val src = rows.map(_.getAs[String]("source"))
    val tok = rows.map(_.getAs[Long]("tokens"))
    val lp = rows.map(_.getAs[Double]("__lp"))
    val gtok = tok.sum // exact long
    val glp = lp.sum
    val excess = Array.tabulate(rows.length) { i =>
      math.max(0.0, (-lp(i) / tok(i)) - (-glp / gtok))
    }
    egLoop(dom.sparkSession, src, tok, tok.map(_.toDouble / gtok), eta, steps,
      smoothing)(_ => excess)
  }

  /** The DoReMi exponentiated-gradient loop of all four variants,
    * DRIVER-SIDE over |domains|-sized arrays (r15): each of `steps`
    * steps takes the excess losses `excessOf(alpha)` and updates
    * `alpha_d <- alpha_d * exp(eta * excess_d)` in place; the output is
    * one row per source (source, tokens, excess_loss = the last step's,
    * weight = (1-s)*alpha/sum(alpha) + s/nDomains), rounded IN Spark
    * over the driver-built frame. Every float tree is the IEEE op
    * sequence the oracle CTEs replay. The fixed-loss variants pass a
    * constant `excessOf`; the adaptive ones run their per-step proxy
    * pass in it. */
  private def egLoop(spark: SparkSession, src: Array[String], tok: Array[Long],
                     alpha: Array[Double], eta: Double, steps: Int,
                     smoothing: Double)
                    (excessOf: Array[Double] => Array[Double]): DataFrame = {
    import spark.implicits._
    val nd = src.length
    var excess = Array.empty[Double]
    for (_ <- 1 to steps) {
      excess = excessOf(alpha)
      for (i <- 0 until nd) alpha(i) = alpha(i) * math.exp(eta * excess(i))
    }
    val asum = alpha.sum
    (0 until nd).map(i => (src(i), tok(i), excess(i),
      (1.0 - smoothing) * alpha(i) / asum + smoothing / nd))
      .toDF("source", "tokens", "__e", "__w")
      .select(col("source"), col("tokens"),
        round(col("__e"), 6).as("excess_loss"),
        round(col("__w"), 6).as("weight"))
  }

  /** DoReMi with PER-STEP proxy re-evaluation — the published
    * algorithm's actual loop (Xie et al. 2023, Algorithm 1), closing the
    * telescoping-fixed-loss seam both [[doremiWeights]] and
    * [[doremiWeightsKN]] document: their losses are fixed across EG
    * steps, so `steps` steps collapse mathematically to one step at
    * `steps * eta`. Here the proxy model is RE-TRAINED on the current
    * mixture every step, so step 2's excess losses differ from step 1's
    * and the step count genuinely matters (t49c's spec pins
    * steps=2, eta=1 != steps=1, eta=2).
    *
    * The count-based instantiation is exact, not a heuristic: "training
    * a unigram LM on mixture w" has the closed form
    * p_w(t) = sum_d w_d * c_{d,t} / tokens_d (domain-conditional term
    * distributions mixed by the current weights), so each EG step
    * evaluates the true loss of the true mixture-trained proxy — the
    * seam the fixed-loss variants left open. Per Algorithm 1, alpha_0 is
    * UNIFORM and the reference model is fixed: the token-share (corpus)
    * unigram LM, i.e. the baseline-mixture-trained reference. Excess for
    * domain d at step t = max(0, L_d(proxy_t) - L_d(ref)), both
    * cross-entropies evaluated ON domain d.
    *
    * Returns one row per source: (source, tokens, excess_loss = the
    * LAST step's, weight) — same shape as [[doremiWeights]].
    *
    * Scale: the corpus is touched ONCE, to build the (source, term)
    * count table (the t12 occurrence-collapse shape), which is
    * localCheckpointed; every EG step is then two map-side-combined
    * aggregates over that |domains| x |vocab| sufficient-statistics
    * table (one keyed by term for the mixture LM, one keyed by source
    * for the losses). The EG state itself — alpha, asum, coef, excess —
    * lives on the DRIVER (r15): it is |domains|-sized (a config-scale
    * constant), so each step is exactly ONE cluster action (the
    * per-source loss collect) with the coefficient table shipped back
    * as a broadcast local relation; the per-step scalar aggregates,
    * broadcast exchanges and domains-frame checkpoints of the former
    * shape are gone. Float trees unchanged (same IEEE op order the
    * oracle CTEs replay); rounding stays in Spark. */
  def doremiWeightsAdaptive(df: DataFrame, textCol: String, idCol: String,
                            sourceCol: String, eta: Double = 1.0,
                            steps: Int = 2,
                            smoothing: Double = 0.01): DataFrame = {
    require(steps >= 1 && eta > 0 && smoothing >= 0 && smoothing < 1)
    val spark = df.sparkSession
    import spark.implicits._
    // repartition by term BEFORE the checkpoint: localCheckpoint preserves
    // outputPartitioning, so every step's groupBy(term) mixture aggregate
    // and st-join-pm(term) reuse this ONE exchange instead of re-shuffling
    // the stats table per step (r14 — guide §2.4 "share one exchange")
    val st = Lexicon.docTermCounts(df, textCol, idCol)
      .join(df.select(col(idCol).as("id"), col(sourceCol).as("source")), "id")
      .groupBy("source", "term").agg(sum("c").as("c"))
      .repartition(col("term"))
      .transform(graft.core.Materialize.frame) // cut the corpus out of every step's plan
    val ct = st.groupBy("term").agg(sum("c").as("__ct"))
    val tokRows = st.groupBy("source").agg(sum("c").as("tokens")).collect()
    val src = tokRows.map(_.getAs[String]("source"))
    val tok = tokRows.map(_.getAs[Long]("tokens"))
    val gtok = tok.sum // exact long
    val nd = tokRows.length
    // fixed reference: the corpus (token-share-mixture) unigram LM
    val lrefMap = st.join(ct, "term")
      .groupBy("source")
      .agg(sum(col("c") * log(col("__ct").cast(DoubleType) / lit(gtok)))
        .as("__lpref"))
      .collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Double]("__lpref")).toMap
    val lpref = src.map(lrefMap)
    val out = egLoop(spark, src, tok, Array.fill(nd)(1.0 / nd), eta, steps,
        smoothing) { alpha =>
      val asum = alpha.sum
      // proxy trained on the current mixture: p_w(t) = sum_d w_d c_dt/tok_d
      val coefDf = (0 until nd).map(i =>
        (src(i), (alpha(i) / asum) / tok(i))).toDF("source", "__coef")
      val pm = st.join(broadcast(coefDf), "source")
        .groupBy("term").agg(sum(col("c") * col("__coef")).as("__pm"))
      val ldMap = st.join(pm, "term").groupBy("source")
        .agg(sum(col("c") * log(col("__pm"))).as("__lp"))
        .collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Double]("__lp")).toMap
      Array.tabulate(nd)(i =>
        math.max(0.0, (-ldMap(src(i)) / tok(i)) - (-lpref(i) / tok(i))))
    }
    // st is dead: the loop's collects were its last readers and the
    // output is a local relation (r15 block hygiene)
    graft.core.Materialize.free(st)
    out
  }

  /** Multinomial Naive Bayes quality classifier — the fastText-style
    * "reference corpus vs crawl" filter (CCNet's quality-scoring
    * pattern) in closed form: per-class Laplace-smoothed term
    * log-probabilities trained from a boolean label column, then every
    * document scored with the log-likelihood ratio
    * llr = log(n_pos/n_neg) + sum_t c_t * (log p(t|pos) - log p(t|neg)),
    * pred = llr >= 0. Linear-in-counts, so training is ONE aggregate
    * over the (term, class) count table and scoring is one
    * vocabulary-sized join + per-doc fold — no iterations, no driver
    * loops; at 100 TB both sides shuffle by term/doc only once.
    *
    * Exactness: the per-(doc, term) contributions c_t * w_t are fixed
    * double trees over exact longs, rounded to 9 and DECIMAL-summed per
    * doc (order-independent); the prior and the final llr are one more
    * fixed tree. Docs with zero tokens are omitted (no terms, no row).
    * Returns (doc_id, label, nb_llr, pred). */
  def nbQualityScore(df: DataFrame, textCol: String, idCol: String,
                     pos: Column, smoothing: Double = 1.0): DataFrame = {
    require(smoothing > 0, s"Laplace smoothing must be > 0, got $smoothing")
    val dt = Lexicon.docTermCounts(df, textCol, idCol)
    val lab = df.select(col(idCol).as("id"), pos.as("__pos"))
    val dtl = dt.join(lab, "id")
    val tc = dtl.groupBy("term").agg(
      sum(when(col("__pos"), col("c")).otherwise(lit(0L))).as("__cp"),
      sum(when(!col("__pos"), col("c")).otherwise(lit(0L))).as("__cn"))
    val tot = tc.agg(sum("__cp").as("__tp"), sum("__cn").as("__tn"),
      count(lit(1)).as("__v"))
    val nd = lab.agg(count(when(col("__pos"), 1)).as("__np"),
      count(when(!col("__pos"), 1)).as("__nn"))
    val sv = lit(smoothing) * col("__v").cast(DoubleType)
    val w = tc.crossJoin(broadcast(tot)).select(col("term"),
      (log((col("__cp").cast(DoubleType) + lit(smoothing))
          / (col("__tp").cast(DoubleType) + sv))
        - log((col("__cn").cast(DoubleType) + lit(smoothing))
          / (col("__tn").cast(DoubleType) + sv))).as("__w"))
    dtl.join(w, "term")
      .groupBy(col("id"), col("__pos"))
      .agg(sum(round(col("c") * col("__w"), 9).cast("decimal(28,9)"))
        .as("__s"))
      .crossJoin(broadcast(nd))
      .select(col("id").as("doc_id"), col("__pos").as("label"),
        round(col("__s").cast(DoubleType)
          + log(col("__np").cast(DoubleType)
            / col("__nn").cast(DoubleType)), 6).as("nb_llr"))
      .withColumn("pred", col("nb_llr") >= lit(0.0))
  }

  /** Kneser-Ney DoReMi with PER-STEP proxy re-training — the r8 seam
    * closed: [[doremiWeightsKN]]'s losses are computed once (its `steps`
    * telescope into one step at `steps * eta`), while here the KN proxy
    * is RE-TRAINED on the current mixture every EG step, so the best
    * proxy (bigram KN) and the published loop (Xie et al. 2023,
    * Algorithm 1) finally compose.
    *
    * "Training a KN LM on mixture w" has a closed form over the same
    * sufficient statistics: mixture bigram pseudo-counts at corpus scale
    * m_w(v,t) = gtok * sum_d (w_d / tokens_d) * c_{d,(v,t)} (at
    * token-share weights these are EXACTLY the corpus counts, so the
    * mixture proxy degenerates to [[doremiWeightsKN]]'s fixed one — the
    * spec pins that), with the absolute-discount formula applied to
    * them. The TYPE-based statistics (n1+(v.), continuation counts,
    * total types) depend only on the SUPPORT of the counts, and EG keeps
    * every weight positive, so they are weight-invariant and computed
    * once. Fractional pseudo-counts can fall below the discount, hence
    * the max(m - D, 0) guard on the discounted term (inactive at
    * token-share weights where every count is an integer >= 1).
    * Reference model: the corpus-trained KN LM (t49b's proxy), fixed;
    * alpha_0 uniform per Algorithm 1.
    *
    * Scale: the corpus is touched ONCE to build the (source, v, w, c)
    * bigram sufficient-statistics table (materialized); each EG step is
    * two map-side-combined aggregates over it (mixture counts keyed by
    * bigram, losses keyed by source). The EG state (alpha, asum, coef,
    * excess) lives on the DRIVER (r15): |domains| rows is a
    * config-scale constant, so each step is ONE cluster action (the
    * per-source loss collect) with the coefficient table shipped back
    * as a broadcast local relation — per-step cost scales with the
    * bigram TYPE table, never the corpus, and the former per-step
    * scalar aggregates / broadcast exchanges / domains-frame
    * checkpoints are gone. Float trees unchanged (the oracle CTEs
    * replay the same IEEE op order); rounding stays in Spark. */
  def doremiWeightsKNAdaptive(df: DataFrame, textCol: String, idCol: String,
                              sourceCol: String, eta: Double = 1.0,
                              steps: Int = 2, smoothing: Double = 0.01,
                              discount: Double = 0.75): DataFrame = {
    require(steps >= 1 && eta > 0 && smoothing >= 0 && smoothing < 1)
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val spark = df.sparkSession
    import spark.implicits._
    val sb = sourceBigrams(df, textCol, idCol, sourceCol)
    // weight-invariant type statistics (support never changes: EG keeps
    // all weights positive)
    val (cb, cv, contW, types) = Lexicon.knTables(sb)
    // attach the type statistics to the stats rows ONCE (r15): every EG
    // step's loss pass used to rebuild the cv/contW/types broadcasts
    // from sb — 5-6 broadcast-exchange jobs per step whose scheduling
    // floor dominated the query (58 jobs at sf0.1). `stats` has sb's
    // cardinality (|domains| x |bigram types| — never occurrences) and
    // keeps sb's HashPartitioning(v) through the 1:1 broadcast/SMJ type
    // joins, so each step below is mcb/mcv partition-local aggregates
    // plus one co-partitioned join chain: ONE cluster action, two
    // sub-broadcasts, no type-stat rebuilds.
    val stats = sb.join(cb, Seq("v", "w")).join(cv, "v").join(contW, "w")
      .crossJoin(broadcast(types))
      .transform(graft.core.Materialize.frame)
    graft.core.Materialize.free(sb) // stats supersedes sb (1:1 rows)
    // ONE pass for per-source tokens AND reference loss: the type-stat
    // joins are 1:1 on (v,w)/v/w (each aggregated FROM sb), so every sb
    // row survives exactly once and sum(c) here is the exact long sum
    // the former separate groupBy("source") computed
    val refRows = stats
      .groupBy("source")
      .agg(sum("c").as("tokens"),
        // fixed reference: the corpus-trained KN LM (doremiWeightsKN's proxy)
        sum(col("c") * log(Lexicon.knProb(discount))).as("__lpref"))
      .collect()
    val src = refRows.map(_.getAs[String]("source"))
    val tok = refRows.map(_.getAs[Long]("tokens"))
    val lpref = refRows.map(_.getAs[Double]("__lpref"))
    val gtok = tok.sum // exact long
    val nd = refRows.length
    val out = egLoop(spark, src, tok, Array.fill(nd)(1.0 / nd), eta, steps,
        smoothing) { alpha =>
      val asum = alpha.sum
      // mixture pseudo-counts at corpus scale: coef_d = (w_d/tok_d)*gtok
      val coefDf = (0 until nd).map(i =>
        (src(i), ((alpha(i) / asum) / tok(i)) * gtok))
        .toDF("source", "__coef")
      val mcb = stats.select("v", "w", "source", "c")
        .join(broadcast(coefDf), "source")
        .groupBy("v", "w").agg(sum(col("c") * col("__coef")).as("__mvw"))
      val mcv = mcb.groupBy("v").agg(sum("__mvw").as("__mv"))
      val pKnMix = Lexicon.knProb(discount,
        greatest(col("__mvw") - lit(discount), lit(0.0)), col("__mv"))
      val ldMap = stats.join(mcb, Seq("v", "w")).join(mcv, "v")
        .groupBy("source").agg(sum(col("c") * log(pKnMix)).as("__lp"))
        .collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Double]("__lp")).toMap
      Array.tabulate(nd)(i =>
        math.max(0.0, (-ldMap(src(i)) / tok(i)) - (-lpref(i) / tok(i))))
    }
    // stats is dead: the loop's collects were its last readers and the
    // output is a local relation (r15 block hygiene)
    graft.core.Materialize.free(stats)
    out
  }

  /** DoReMi reweighting with a REAL proxy scorer: the per-domain loss is
    * the engine's own Kneser-Ney bigram LM cross-entropy (the
    * [[Lexicon.bigramLogProbKN]] machinery rolled up per SOURCE — the
    * same KenLM/CCNet-class smoothing public corpus pipelines score
    * with), closing [[doremiWeights]]'s documented fixed-unigram seam:
    * a domain whose BIGRAM structure diverges from the corpus (rare
    * continuations, out-of-distribution word order) now shows excess
    * loss even when its unigram mix looks ordinary. The reference model
    * is the all-corpus KN LM; the EG update, smoothing, and output shape
    * are identical to [[doremiWeights]]. `tokens` counts scored bigrams
    * (the loss denominator), so token-share alpha_0 is over the same
    * units as the loss.
    *
    * Scale: the corpus is touched ONCE — the (source, v, w, c) bigram
    * sufficient-statistics table (the [[doremiWeightsKNAdaptive]]
    * prologue) is materialized, and the KN type statistics, the
    * reference probabilities AND the per-domain rollup all hang off
    * those blocks (r15: the former doc-level shape re-executed the
    * tokenize + explode + bigram-count lineage once per broadcast
    * type-stat build — 22 jobs / 228 tasks at sf0.1 — and shuffled the
    * OCCURRENCE table through the type joins; the source-collapsed
    * table is |domains| x |bigram types|, orders of magnitude smaller
    * than occurrences at corpus scale). `tokens` is the identical
    * exact long sum; the per-source loss sums the identical c*log(p)
    * terms with source-level instead of doc-level partials — the same
    * float value to ~1 ulp, well inside the round-6 output contract
    * (the oracle's own DuckDB sum order already differs). Still zero
    * exchanges in the EG loop (driver-side, [[egReweight]]). */
  def doremiWeightsKN(df: DataFrame, textCol: String, idCol: String,
                      sourceCol: String, eta: Double = 1.0, steps: Int = 2,
                      smoothing: Double = 0.01,
                      discount: Double = 0.75): DataFrame = {
    require(steps >= 1 && eta > 0 && smoothing >= 0 && smoothing < 1)
    require(discount > 0 && discount < 1, s"discount in (0,1), got $discount")
    val sb = sourceBigrams(df, textCol, idCol, sourceCol)
    val (cb, cv, contW, types) = Lexicon.knTables(sb)
    val dom = sb.join(cb, Seq("v", "w")).join(cv, "v").join(contW, "w")
      .crossJoin(broadcast(types))
      .groupBy("source")
      .agg(sum("c").as("tokens"),
        sum(col("c") * log(Lexicon.knProb(discount))).as("__lp"))
    val out = egReweight(dom, eta, steps, smoothing)
    // egReweight's collect was sb's last reader (the returned frame is
    // a local relation) — free the checkpoint blocks (r15 hygiene)
    graft.core.Materialize.free(sb)
    out
  }

  /** The (source, v, w, c) bigram sufficient statistics of both KN
    * DoReMi variants, repartitioned by v BEFORE the checkpoint (r14):
    * localCheckpoint preserves outputPartitioning, and
    * HashPartitioning(v) satisfies every clustering the KN tables and
    * their joins need — groupBy(v,w), groupBy(v) and the (v,w)/v join
    * chains reuse this ONE exchange (guide §2.4); only the w-keyed
    * continuation table still shuffles. Materialized, so the corpus is
    * touched once. */
  private def sourceBigrams(df: DataFrame, textCol: String, idCol: String,
                            sourceCol: String): DataFrame =
    Lexicon.docBigramCounts(df, textCol, idCol)
      .join(df.select(col(idCol).as("id"), col(sourceCol).as("source")), "id")
      .groupBy("source", "v", "w").agg(sum("c").as("c"))
      .repartition(col("v"))
      .transform(graft.core.Materialize.frame)
}
