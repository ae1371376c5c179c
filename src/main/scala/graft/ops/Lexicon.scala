package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-level lexical statistics for training-data pipelines:
  * vocabulary building, TF-IDF keyword extraction, unigram
  * language-model scoring. These are the cross-document complements of
  * [[Text]]'s map-only per-row features — each needs one or two hash
  * shuffles over token rows, never a collect and never O(n^2).
  *
  * Scale contract: token rows explode once per query; per-(doc, term)
  * counts collapse token occurrences BEFORE any term-keyed shuffle
  * (map-side partial aggregation), so the term-join volume is bounded by
  * distinct (doc, term) pairs, not raw token occurrences. Hot terms
  * ("the") are a skew risk only in the term-count aggregate, which is a
  * partial-aggregated count — a hot term costs one row per input
  * partition, not a hot reducer.
  */
object Lexicon {

  /** Lowercased whitespace token OCCURRENCE rows (id, term). Zero-token
    * docs (empty/whitespace text) contribute nothing: `split(trim(""))`
    * yields `[""]` and the empty-string token is dropped — consistent
    * with [[Text.tokenCount]] counting such docs as 0. */
  def tokenRows(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(Text.tokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")

  /** Per-(doc, term) occurrence counts (id, term, c) — the shared base of
    * TF-IDF and LM scoring. One explicit repartition-by-id exchange; the
    * (id, term) count and any per-doc rollup both satisfy their
    * clustering from it (same recipe as [[Corpus.repetitionStats]]).
    *
    * The exchange moves the COMPACT (id, text) rows and the tokenize +
    * explode run AFTER it (r15): strictly fewer shuffled bytes than the
    * former exploded-occurrence shuffle (every token reappears in each
    * occurrence row, plus per-row overhead), and the CPU-dense tokenize
    * now runs at shuffle parallelism instead of scan parallelism — a
    * single-row-group fixture file scans as ONE task, which serialized
    * the whole tokenize on one core. */
  def docTermCounts(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), lower(col(textCol)).as("__lt"))
      .repartition(col("id"))
      .select(col("id"), explode(Text.tokens(col("__lt"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("id", "term").agg(count(lit(1)).as("c"))

  /** Corpus vocabulary: terms with >= `minCount` total occurrences, the
    * `topK` most frequent (ties broken alphabetically). Returns
    * (term, n) — the vocab-building step before tokenizer training.
    *
    * Scale: one partial-aggregated count keyed by term, then
    * `orderBy.limit` plans as TakeOrderedAndProject — per-partition
    * top-K merged on the driver, O(K x partitions) driver data, no
    * global sort of the vocabulary. */
  def vocabulary(df: DataFrame, textCol: String, idCol: String,
                 minCount: Long = 1L, topK: Int = Int.MaxValue): DataFrame = {
    val counts = tokenRows(df, textCol, idCol)
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    // unbounded topK means "the whole vocabulary" — skip the order+limit
    // entirely rather than plan a pointless global sort with a max limit
    if (topK == Int.MaxValue) counts
    else counts.orderBy(col("n").desc, col("term").asc).limit(topK)
  }

  /** Heavy-hitter terms: EXACT counts of every term occurring in more
    * than 1/`reportDiv` of all token occurrences, found by the two-pass
    * sketch-prefilter + exact-confirm pattern. Pass 1 folds the token
    * stream into ONE row: the total count and a k-counter
    * [[graft.functions.MisraGries]] summary whose retained set provably
    * contains every item with frequency > n/(sketchK+1) — a superset of
    * the report set whenever sketchK >= reportDiv. Pass 2 recounts ONLY
    * the <= sketchK candidates (the isin filter drops everything else
    * map-side, so the confirm groupBy shuffles candidate partials, not
    * the vocabulary) and keeps cnt * reportDiv > n — pure integer
    * arithmetic, so the result is exact and oracle-checkable.
    *
    * Scale: the naive one-pass alternative (groupBy every distinct
    * token, filter) shuffles the WHOLE vocabulary; here the shuffled
    * state is O(sketchK) per map partition in pass 1 and O(sketchK)
    * rows in pass 2. The token stream is scanned twice — the standard
    * trade, and the scans are map-only. */
  def heavyHitters(df: DataFrame, textCol: String, idCol: String,
                   reportDiv: Int = 16, sketchK: Int = 64): DataFrame = {
    require(sketchK >= reportDiv,
      s"sketchK=$sketchK must be >= reportDiv=$reportDiv or the " +
        "Misra-Gries bound n/(sketchK+1) cannot cover the n/reportDiv report threshold")
    val toks = tokenRows(df, textCol, idCol).select("term")
    val first = toks.agg(count(lit(1)).as("__n"),
        call_function("misra_gries", col("term"), lit(sketchK)).as("__cand"))
      .head()
    val n = first.getLong(0)
    val cands = first.getSeq[String](1)
    if (cands.isEmpty)
      toks.filter(lit(false)).groupBy("term").agg(count(lit(1)).as("cnt"))
    else
      toks.filter(col("term").isin(cands: _*))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .filter((col("cnt") * lit(reportDiv.toLong)) > lit(n))
  }

  /** Per-document top-`k` TF-IDF keywords: tf = occurrences / doc length,
    * idf = ln(N / df_t) with N = docs having >= 1 token and df_t = docs
    * containing the term. Returns (id, term, tfidf) with tfidf ROUNDED
    * to 6 digits BEFORE ranking, so rank order is reproducible across
    * engines (a last-ulp ln() difference can't flip near-ties; exact
    * ties break alphabetically).
    *
    * Scale: (doc, term) counts -> term-keyed join for df_t -> id-keyed
    * join for doc length; the final per-doc top-k window partitions by
    * id (already clustered by the doc-length join — sort only, no new
    * exchange). N rides a 1-row broadcast.
    *
    * The doc-frequency table BROADCASTS when the vocabulary fits the
    * session broadcast threshold ([[vocabFitsBroadcast]]: one
    * `approx_count_distinct` pass over the token rows): the (doc, term)
    * frame then keeps its id clustering end to end — ZERO term-keyed
    * exchange of the corpus-sized side (the df_t aggregate still
    * shuffles, but it's vocabulary-sized partials). Natural-language
    * corpora (millions of terms ~ tens of MB) take this side; an
    * open-ended token space (URLs, code identifiers) over the threshold,
    * or a disabled threshold (-1), shuffle-joins on term instead, so a
    * 10M-term vocabulary is never forced into a broadcast. */
  def tfidfTopK(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    val bv = vocabFitsBroadcast(df, textCol, idCol)
    val dt = docTermCounts(df, textCol, idCol)
    // doc length as a window over the id-clustering dt already has — a
    // sort, not another scan branch + join (docs are bounded-size, so a
    // per-doc window partition is never a hot reducer)
    val dtl = dt.withColumn("__len", sum("c").over(Window.partitionBy("id")))
    val dfT = broadcastIf(bv)(dt.groupBy("term").agg(count(lit(1)).as("__df")))
    val nDocs = dt.agg(count_distinct(col("id")).as("__nd"))
    val scored = dtl
      .join(dfT, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(
        (col("c").cast(DoubleType) / col("__len")) *
          log(col("__nd").cast(DoubleType) / col("__df")), 6))
    scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("__rn") <= k)
      .select(col("id").as(idCol), col("term"), col("tfidf"))
  }

  /** Per-doc top-k BM25 keywords (Robertson/Okapi, the Lucene idf
    * variant `ln((N - df + 0.5)/(df + 0.5) + 1)`) — the retrieval
    * scoring most curation stacks use where TF-IDF is too
    * length-biased; tf saturates at k1 and the b term normalizes by
    * doc length against the corpus mean. Same plan shape, broadcast
    * adaptivity, and rank-stability contract (round 6 BEFORE the rank,
    * ties on term) as [[tfidfTopK]]. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val bv = vocabFitsBroadcast(df, textCol, idCol)
    val dt = docTermCounts(df, textCol, idCol)
    val dtl = dt.withColumn("__len", sum("c").over(Window.partitionBy("id")))
    val dfT = broadcastIf(bv)(dt.groupBy("term").agg(count(lit(1)).as("__df")))
    val g = dt.agg(count_distinct(col("id")).as("__nd"), sum("c").as("__tot"))
    val avgLen = col("__tot").cast(DoubleType) / col("__nd").cast(DoubleType)
    val idf = log(((col("__nd") - col("__df")).cast(DoubleType) + 0.5) /
      (col("__df").cast(DoubleType) + 0.5) + 1.0)
    val tf = (col("c").cast(DoubleType) * lit(k1 + 1.0)) /
      (col("c").cast(DoubleType) +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("__len").cast(DoubleType) / avgLen)))
    dtl.join(dfT, "term")
      .crossJoin(broadcast(g))
      .withColumn("bm25", round(idf * tf, 6))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("bm25").desc, col("term").asc)))
      .filter(col("__rn") <= k)
      .select(col("id").as(idCol), col("term"), col("bm25"))
  }

  /** BM25 QUERY search: each document's summed [[bm25TopK]]-formula
    * score over a literal bag of query terms (docs hitting no term are
    * absent) — the lexical half of hybrid retrieval. Statistics (doc
    * length, per-term df, corpus totals) come from the FULL corpus;
    * only the scoring join restricts to the query terms, whose df table
    * is |terms| rows and always broadcasts. Score rounds to 6 after the
    * per-doc sum (<= |terms| addends). */
  def bm25Search(df: DataFrame, textCol: String, idCol: String,
                 terms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    val dt = docTermCounts(df, textCol, idCol)
    val dtl = dt.withColumn("__len", sum("c").over(Window.partitionBy("id")))
      .filter(col("term").isin(terms: _*))
    val dfT = broadcast(dt.filter(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("__df")))
    val g = dt.agg(count_distinct(col("id")).as("__nd"), sum("c").as("__tot"))
    val avgLen = col("__tot").cast(DoubleType) / col("__nd").cast(DoubleType)
    val idf = log(((col("__nd") - col("__df")).cast(DoubleType) + 0.5) /
      (col("__df").cast(DoubleType) + 0.5) + 1.0)
    val tf = (col("c").cast(DoubleType) * lit(k1 + 1.0)) /
      (col("c").cast(DoubleType) +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("__len").cast(DoubleType) / avgLen)))
    dtl.join(dfT, "term")
      .crossJoin(broadcast(g))
      .groupBy("id").agg(round(sum(idf * tf), 6).as("score"))
      .withColumnRenamed("id", idCol)
  }

  /** The vocabulary-table join side of [[tfidfTopK]], [[bm25TopK]],
    * [[bigramLogProb]] and [[bigramLogProbKN]]: estimated vocabulary
    * bytes (approx distinct terms x ~64 B/row of term string + count +
    * overhead) against the session's broadcast threshold. A disabled
    * threshold (-1) means never broadcast. */
  private def vocabFitsBroadcast(df: DataFrame, textCol: String,
                                 idCol: String): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 && {
      val approx = tokenRows(df, textCol, idCol)
        .agg(approx_count_distinct(col("term")).as("v")).head().getLong(0)
      approx * 64L <= threshold
    }
  }

  private def broadcastIf(fits: Boolean)(t: DataFrame): DataFrame =
    if (fits) broadcast(t) else t

  /** Character-trigram rows (id, tri [, carried cols]) over
    * whitespace-normalized lowercase text — the n-gram feature the
    * trigram language-ID trains on. Zero-shuffle construction: the same
    * shifted-`slice` + `arrays_zip` recipe as [[Dedup.shingleRowsRaw]],
    * per character — plain codegen collection expressions, no
    * higher-order lambdas, no window. Docs shorter than 3 characters
    * contribute nothing (and classify as "und" downstream). */
  def charTrigramRows(df: DataFrame, textCol: String, idCol: String,
                      carryCols: Seq[String] = Nil): DataFrame = {
    val norm = regexp_replace(lower(col(textCol)), "\\s+", " ")
    val base = df.select((col(idCol).as("id") +: carryCols.map(col) :+
        split(norm, "").as("__ch")): _*)
      .filter(size(col("__ch")) >= 3)
    val m = size(col("__ch")) - 2
    val z = arrays_zip((0 until 3).map(j =>
      slice(col("__ch"), lit(j + 1), m).as(j.toString)): _*)
    base
      .select((col("id") +: carryCols.map(col) :+ explode(z).as("__t")): _*)
      .select((col("id") +: carryCols.map(col) :+
        concat((0 until 3).map(j => col("__t").getField(j.toString)): _*).as("tri")): _*)
  }

  /** Trigram language-ID, trained and applied in one plan (the
    * char-n-gram upgrade [[Text.langId]]'s docstring points at): per-lang
    * profiles = the `topM` most frequent trigrams among rows labeled by
    * `langCol` (Cavnar-Trenkle-style); a doc's predicted language is the
    * profile its trigram OCCURRENCES hit most (ties alphabetical; docs
    * hitting nothing — including docs under 3 chars — predict "und").
    * Returns (idCol, lang_pred).
    *
    * Scale: the trigram alphabet is bounded, so per-lang profile frames
    * are dictionary-sized — the profile ranking window partitions by
    * lang over O(alphabet^3) rows, and the classify join BROADCASTS the
    * profile (topM x #langs rows), so a hot trigram never shuffle-skews;
    * per-(doc, tri) counts collapse occurrences map-side before scoring;
    * the argmax is a min-struct aggregate over <= #langs rows per doc,
    * not a window over data. */
  def trigramLangId(df: DataFrame, textCol: String, idCol: String,
                    langCol: String, topM: Int = 100): DataFrame = {
    val tri = charTrigramRows(df, textCol, idCol, carryCols = Seq(langCol))
    val prof = tri.groupBy(langCol, "tri").agg(count(lit(1)).as("__n"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(langCol).orderBy(col("__n").desc, col("tri").asc)))
      .filter(col("__rn") <= topM)
      .select(col(langCol).as("__plang"), col("tri"))
    val dc = tri.groupBy("id", "tri").agg(count(lit(1)).as("__c"))
    val best = dc.join(broadcast(prof), "tri")
      .groupBy("id", "__plang").agg(sum("__c").as("__score"))
      .groupBy("id")
      .agg(min(struct((-col("__score")).as("s"), col("__plang").as("l"))).as("__b"))
      .select(col("id").as(idCol), col("__b.l").as("lang_pred"))
    df.select(col(idCol))
      .join(best, Seq(idCol), "left")
      .withColumn("lang_pred", coalesce(col("lang_pred"), lit("und")))
  }

  /** Unigram language-model score: per doc, the mean over token
    * occurrences of ln p(term), with p estimated from THIS corpus
    * (count / total occurrences). The distributed form of the CCNet /
    * Wikipedia-LM quality signal — low (very negative) scores mark
    * gibberish built from rare terms, high scores mark common-word
    * boilerplate. Returns (id, n_tokens, mean_logprob rounded to 6).
    * Zero-token docs are absent (no occurrences to average).
    *
    * Scale: term probabilities come from one partial-aggregated count
    * keyed by term; the corpus total is a 1-row broadcast; the per-doc
    * mean reuses the (doc, term) clustering. No collect — the term
    * distribution never leaves the cluster. */
  /** Per-doc bigram occurrence counts (id, v, w, c) over lowercased
    * whitespace tokens: exchange-free pair construction (arrays_zip of
    * two shifted slices — the shingle recipe; no lead() window, no
    * sort), then one repartition-by-id count. Docs with < 2 tokens
    * contribute nothing (an empty doc's token array is [""], size 1,
    * so empty tokens never appear in a pair). */
  def docBigramCounts(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // exchange the COMPACT (id, text) rows; tokenize + slice + explode
    // run AFTER it (r15) — fewer shuffled bytes than the former exploded
    // bigram shuffle (each token rode in two bigram rows) and the
    // CPU-dense tokenize runs at shuffle parallelism, not the one task
    // a single-row-group fixture scan provides
    val base = df.select(col(idCol).as("id"), lower(col(textCol)).as("__lt"))
      .repartition(col("id"))
      .select(col("id"), Text.tokens(col("__lt")).as("__t"))
    val sz = size(col("__t"))
    val pairs = arrays_zip(
      slice(col("__t"), lit(1), sz - 1).as("0"),
      slice(col("__t"), lit(2), sz - 1).as("1"))
    base.filter(sz >= 2)
      .select(col("id"), explode(pairs).as("__p"))
      .select(col("id"), col("__p.0").as("v"), col("__p.1").as("w"))
      .groupBy("id", "v", "w").agg(count(lit(1)).as("c"))
  }

  /** Interpolated BIGRAM LM score — one order up from
    * [[unigramLogProb]] (the CCNet-style signal most pipelines actually
    * run): per doc, the mean over token transitions of
    * `log(lambda * c(vw)/c(v.) + (1-lambda) * c(w)/N)` — Jelinek-Mercer
    * interpolation with the unigram model, where `c(v.)` counts v as a
    * LEFT CONTEXT (sum of its outgoing bigrams), so the bigram term is
    * a true conditional and the unigram floor keeps unseen transitions
    * finite. Docs with < 2 tokens are absent (no transitions to
    * average). Returns (id, n_bigrams, mean_logprob).
    *
    * Scale: the corpus bigram/context/unigram tables partial-aggregate
    * on short keys before any join; the context and unigram tables are
    * vocabulary-sized and BROADCAST when they fit the session threshold
    * (the [[tfidfTopK]] adaptive rule — a hot context like "the" then
    * never skews a shuffle), degrading to shuffle joins above it. */
  def bigramLogProb(df: DataFrame, textCol: String, idCol: String,
                    lambda: Double = 0.75): DataFrame = {
    val bv = vocabFitsBroadcast(df, textCol, idCol)
    val db = docBigramCounts(df, textCol, idCol)
    val cb = db.groupBy("v", "w").agg(sum("c").as("__cvw"))
    val cv = broadcastIf(bv)(cb.groupBy("v").agg(sum("__cvw").as("__cv")))
    val un = docTermCounts(df, textCol, idCol)
    val cw = broadcastIf(bv)(un.groupBy("term").agg(sum("c").as("__cw"))
      .withColumnRenamed("term", "w"))
    val total = un.agg(sum("c").as("__tot"))
    db.join(cb, Seq("v", "w")).join(cv, "v").join(cw, "w")
      .crossJoin(broadcast(total))
      .groupBy("id")
      .agg(sum("c").as("n_bigrams"),
        round(sum(col("c") * log(
          lit(lambda) * (col("__cvw").cast(DoubleType) / col("__cv").cast(DoubleType)) +
            lit(1.0 - lambda) * (col("__cw").cast(DoubleType) / col("__tot").cast(DoubleType)))) /
          sum("c"), 6).as("mean_logprob"))
      .withColumnRenamed("id", idCol)
  }

  /** KNESER-NEY smoothed bigram LM score (absolute discount `d`,
    * continuation-count backoff — Kneser & Ney 1995, the smoothing
    * KenLM/CCNet-class models actually use):
    * `P(w|v) = (c(vw)-d)/c(v.) + d*N1+(v.)/c(v.) * N1+(.w)/|types|`
    * where `N1+(v.)` counts distinct continuations of v, `N1+(.w)`
    * distinct left contexts of w, `|types|` distinct bigram types —
    * the insight being that the backoff weight of w is how many
    * contexts it FOLLOWS, not how often it occurs ("francisco" is
    * frequent but only ever follows "san"). Every quantity is an
    * integer aggregate, so the score replays exactly in SQL. Scored
    * bigrams occur in the corpus by construction (the corpus includes
    * the doc), so `c(vw) >= 1 > d` and no max() clamp is needed.
    * Same scale shape as [[bigramLogProb]]; returns
    * (id, n_bigrams, mean_logprob). */
  def bigramLogProbKN(df: DataFrame, textCol: String, idCol: String,
                      discount: Double = 0.75): DataFrame = {
    val bv = vocabFitsBroadcast(df, textCol, idCol)
    val db = docBigramCounts(df, textCol, idCol)
    val cb = db.groupBy("v", "w").agg(sum("c").as("__cvw"))
    val cv = broadcastIf(bv)(cb.groupBy("v")
      .agg(sum("__cvw").as("__cv"), count(lit(1)).as("__n1v")))
    val contW = broadcastIf(bv)(cb.groupBy("w").agg(count(lit(1)).as("__ncw")))
    val types = cb.agg(count(lit(1)).as("__types"))
    db.join(cb, Seq("v", "w")).join(cv, "v").join(contW, "w")
      .crossJoin(broadcast(types))
      .groupBy("id")
      .agg(sum("c").as("n_bigrams"),
        round(sum(col("c") * log(
          (col("__cvw").cast(DoubleType) - lit(discount)) / col("__cv").cast(DoubleType) +
            lit(discount) * (col("__n1v").cast(DoubleType) / col("__cv").cast(DoubleType)) *
              (col("__ncw").cast(DoubleType) / col("__types").cast(DoubleType)))) /
          sum("c"), 6).as("mean_logprob"))
      .withColumnRenamed("id", idCol)
  }

  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val dt = docTermCounts(df, textCol, idCol)
    val ct = dt.groupBy("term").agg(sum("c").as("__ct"))
    val total = ct.agg(sum("__ct").as("__tot"))
    dt.join(ct, "term")
      .crossJoin(broadcast(total))
      .groupBy("id")
      .agg(sum("c").as("n_tokens"),
        round(sum(col("c") * log(col("__ct").cast(DoubleType) / col("__tot"))) /
          sum("c"), 6).as("mean_logprob"))
      .withColumnRenamed("id", idCol)
  }

  /** Zipf-law fit over the token frequency spectrum: OLS of ln(count)
    * on ln(rank) across the top `topK` vocabulary terms, returned as
    * one row (v, zipf_exponent, intercept, r2) with exponent = −slope.
    * The corpus-linguistics health check a pipeline runs per source:
    * natural text sits near exponent 1; template/spam-heavy or
    * boilerplate-stripped slices drift visibly (Zipf 1949; Piantadosi
    * 2014 review).
    *
    * Scale shape: term counts are one map-side-combined aggregate; the
    * rank is [[Ordinals.withGlobalRank]] over the VOCABULARY frame
    * (distinct terms, not tokens) under the (count desc, term) total
    * order; the regression is one aggregate over topK rows. Exactness:
    * each point's ln trees are fixed doubles over exact integer
    * (rank, count), rounded to 9 and DECIMAL-summed, so the fit is
    * order-independent; the OLS formulas are the m29 trees. */
  def zipfFit(df: DataFrame, textCol: String, idCol: String,
              topK: Int = 500): DataFrame = {
    val counts = vocabulary(df, textCol, idCol)
    val ranked = Ordinals.withGlobalRank(counts,
        Seq(col("n").desc, col("term").asc), "__r")
      .filter(col("__r") <= topK)
    val lx = log(col("__r").cast(DoubleType))
    val ly = log(col("n").cast(DoubleType))
    def dsum(c: Column) = sum(round(c, 9).cast("decimal(28,9)")).cast(DoubleType)
    val s = ranked.agg(count(lit(1)).cast(DoubleType).as("__v"),
      dsum(lx).as("__sx"), dsum(ly).as("__sy"),
      dsum(lx * ly).as("__sxy"), dsum(lx * lx).as("__sxx"),
      dsum(ly * ly).as("__syy"))
    val v = col("__v")
    val mx = col("__sx") / v
    val my = col("__sy") / v
    val cxx = col("__sxx") - (v * (mx * mx))
    val cxy = col("__sxy") - (v * (mx * my))
    val cyy = col("__syy") - (v * (my * my))
    val slope = cxy / cxx
    s.select(v.cast("long").as("v"),
      round(lit(0.0) - slope, 6).as("zipf_exponent"),
      round(my - (slope * mx), 6).as("intercept"),
      round(lit(1.0) - ((cyy - (slope * cxy)) / cyy), 6).as("r2"))
  }
}
