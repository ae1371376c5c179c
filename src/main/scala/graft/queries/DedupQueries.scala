package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Dedup, Lexicon, LshIndex, Retrieval, Similarity}
import Q.QueryFn

/** Driver-checked queries for deduplication and similarity search.
  *
  * The synthetic corpus has no natural duplicates, so each query builds a
  * corpus with KNOWN planted dups (exact copies / perturbed copies /
  * identical vectors) — identically in Spark and in the oracle SQL. LSH
  * variants are verified against the brute-force oracle: banding is
  * candidate generation, the exact verify step makes output == exact
  * whenever recall is 1 (banding parameters chosen so it is on this data;
  * the spec asserts it).
  */
object DedupQueries {

  /** d3 banding config — single source of truth shared with
    * tools.ProfileD3 (r2 ADVICE: the profiler must measure the same
    * pipeline the bench runs). 21 bands x 3 rows:
    * P(candidate | j=0.7) = 1-(1-0.343)^21 = 0.9999. */
  val D3Bands = 21
  val D3RowsPerBand = 3
  val D3Shingle = 3
  val D3Threshold = 0.7

  /** Corpus with exact duplicates: every doc twice (ids +10000). */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
  }
  private val DupCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 10000, text FROM documents"""

  /** Corpus with near-duplicates: docs with doc_id < 50 also appear
    * perturbed (two tokens appended) under ids +10000. */
  private[graft] def nearCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extra token")).as("text")))
  }
  private val NearCorpusSql =
    """SELECT doc_id, text FROM documents
       UNION ALL SELECT doc_id + 10000, text || ' extra token' FROM documents WHERE doc_id < 50"""

  /** Exact n-gram Jaccard pairs oracle (shared by d2 and d3) over the
    * [[Q.shingleSetSql]] shingle sets. */
  private def jaccardOracle(corpusSql: String, n: Int, threshold: Double): String = s"""
    WITH corpus AS ($corpusSql),
    sh AS (${Q.shingleSetSql("doc_id", "corpus", n)}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common), 6) AS jaccard
    FROM pairs
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE CAST(common AS DOUBLE) / (na.n_sh + nb.n_sh - common) >= $threshold"""

  /** d7's exact decontamination: a doc goes when at least 80% of its
    * [[Q.shingleSetSql]] 3-shingles occur in the benchmark docs
    * (doc_id < 30). */
  private val decontaminateOracle: String = s"""
      WITH sh AS (${Q.shingleSetSql("doc_id", "documents", 3)}),
      bs AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 30),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hits AS (SELECT s.doc_id, count(*) AS h FROM sh s JOIN bs USING (sh) GROUP BY 1),
      bad AS (SELECT sizes.doc_id FROM sizes JOIN hits USING (doc_id)
              WHERE h >= n_sh * 0.8)
      SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM bad)"""

  /** d6's duplicate components over the d2 pairs: [[Q.reachSql]] plus
    * `comp`, each paired doc's component label. */
  private val nearComponentsSql: String = s"""
      pairs AS (${jaccardOracle(NearCorpusSql, 3, 0.7)}),
      ${Q.reachSql("pairs")},
      comp AS (SELECT n.id AS doc_id, ${Q.ComponentSql} AS component
               FROM nodes n)"""

  /** The split router's 60-bit md5 prefix of "<id>:42". */
  private def groupHashSql(id: String): String =
    s"CAST(('0x' || substring(md5(CAST($id AS VARCHAR) || ':42'), 1, 15)) AS BIGINT)"

  /** 30% test / 70% train by [[groupHashSql]] mod 1000. */
  private def splitSql(id: String): String =
    s"CASE WHEN ${groupHashSql(id)} % 1000 < 300 THEN 'test' ELSE 'train' END"

  /** d10's duplicated-span islands: every 10-token shingle `sh` with its
    * position, those occurring at least twice anywhere (`dup`), and
    * their positions grouped into islands `g` that merge at a gap of at
    * most 10 (`grp`). */
  private val dupIslandsSql: String = """
      tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      sh AS (SELECT doc_id, unnest(list_transform(range(len(t) - 9), i ->
               {'pos': i, 'sh': list_reduce(list_transform(range(i, i + 10), j -> t[j + 1]),
                                            (a, b) -> a || ' ' || b)})) AS u
             FROM tok WHERE len(t) >= 10),
      pos AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM sh),
      dup AS (SELECT sh FROM pos GROUP BY sh HAVING count(*) >= 2),
      hits AS (SELECT doc_id, pos FROM pos JOIN dup USING (sh)),
      isl AS (SELECT doc_id, pos,
                CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                     THEN 1 ELSE 0 END AS brk
              FROM hits),
      grp AS (SELECT doc_id, pos,
                sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
              FROM isl)"""

  /** Replays Similarity.{lcgComponent,signSketchDf,ivfTopK} exactly
    * over the vectors `c` (vec_id, v): plane weights from the seeded LCG,
    * sign-bit buckets, and for the queries `q` (vec_id < n) their own +
    * Hamming-1 probe buckets and the exact top-10 re-rank `top`. */
  private def ivfTopKSql(q: String, n: Int, top: String): String = s"""
      dims AS (SELECT unnest(range(64)) AS pos),
      planes AS (SELECT unnest(range(6)) AS i),
      comp AS (SELECT i, pos,
                 ((((1103515245 * (i * 1000003 + pos + 42) + 12345) % 2147483647)
                   % 2000001) - 1000000) / 1000000.0 AS w
               FROM planes, dims),
      dots AS (SELECT c.vec_id, comp.i, sum(c.v[comp.pos + 1] * comp.w) AS d
               FROM c, comp GROUP BY 1, 2),
      buck AS (SELECT vec_id, sum(CASE WHEN d > 0 THEN (1 << i) ELSE 0 END) AS bucket
               FROM dots GROUP BY 1),
      $q AS (SELECT c.vec_id AS query_id, c.v AS qv, buck.bucket AS qbucket
            FROM c JOIN buck USING (vec_id) WHERE vec_id < $n),
      probes AS (SELECT query_id, qv, qbucket AS bucket FROM $q
                 UNION ALL
                 SELECT query_id, qv, xor(qbucket, (1 << i)) FROM $q, planes),
      cand AS (SELECT p.query_id, cb.vec_id AS corpus_id, p.qv, c2.v AS cv
               FROM probes p
               JOIN buck cb ON cb.bucket = p.bucket
               JOIN c c2 ON c2.vec_id = cb.vec_id
               WHERE cb.vec_id <> p.query_id),
      scored AS (SELECT query_id, corpus_id, ${cosSql("qv", "cv")} AS cosine FROM cand),
      $top AS (SELECT query_id, corpus_id FROM scored
               QUALIFY row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, corpus_id) <= 10)"""

  val queries: Map[String, QueryFn] = Map(
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(dupCorpus(s, dir), "text", "doc_id").select("doc_id")),

    "d2_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(nearCorpus(s, dir), "text", "doc_id", n = 3,
        threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    "d3_minhash_lsh" -> ((s, dir) =>
      // see D3Bands/D3RowsPerBand above: ~30x fewer false candidates
      // than 32x2 at low jaccard, recall 0.9999 at the 0.7 threshold
      Dedup.minhashLshPairs(nearCorpus(s, dir), "text", "doc_id", n = D3Shingle,
        bands = D3Bands, rowsPerBand = D3RowsPerBand, threshold = D3Threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    "d21_normalized_dedup" -> ((s, dir) =>
      // fuzzy-exact: every doc also appears UPPERCASED with extra
      // punctuation and doubled spaces (+40000) — raw-exact d1 would
      // keep both; normalized keys collapse each pair to the original
      Dedup.normalizedDedup(Tables.documents(s, dir).select("doc_id", "text")
          .unionByName(Tables.documents(s, dir).select(
            (col("doc_id") + 40000).as("doc_id"),
            concat(lit("  "), regexp_replace(upper(col("text")), " ", ",  "))
              .as("text"))),
        "text", "doc_id")),

    "d23_url_dedup" -> ((s, dir) => {
      // crawl-side URL dedup (r6): every page appears twice — once at
      // its canonical URL, once as the messy variant (case, :443,
      // tracking run, fragment). dedupByUrl collapses each pair to the
      // lowest id (the canonical row) at scan speed — the dedup
      // pipelines run BEFORE any text is read
      val docs = Tables.documents(s, dir)
      val clean = docs.select(col("doc_id"),
        concat(lit("https://www.site"), pmod(col("doc_id"), lit(7)),
          lit(".example.com/path/"), col("doc_id")).as("url"))
      val messy = docs.select((col("doc_id") + 40000).as("doc_id"),
        concat(lit("HTTPS://WWW.Site"), pmod(col("doc_id"), lit(7)),
          lit(".Example.COM:443/path/"), col("doc_id"),
          lit("?utm_source=feed&fbclid=abc#top")).as("url"))
      graft.ops.Urls.dedupByUrl(clean.unionByName(messy), "url", "doc_id")
        .select("doc_id", "canonical_url")
    }),

    "d26_dl_distance" -> ((s, dir) => {
      // native unrestricted Damerau-Levenshtein (r8): a planted
      // TRANSPOSITION class (chars 3<->4 swapped) costs 1 under DL but
      // 2 under plain Levenshtein — the per-class (dl, lev) histogram
      // exposes exactly that gap; both distances integer, map-only
      val part = Tables.part(s, dir)
      val dirtyName = when(pmod(col("p_partkey"), lit(4)) === 0,
          concat(substring(col("p_name"), 1, 2),
            substring(col("p_name"), 4, 1), substring(col("p_name"), 3, 1),
            expr("substring(p_name, 5)")))
        .when(pmod(col("p_partkey"), lit(4)) === 1,
          concat(substring(col("p_name"), 1, 2), expr("substring(p_name, 4)")))
        .when(pmod(col("p_partkey"), lit(4)) === 2,
          concat(lit("x"), expr("substring(p_name, 2)")))
        .otherwise(col("p_name"))
      part.select(pmod(col("p_partkey"), lit(4)).as("cls"),
          dirtyName.as("d_name"), col("p_name"))
        .select(col("cls"),
          expr("damerau_levenshtein(d_name, p_name)").as("dl"),
          levenshtein(col("d_name"), col("p_name")).as("lev"))
        .groupBy("cls", "dl", "lev").agg(count(lit(1)).as("n"))
    }),

    "d25_jw_scores" -> ((s, dir) => {
      // native jaro_winkler expression (r8) over the d24 dirty-name
      // fixture: per corruption class, the score distribution of the
      // TRUE pairs — map-only, whole-stage codegen, verified bit-equal
      // to DuckDB's jaro_winkler_similarity (oracle replays it raw)
      val part = Tables.part(s, dir)
      val dirtyName = when(pmod(col("p_partkey"), lit(3)) === 0,
          concat(substring(col("p_name"), 1, 2), expr("substring(p_name, 4)")))
        .when(pmod(col("p_partkey"), lit(3)) === 1,
          concat(lit("x"), expr("substring(p_name, 2)")))
        .otherwise(col("p_name"))
      part.select(pmod(col("p_partkey"), lit(3)).as("cls"),
          dirtyName.as("d_name"), col("p_name"))
        .select(col("cls"),
          round(expr("jaro_winkler(d_name, p_name)"), 6).as("jw"))
        .groupBy("cls", "jw").agg(count(lit(1)).as("n"))
    }),

    "d24_entity_resolution" -> ((s, dir) => {
      // record linkage (r6): a deterministically dirtied copy of part
      // (key%3==0 drops the 3rd name char, ==1 replaces the 1st) is
      // matched back against the clean table — blocking on the RELIABLE
      // attributes (brand, type) makes candidates an equi-join, the
      // Levenshtein filter runs only inside blocks, best match is a
      // min-struct argmin (distance, then id) — deterministic
      val part = Tables.part(s, dir)
      val dirtyName = when(pmod(col("p_partkey"), lit(3)) === 0,
          concat(substring(col("p_name"), 1, 2), expr("substring(p_name, 4)")))
        .when(pmod(col("p_partkey"), lit(3)) === 1,
          concat(lit("x"), expr("substring(p_name, 2)")))
        .otherwise(col("p_name"))
      val dirty = part.select(col("p_partkey").as("d_id"),
        dirtyName.as("d_name"), col("p_brand"), col("p_type"))
      graft.ops.Linkage.bestMatches(dirty, part,
        "d_id", "d_name", "p_partkey", "p_name",
        concat_ws("|", col("p_brand"), col("p_type")),
        concat_ws("|", col("p_brand"), col("p_type")), maxDist = 2)
    }),

    "d20_para_minhash" -> ((s, dir) => {
      // COMPOSITION: paragraph units through the minhash pipeline —
      // docs 0..9 share an identical section, 10..19 carry a perturbed
      // one (cross-group paragraph jaccard 0.8); unit id = doc*1000+pos
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") < 10,
            lit("\n\nshared section alpha beta gamma delta"))
          .when(col("doc_id") < 20,
            lit("\n\nshared section alpha beta gamma delta extra"))
          .otherwise(lit(""))).as("text"))
      val paras = Dedup.splitParagraphs(corpus, "text", "doc_id")
        .select((col("id") * 1000 + col("para_id")).as("pid"), col("para"))
      Dedup.minhashLshPairs(paras, "para", "pid", n = 3,
        bands = 21, rowsPerBand = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "d4_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(nearCorpus(s, dir), "text", "doc_id", bits = 16,
        maxDist = 1)
        .select("id_a", "id_b", "hamming")),

    "d22_simhash64" -> ((s, dir) =>
      // the SCALE form of d4 (r6): 48-bit signatures, maxDist 3,
      // blocksPerKey 3 -> Manku 3-of-6 banding on 24-bit combination
      // keys, where d4's 16-bit/8-bit-block shape went quadratic at the
      // 10x bench (key space saturates; templated docs correlate block
      // values — profiled 41M candidates for 320k true pairs at 1-of-4).
      // Near-IDENTICAL twins (one appended token) sit a few bits apart
      // at 48 bits — the regime wide-hash banding targets; the oracle
      // brute-forces the identical arithmetic
      Dedup.simhashPairs(
        Tables.documents(s, dir).select("doc_id", "text")
          .unionByName(Tables.documents(s, dir).select(
            (col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text"))),
        "text", "doc_id", bits = 48, maxDist = 3, blocksPerKey = 3)
        .select("id_a", "id_b", "hamming")),

    "d5_cosine_dup" -> ((s, dir) => {
      // size-adaptive planes (r6): fixed 8 planes measured 36x at the
      // 10x scale-up — occupancy must stay bounded as n grows. The
      // planted identical vectors share EVERY sketch, so recall on the
      // oracle set is 1 at any plane count; extra tables only add
      // exactly-verified candidates
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = e.unionByName(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.cosinePairsAuto(corpus, "embedding", "vec_id", threshold = 0.99,
        targetBucket = 32, tables = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    "d11_semdedup" -> ((s, dir) => {
      // SemDeDup on the d5 planted-dup corpus — FULL oracle (r5):
      // identical vectors always share a k-means cell, so every planted
      // pair is found regardless of the (non-SQL-replayable) centroids,
      // and no organic pair clears 0.99 in this data (d5's exact oracle
      // proves that) — the output is exactly the 50 planted pairs.
      // DedupSpec separately pins recall and subset-of-brute on fixtures.
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val corpus = e.unionByName(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      Dedup.semdedupPairs(corpus, "embedding", "vec_id", threshold = 0.99,
        nClusters = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    "d7_decontaminate" -> ((s, dir) => {
      // benchmark = docs 0..29 verbatim (overlap 1.0 -> contaminated) —
      // surviving corpus ids, exact shingle-overlap oracle below
      val corpus = Tables.documents(s, dir).select("doc_id", "text")
      val benchmark = corpus.filter(col("doc_id") < 30)
        .select((col("doc_id") + 50000).as("doc_id"), col("text"))
      Dedup.decontaminate(corpus, benchmark, "text", "doc_id", n = 3,
        maxOverlap = 0.8).select("doc_id")
    }),

    "d6_dup_components" -> ((s, dir) =>
      // near-dup clusters over the d2 pair list: (id, component) where
      // component = min doc id of the connected cluster
      Dedup.components(
        Dedup.ngramJaccardPairs(nearCorpus(s, dir), "text", "doc_id", n = 3,
          threshold = 0.7))
        .select(col("id").as("doc_id"), col("comp").as("component"))),

    "d16_keep_best" -> ((s, dir) => {
      // quality-aware keep-one: each d2 near-dup cluster keeps its
      // LONGEST member (ties to lowest id) instead of blind min-id;
      // untouched docs all survive
      val corpus = nearCorpus(s, dir)
      Dedup.keepBest(corpus,
          Dedup.ngramJaccardPairs(corpus, "text", "doc_id", n = 3,
            threshold = 0.7),
          "doc_id", length(col("text")))
        .select("doc_id")
    }),

    "d10_dup_spans" -> ((s, dir) =>
      // Lee-et-al-style exact repeated spans (>= 10 tokens, merged
      // maximal intervals, 0-based inclusive offsets)
      Dedup.dupSpans(Tables.documents(s, dir).select("doc_id", "text"),
        "text", "doc_id", minTokens = 10)
        .select(col("id").as("doc_id"), col("span_start").cast("long"),
          col("span_end").cast("long"))),

    "b17_group_split" -> ((s, dir) => {
      // leakage-safe split: near-dup clusters (d2 pairs) hash-route
      // whole to one side; seeded md5 arithmetic = exact oracle below
      val corpus = nearCorpus(s, dir)
      graft.ops.Balancing.groupSplit(corpus, "doc_id",
        Dedup.ngramJaccardPairs(corpus, "text", "doc_id", n = 3,
          threshold = 0.7), testFraction = 0.3, seed = 42L)
        .select("doc_id", "split")
    }),

    "b18_split_leakage_audit" -> ((s, dir) => {
      // EVIDENCE query for the leakage-safe split: the group-aware
      // router leaks ZERO near-dup pairs across halves, while the same
      // md5 routing keyed by the raw doc id (ignoring clusters) cuts
      // through planted near-dup pairs — the number a leakage audit
      // reports before anyone trains on the split
      val corpus = nearCorpus(s, dir)
      // pair list materialized once (a few hundred rows): the router
      // consumes it AND the audit joins it four times — lazily each
      // consumer re-ran the whole inverted-index pairs stage
      val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", n = 3,
        threshold = 0.7).transform(graft.core.Materialize.frame)
      val safe = graft.ops.Balancing.groupSplit(corpus, "doc_id", pairs,
        testFraction = 0.3, seed = 42L)
      val naive = corpus.withColumn("split",
        when(pmod(graft.ops.Hashing.md5Int(concat_ws(":",
            col("doc_id").cast("string"), lit(42L))), lit(1000L)) < 300,
          "test").otherwise("train"))
      def crossPairs(split: DataFrame, mode: String): DataFrame =
        pairs
          .join(split.select(col("doc_id").as("id_a"), col("split").as("__sa")), "id_a")
          .join(split.select(col("doc_id").as("id_b"), col("split").as("__sb")), "id_b")
          .filter(col("__sa") =!= col("__sb"))
          .agg(count(lit(1)).as("n_cross_pairs"))
          .withColumn("mode", lit(mode))
      crossPairs(safe, "group").unionByName(crossPairs(naive, "naive"))
    }),

    "b20_group_kfold" -> ((s, dir) => {
      // leakage-safe 5-fold CV assignment: near-dup clusters (d2 pairs)
      // land whole in one fold — md5 routing, exact oracle below
      // (corpus bound ONCE — the b17 double-build nit, same fix)
      val corpus = nearCorpus(s, dir)
      graft.ops.Balancing.groupFolds(corpus, "doc_id",
        Dedup.ngramJaccardPairs(corpus, "text", "doc_id", n = 3,
          threshold = 0.7), k = 5, seed = 42L)
        .select("doc_id", "fold")
    }),

    "d9_incremental_lsh" -> ((s, dir) => {
      // the production ingest shape: a perturbed batch (docs 0..49, ids
      // +20000) checked against an LSH index of the corpus — no corpus
      // re-shingling, index probed via broadcast batch band keys
      val corpus = Tables.documents(s, dir).select("doc_id", "text")
      val newBatch = corpus.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      val ix = LshIndex.build(corpus, "text", "doc_id", n = D3Shingle,
        bands = D3Bands, rowsPerBand = D3RowsPerBand)
      LshIndex.incrementalPairs(newBatch, ix, "text", "doc_id", D3Threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),

    "d14_cut_spans" -> ((s, dir) => {
      // aggressive span cut: every >= 10-token duplicated span removed
      // from every doc (keep-one filtering is a caller-side choice)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      Dedup.cutSpans(docs, Dedup.dupSpans(docs, "text", "doc_id", 10),
        "text", "doc_id")
    }),

    "d13_para_dedup" -> ((s, dir) => {
      // every doc = its own text + a SHARED boilerplate paragraph: after
      // paragraph dedup the boilerplate survives only in doc 0
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit("\n\nshared boilerplate paragraph here"))
          .as("text"))
      Dedup.dedupParagraphs(corpus, "text", "doc_id")
    }),

    "d18_source_overlap" -> ((s, dir) =>
      // which sources mirror each other: shared distinct 3-gram
      // shingles + Jaccard per source pair (zero-overlap pairs omitted)
      Dedup.sourceOverlap(Tables.documents(s, dir), "text", "source", n = 3)),

    "d17_boilerplate_lines" -> ((s, dir) => {
      // every doc = its own text line + a corpus-wide cookie-banner line
      // (df = 500 > 5: removed from ALL docs) + a line shared by only 3
      // docs (df = 3 <= 5: kept) — the CCNet line rule, vs d13's
      // keep-first paragraph contract
      val corpus = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit("\ncookie banner accept all line"),
          when(col("doc_id") < 3, lit("\nrarely shared footer line"))
            .otherwise(lit(""))).as("text"))
      Dedup.removeBoilerplateLines(corpus, "text", "doc_id", maxDocs = 5)
    }),

    "d12_contamination_report" -> ((s, dir) => {
      // two overlapping suites: per-(doc, suite) overlap fractions at
      // >= 0.5 — exact oracle below shares the shingle arithmetic
      val corpus = Tables.documents(s, dir).select("doc_id", "text")
      val suiteA = corpus.filter(col("doc_id") < 15)
        .select((col("doc_id") + 70000).as("doc_id"), col("text"))
      val suiteB = corpus.filter(col("doc_id") >= 10 && col("doc_id") < 30)
        .select((col("doc_id") + 80000).as("doc_id"), col("text"))
      Dedup.contaminationReport(corpus, Map("suiteA" -> suiteA, "suiteB" -> suiteB),
        "text", "doc_id", n = 3, minOverlap = 0.5)
        .select(col("doc_id"), col("suite"), round(col("overlap"), 6).as("overlap"))
    }),

    "d8_decontaminate_bloom" -> ((s, dir) => {
      // the no-broadcast scale path: bloom prune + exact verify — result
      // must equal d7 bit-for-bit (same oracle)
      val corpus = Tables.documents(s, dir).select("doc_id", "text")
      val benchmark = corpus.filter(col("doc_id") < 30)
        .select((col("doc_id") + 50000).as("doc_id"), col("text"))
      Dedup.decontaminateBloom(corpus, benchmark, "text", "doc_id", n = 3,
        maxOverlap = 0.8, expectedShingles = 200000L).select("doc_id")
    }),

    "d15_decontaminate_maponly" -> ((s, dir) => {
      // the MAP-ONLY / streaming shape: shingle_hashes + bloom_count_in
      // collapse the whole overlap computation into one row-local
      // codegen pass — zero shuffles. Same fixture and oracle as d7/d8
      // (bloom FPs could in principle over-drop; at 10 bits/item the
      // probe matches the exact result on this corpus — verified at
      // sf0.01 AND sf0.1, and the op's contract documents the one-sided
      // error).
      val corpus = Tables.documents(s, dir).select("doc_id", "text")
      val benchmark = corpus.filter(col("doc_id") < 30)
        .select((col("doc_id") + 50000).as("doc_id"), col("text"))
      Dedup.decontaminateMapOnly(corpus, benchmark, "text", "doc_id", n = 3,
        maxOverlap = 0.8, expectedShingles = 200000L).select("doc_id")
    }),

    "s1_ann_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "embedding",
        "vec_id", k = 10)
        .select(col("query_id"), col("corpus_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }),

    "s2_ann_ivf" -> ((s, dir) => {
      // IVF bucketing is deterministic LCG arithmetic, so per-query hit
      // counts ARE oracle-able: the SQL below replays the sketch planes,
      // bucket join, Hamming-1 probes, and top-k rank in DuckDB.
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "embedding",
        "vec_id", k = 10, planes = 6, probes = 2)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "s34_ann_recall" -> ((s, dir) => {
      // recall@10 of the LCG-plane IVF (s2's exact probe discipline)
      // against the s1 brute-force ground truth on the SAME queries —
      // the "measure, don't guess" evidence for the ANN family, and a
      // FULL oracle because both sides are deterministic in SQL. A
      // query with zero overlap still reports (recall 0).
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(e, q, "embedding", "vec_id",
        k = 10).select(col("query_id"), col("corpus_id"))
      val ann = Similarity.ivfTopK(e, q, "embedding", "vec_id", k = 10,
        planes = 6, probes = 2).select(col("query_id"), col("corpus_id"))
      val common = exact.join(ann, Seq("query_id", "corpus_id"))
        .groupBy("query_id").agg(count(lit(1)).as("__nc"))
      q.select(col("vec_id").as("query_id"))
        .join(common, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("__nc"), lit(0L)).as("n_common"),
          round(coalesce(col("__nc"), lit(0L)).cast("double") / lit(10.0),
            6).as("recall_at_10"))
    }),

    "s3_ann_ivf_kmeans" -> ((s, dir) => {
      // true-IVF (k-means coarse quantizer): MLlib centroids aren't
      // SQL-reproducible — rows-only; SimilaritySpec bounds recall.
      val e = Tables.embeddings(s, dir)
      Similarity.ivfKmeansTopK(e, e.filter(col("vec_id") < 5), "embedding",
        "vec_id", k = 10, nlist = 8, nprobe = 3)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "s6_ann_index" -> ((s, dir) => {
      // persisted IVF index: build + save (cells partitioned BY CELL) +
      // load + probe — disk reads scale with nprobe/nlist via dynamic
      // partition pruning. Rows-only (k-means centroids), spec pins
      // recall, round-trip equality, and the pruned plan.
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val tmp = graft.queries.Q.tempDir("graft_s6ix")
      graft.ops.AnnIndex.save(
        graft.ops.AnnIndex.build(e, "embedding", "vec_id", nlist = 8), tmp,
        mode = "overwrite")
      graft.ops.AnnIndex.topK(graft.ops.AnnIndex.load(s, tmp),
        e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10, nprobe = 3)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "s17_ann_graph" -> ((s, dir) => {
      // graph-expanded IVF probing (centroid k-NN adjacency + cell-radius
      // surface ranking for the reserved expansion slot) at the same
      // probe budget as s3/s6. Rows-only (k-means centroids); the
      // AnnIndexSpec panel pins budget equality and recall >= plain IVF.
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val ix = graft.ops.AnnIndex.build(e, "embedding", "vec_id", nlist = 8)
      graft.ops.AnnIndex.graphTopK(ix, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, nprobe = 3)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "s18_ann_two_phase" -> ((s, dir) => {
      // candidate-feedback two-phase probing: expansion slots follow the
      // cells phase-1 top-k actually came from (beam step), same total
      // budget as s3/s6/s17. Hit-count contract oracled like s17; the
      // AnnIndexSpec panel pins budget and recall >= plain IVF.
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val ix = graft.ops.AnnIndex.build(e, "embedding", "vec_id", nlist = 8)
      graft.ops.AnnIndex.twoPhaseTopK(ix, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", k = 10, nprobe = 3)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "t35_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 lexical ranking + embedding-cosine
      // ranking (anchor = vec 0), fused by reciprocal rank fusion;
      // pre-rank rounding everywhere -> the whole cascade replays in SQL
      val dp = (a: Column, b: Column) => call_function("dot_product", a, b)
      val bm = Retrieval.rankBy(
        Lexicon.bm25Search(Tables.documents(s, dir), "text", "doc_id",
          Seq("vector", "join", "filter")), "doc_id", "score", k = 50)
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val cos = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(dp(col("v"), col("qv")) /
            (sqrt(dp(col("v"), col("v"))) * sqrt(dp(col("qv"), col("qv")))),
            6).as("score"))
      Retrieval.rrfFuse(bm.select("doc_id", "rank"),
        Retrieval.rankBy(cos, "doc_id", "score", k = 50)
          .select("doc_id", "rank"),
        "doc_id", k = 20)
    }),

    "s23_mine_triplets" -> ((s, dir) =>
      // contrastive training pairs: nearest same-label positive +
      // nearest different-label hard negative per anchor; pre-argmin
      // rounding + id ties -> the full selection replays in SQL
      Similarity.mineTriplets(Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") < 50),
        "embedding", "vec_id", "label")),

    "s25_ivfadc" -> ((s, dir) => {
      // IVFADC: k-means cells AS parquet partitions of the CODE table —
      // probes DPP-prune the directories AND scan codes, not vectors;
      // exact re-rank over the cell-pruned shortlist. PqSpec pins the
      // dynamicpruning plan, recall, and nprobe==nlist == flat-PQ.
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cb = graft.ops.Pq.train(e, "embedding", "vec_id", m = 16,
        k = 16, sampleRows = 1000)
      val tmp = graft.queries.Q.tempDir("graft_s25ix")
      graft.ops.Pq.saveIvfAdc(e, "embedding", "vec_id", cb, nlist = 8, tmp,
        mode = "overwrite")
      graft.ops.Pq.ivfAdcTopK(graft.ops.Pq.loadIvfAdc(s, tmp),
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10,
          nprobe = 3, shortlist = 60)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "s24_pq_index" -> ((s, dir) => {
      // persisted PQ index: train + save (codes/vectors/codebook) +
      // load + ADC-shortlist probe with exact re-rank — the PqSpec
      // pins loaded==in-memory bit-for-bit, append, and tombstones
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cb = graft.ops.Pq.train(e, "embedding", "vec_id", m = 16,
        k = 16, sampleRows = 1000)
      val tmp = graft.queries.Q.tempDir("graft_s24ix")
      graft.ops.Pq.saveIndex(e, "embedding", "vec_id", cb, tmp,
        mode = "overwrite")
      graft.ops.Pq.indexTopK(graft.ops.Pq.loadIndex(s, tmp),
          e.filter(col("vec_id") < 5), "embedding", "vec_id", k = 10,
          shortlist = 60)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "s22_pq_adc" -> ((s, dir) => {
      // product quantization ANN (Jégou et al. 2011): map-only
      // pq_encode codes, per-query pq_lut broadcast, ADC shortlist +
      // exact re-rank. Hit-count contract oracled exactly (s17 style);
      // PqSpec pins recall vs the exact scan, the shuffle-free encode
      // plan, and the ADC arithmetic against driver-side math.
      val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
      val cb = graft.ops.Pq.train(e, "embedding", "vec_id", m = 16,
        k = 16, sampleRows = 1000)
      graft.ops.Pq.adcRerankTopK(e, e.filter(col("vec_id") < 5),
          "embedding", "vec_id", k = 10, cb, shortlist = 60)
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    }),

    "s19_pca_whiten" -> ((s, dir) => {
      // PCA -> whiten (SemDeDup's reduce/decorrelate preamble). MLlib
      // eigenvectors aren't SQL-replayable; the hashed row carries the
      // linear-algebra invariants the transform GUARANTEES: row count
      // preserved, k dims, whitened dims unit-variance/zero-mean, and
      // pairwise decorrelation (PCA diagonalizes the covariance).
      val k = 8
      val w = graft.ops.Embeddings.whiten(
        graft.ops.Embeddings.pcaProject(Tables.embeddings(s, dir),
          "embedding", "vec_id", k), "proj")
      val dim = (i: Int) => element_at(col("white"), i + 1)
      val unitVar = (0 until k).map(i =>
        abs(variance(dim(i)) - 1.0) < 1e-6).reduce(_ && _)
      val zeroMean = (0 until k).map(i =>
        abs(avg(dim(i))) < 1e-9).reduce(_ && _)
      val decorr = (for (i <- 0 until k; j <- i + 1 until k)
        yield abs(corr(dim(i), dim(j))) < 1e-6).reduce(_ && _)
      w.agg(count(lit(1)).as("n_rows"),
        (min(size(col("white"))) === k && max(size(col("white"))) === k).as("dims_ok"),
        unitVar.as("unit_variance"), zeroMean.as("zero_mean"),
        decorr.as("decorrelated"))
    }),

    "s20_diversity_sample" -> ((s, dir) => {
      // cluster-coverage downsampling: k-means cells, <= perCell rows
      // kept per cell by seeded-hash rank. Construction invariants
      // hashed: per-cell cap respected, every represented cell
      // non-empty, never larger than the corpus.
      val e = Tables.embeddings(s, dir)
      val total = e.count()
      graft.ops.Embeddings.diversitySample(e, "embedding", "vec_id",
          nlist = 8, perCell = 20)
        .groupBy("cell").agg(count(lit(1)).as("__n"))
        .agg((max("__n") <= 20).as("per_cell_capped"),
          (min("__n") >= 1).as("cells_nonempty"),
          (sum("__n") <= total).as("within_corpus"))
    }),

    "s21_outlier_score" -> ((s, dir) => {
      // frozen-scaler Mahalanobis outlier score: fit -> save -> load ->
      // map-only apply (the fit-on-corpus / score-anywhere seam the
      // streaming spec drives with a real readStream). Invariants
      // hashed: scores nonnegative, and the mass identity
      // avg(score^2) = k(n-1)/n (exact for a stddev_samp fit) holds to
      // FP tolerance — which can only be true if save/load restored
      // the scaler faithfully.
      val k = 8
      val proj = graft.ops.Embeddings.pcaProject(Tables.embeddings(s, dir),
        "embedding", "vec_id", k)
      val tmp = graft.queries.Q.tempDir("graft_s21w")
      graft.ops.Embeddings.saveWhitenStats(s,
        graft.ops.Embeddings.whitenStats(proj, "proj"), tmp)
      val stats = graft.ops.Embeddings.loadWhitenStats(s, tmp)
      graft.ops.Embeddings.outlierScore(proj, "proj", stats)
        .agg(count(lit(1)).as("__n"), min("outlier_score").as("__mn"),
          avg(col("outlier_score") * col("outlier_score")).as("__ms"))
        .select(col("__n").as("n_rows"), (col("__mn") >= 0.0).as("nonneg"),
          (abs(col("__ms") * col("__n") / (col("__n") - lit(1)) - k) < 1e-6)
            .as("mass_match"))
    }),

    "s5_ann_quantized" -> ((s, dir) => {
      // int8-quantized top-k: integer dot products are engine-exact, so
      // ranks AND rounded scores are fully oracle-able
      val e = Tables.embeddings(s, dir)
      Similarity.quantizedTopK(e, e.filter(col("vec_id") < 5), "embedding",
        "vec_id", k = 10)
        .select(col("query_id"), col("corpus_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    }))

  /** Strict left-fold cosine in DuckDB, matching Spark's aggregate order. */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65), i -> $x[i] * $y[i])), (acc, v) -> acc + v)"""
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** Squared L2 as the engine computes it: c.c - 2*c.q + q.q with each
    * dot an in-order left fold — bit-identical to the DotProduct loop. */
  private def l2Sql(c: String, q: String): String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65), i -> $x[i] * $y[i])), (acc, v) -> acc + v)"""
    s"${dot(c, c)} - 2.0 * ${dot(c, q)} + ${dot(q, q)}"
  }

  /** Exact simhash replay, parameterized: same md5-derived 60-bit token
    * hash and bit-sum arithmetic as the native `simhash64` expression,
    * brute-force pair join (the oracle runs at sf0.01 only). */
  private def simhashOracleFor(corpusSql: String, bits: Int, maxDist: Int): String = {
    val bitSums = (0 until bits).map(j =>
      s"sum(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n             ")
    val sig = (0 until bits).map(j => s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""
    WITH corpus AS ($corpusSql),
    tok AS (SELECT doc_id,
                   CAST(('0x' || substring(md5(CAST(t AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM corpus)),
    sums AS (SELECT doc_id,
             $bitSums
             FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, $sig AS simhash FROM sums)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxDist"""
  }

  private val simhashOracle: String = simhashOracleFor(NearCorpusSql, 16, 1)

  /** d22's corpus: every doc plus a one-token-appended twin — the
    * near-IDENTICAL regime (hamming a few bits of 48) that wide-hash
    * simhash banding is designed for. */
  private val Simhash64CorpusSql: String = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 40000, text || ' zzz' FROM documents"""

  val oracles: Map[String, String] = Map(
    "d11_semdedup" -> """
      SELECT vec_id AS id_a, CAST(vec_id + 10000 AS BIGINT) AS id_b,
             CAST(1.0 AS DOUBLE) AS cosine
      FROM embeddings WHERE vec_id < 50""",

    // s3/s6/s17: k-means cells aren't SQL-replayable, but the hashed
    // hit-count contract is — every query has >= k candidates in its
    // probed cells at this density, so n_hits == k exactly
    "s3_ann_ivf_kmeans" -> """
      SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS query_id,
             CAST(10 AS BIGINT) AS n_hits""",
    "s6_ann_index" -> """
      SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS query_id,
             CAST(10 AS BIGINT) AS n_hits""",
    "s17_ann_graph" -> """
      SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS query_id,
             CAST(10 AS BIGINT) AS n_hits""",
    "s18_ann_two_phase" -> """
      SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS query_id,
             CAST(10 AS BIGINT) AS n_hits""",
    "s22_pq_adc" -> """
      SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS query_id,
             CAST(10 AS BIGINT) AS n_hits""",
    "s24_pq_index" -> """
      SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS query_id,
             CAST(10 AS BIGINT) AS n_hits""",
    "s25_ivfadc" -> """
      SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS query_id,
             CAST(10 AS BIGINT) AS n_hits""",
    // t35: the bm25 arithmetic is t31's restricted to the literal query
    // terms; cosine ranks round to 6 pre-rank; RRF adds two coalesced
    // reciprocal terms in a fixed order
    "t35_hybrid_rrf" -> s"""
      WITH dtok AS (SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            FROM documents),
      dt AS (SELECT doc_id, term, count(*) AS c FROM dtok
             WHERE term <> '' GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(c) AS len FROM dt GROUP BY 1),
      dfreq AS (SELECT term, count(*) AS dfc FROM dt
                WHERE term IN ('vector', 'join', 'filter') GROUP BY 1),
      g AS (SELECT count(DISTINCT doc_id) AS nd, sum(c) AS tot FROM dt),
      bm AS (SELECT doc_id, round(sum(
               ln((CAST(nd - dfc AS DOUBLE) + 0.5) /
                  (CAST(dfc AS DOUBLE) + 0.5) + 1) *
               ((CAST(c AS DOUBLE) * (1.2 + 1)) /
                (CAST(c AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                  (CAST(len AS DOUBLE) /
                   (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE))))))), 6) AS score
             FROM dt JOIN dl USING (doc_id) JOIN dfreq USING (term)
                  CROSS JOIN g
             GROUP BY doc_id),
      bmr AS (SELECT doc_id, rank FROM (
                SELECT doc_id,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                FROM bm) WHERE rank <= 50),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
      cos AS (SELECT e.vec_id AS doc_id, round(${cosSql("e.v", "q")}, 6) AS score
              FROM e CROSS JOIN qv WHERE e.vec_id <> 0),
      cr AS (SELECT doc_id, rank FROM (
               SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rank
               FROM cos) WHERE rank <= 50)
      SELECT doc_id,
             round(coalesce(1.0 / (60.0 + CAST(bmr.rank AS DOUBLE)), 0.0) +
                   coalesce(1.0 / (60.0 + CAST(cr.rank AS DOUBLE)), 0.0), 6)
               AS rrf
      FROM bmr FULL OUTER JOIN cr USING (doc_id)
      QUALIFY row_number() OVER (ORDER BY rrf DESC, doc_id) <= 20""",

    "s23_mine_triplets" -> s"""
      WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
      a AS (SELECT * FROM e WHERE vec_id < 50),
      sc AS (SELECT a.vec_id AS anchor_id, a.label AS al, c.vec_id AS cand_id,
               c.label AS cl, round(${l2Sql("c.v", "a.v")}, 6) AS d2
             FROM e c JOIN a ON c.vec_id <> a.vec_id),
      pos AS (SELECT anchor_id, cand_id AS pos_id, d2 AS pos_d2
              FROM sc WHERE cl = al
              QUALIFY row_number() OVER (PARTITION BY anchor_id
                ORDER BY d2, cand_id) = 1),
      neg AS (SELECT anchor_id, cand_id AS neg_id, d2 AS neg_d2
              FROM sc WHERE cl <> al
              QUALIFY row_number() OVER (PARTITION BY anchor_id
                ORDER BY d2, cand_id) = 1)
      SELECT anchor_id, pos_id, pos_d2, neg_id, neg_d2
      FROM pos JOIN neg USING (anchor_id)""",
    "s19_pca_whiten" -> """
      SELECT count(*) AS n_rows, true AS dims_ok, true AS unit_variance,
             true AS zero_mean, true AS decorrelated
      FROM embeddings""",
    "s20_diversity_sample" -> """
      SELECT true AS per_cell_capped, true AS cells_nonempty,
             true AS within_corpus""",
    "s21_outlier_score" -> """
      SELECT count(*) AS n_rows, true AS nonneg, true AS mass_match
      FROM embeddings""",

    "d1_exact_dedup" -> s"""
      WITH corpus AS ($DupCorpusSql)
      SELECT doc_id FROM corpus
      QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1""",

    "d2_ngram_jaccard" -> jaccardOracle(NearCorpusSql, 3, 0.7),

    "d3_minhash_lsh" -> jaccardOracle(NearCorpusSql, 3, 0.7),

    "d4_simhash" -> simhashOracle,

    "d22_simhash64" -> simhashOracleFor(Simhash64CorpusSql, 48, 3),

    // both variants canonicalize to the clean URL -> survivor = the
    // clean (lower-id) row, carrying its ORIGINAL url text
    "d23_url_dedup" -> """
      SELECT doc_id,
             'https://www.site' || (doc_id % 7) || '.example.com/path/'
               || doc_id AS canonical_url
      FROM documents""",

    "d7_decontaminate" -> decontaminateOracle,

    // d15 = the map-only/streaming shape; must equal d7 exactly (bloom
    // FPs over-drop in principle, none fire on this corpus — checked at
    // both SFs)
    "d15_decontaminate_maponly" -> decontaminateOracle,

    // duplicated = shingle occurs >= 2 times anywhere; islands merge at
    // gap <= minTokens; grouping by the raw shingle string is equivalent
    // to the engine's 60-bit hash grouping (collisions negligible, as d2)
    "d10_dup_spans" -> s"""
      WITH $dupIslandsSql
      SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end
      FROM grp GROUP BY doc_id, g""",

    // component labels as in d6, then the same md5 split arithmetic the
    // Spark side computes: group = component (own id when unpaired)
    "b17_group_split" -> s"""
      WITH RECURSIVE $nearComponentsSql,
      corpus AS ($NearCorpusSql),
      grp AS (SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS g
              FROM corpus c LEFT JOIN comp USING (doc_id))
      SELECT doc_id,
             ${splitSql("g")} AS split
      FROM grp""",

    // b17's component replay with fold = md5(component:seed) mod 5
    "b20_group_kfold" -> s"""
      WITH RECURSIVE $nearComponentsSql,
      corpus AS ($NearCorpusSql),
      grp AS (SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS g
              FROM corpus c LEFT JOIN comp USING (doc_id))
      SELECT doc_id,
             ${groupHashSql("g")} % 5 AS fold
      FROM grp""",

    // replay both routers (group hash vs raw-id hash) and count pairs
    // whose ends land on different sides
    "b18_split_leakage_audit" -> s"""
      WITH RECURSIVE $nearComponentsSql,
      corpus AS ($NearCorpusSql),
      grp AS (SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS g
              FROM corpus c LEFT JOIN comp USING (doc_id)),
      safe AS (SELECT doc_id,
                 ${splitSql("g")} AS split
               FROM grp),
      naive AS (SELECT doc_id,
                  ${splitSql("doc_id")} AS split
                FROM corpus)
      SELECT 'group' AS mode,
             (SELECT count(*) FROM pairs p
              JOIN safe a ON a.doc_id = p.id_a
              JOIN safe b ON b.doc_id = p.id_b
              WHERE a.split <> b.split) AS n_cross_pairs
      UNION ALL
      SELECT 'naive',
             (SELECT count(*) FROM pairs p
              JOIN naive a ON a.doc_id = p.id_a
              JOIN naive b ON b.doc_id = p.id_b
              WHERE a.split <> b.split)""",

    // incremental LSH == full LSH on (corpus ∪ batch) restricted to
    // >= 1 new side; recall 1 on this fixture (same banding as d3)
    "d9_incremental_lsh" -> s"""
      SELECT id_a, id_b, jaccard FROM (${jaccardOracle(
        """SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 20000, text || ' extra token'
           FROM documents WHERE doc_id < 50""", 3, 0.7)})
      WHERE id_a >= 20000 OR id_b >= 20000""",

    // d10's islands, then tokens outside every island rejoin in order
    "d14_cut_spans" -> s"""
      WITH $dupIslandsSql,
      spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e
                FROM grp GROUP BY doc_id, g),
      tp AS (SELECT doc_id, u.p AS p, u.w AS w FROM (
               SELECT doc_id, unnest(list_transform(range(len(t)),
                 i -> {'p': i, 'w': t[i + 1]})) AS u
               FROM tok) z),
      keep AS (SELECT doc_id, p, w FROM tp
               WHERE NOT EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = tp.doc_id AND tp.p BETWEEN s.s AND s.e))
      SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS text
      FROM keep GROUP BY doc_id""",

    // normalized keys (lowercase, Unicode letter/digit+ws only,
    // collapsed ws) collapse each planted variant pair; survivor =
    // lowest id, ORIGINAL text; empty keys never collapse (each row
    // with an empty normalized form is its own partition)
    // d24: same dirtying, same block join, same Levenshtein metric;
    // best match replayed as row_number over (dist, id)
    // d26: both engines' builtins replayed raw — integer distances,
    // zero tolerance; the transposed class (cls 0) shows dl=1, lev=2
    "d26_dl_distance" -> """
      WITH d AS (
        SELECT p_partkey % 4 AS cls,
               CASE WHEN p_partkey % 4 = 0
                      THEN substr(p_name, 1, 2) || substr(p_name, 4, 1)
                           || substr(p_name, 3, 1) || substr(p_name, 5)
                    WHEN p_partkey % 4 = 1
                      THEN substr(p_name, 1, 2) || substr(p_name, 4)
                    WHEN p_partkey % 4 = 2
                      THEN 'x' || substr(p_name, 2)
                    ELSE p_name END AS d_name,
               p_name
        FROM part)
      SELECT cls, CAST(damerau_levenshtein(d_name, p_name) AS INT) AS dl,
             CAST(levenshtein(d_name, p_name) AS INT) AS lev,
             count(*) AS n
      FROM d GROUP BY 1, 2, 3""",

    // d25: DuckDB's jaro_winkler_similarity IS the engine expression's
    // verified-equal reference — replayed raw, no tolerance
    "d25_jw_scores" -> """
      WITH d AS (
        SELECT p_partkey % 3 AS cls,
               CASE WHEN p_partkey % 3 = 0
                      THEN substr(p_name, 1, 2) || substr(p_name, 4)
                    WHEN p_partkey % 3 = 1
                      THEN 'x' || substr(p_name, 2)
                    ELSE p_name END AS d_name,
               p_name
        FROM part)
      SELECT cls, round(jaro_winkler_similarity(d_name, p_name), 6) AS jw,
             count(*) AS n
      FROM d GROUP BY 1, 2""",

    "d24_entity_resolution" -> """
      WITH dirty AS (
        SELECT p_partkey AS d_id,
               CASE WHEN p_partkey % 3 = 0
                      THEN substr(p_name, 1, 2) || substr(p_name, 4)
                    WHEN p_partkey % 3 = 1
                      THEN 'x' || substr(p_name, 2)
                    ELSE p_name END AS d_name,
               p_brand, p_type
        FROM part),
      cand AS (
        SELECT d.d_id AS dirty_id, p.p_partkey AS cid,
               levenshtein(d.d_name, p.p_name) AS dist
        FROM dirty d JOIN part p
          ON d.p_brand = p.p_brand AND d.p_type = p.p_type
        WHERE levenshtein(d.d_name, p.p_name) <= 2),
      r AS (
        SELECT dirty_id, cid, dist,
               row_number() OVER (PARTITION BY dirty_id ORDER BY dist, cid) AS rn
        FROM cand)
      SELECT dirty_id, cid AS match_id, CAST(dist AS INT) AS dist
      FROM r WHERE rn = 1""",

    "d21_normalized_dedup" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 40000,
               '  ' || regexp_replace(upper(text), ' ', ',  ', 'g')
        FROM documents),
      k AS (SELECT doc_id, text,
              trim(regexp_replace(regexp_replace(lower(text),
                '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS nk
            FROM corpus)
      SELECT doc_id, text FROM k
      QUALIFY row_number() OVER (PARTITION BY nk,
        CASE WHEN nk = '' THEN CAST(doc_id AS VARCHAR) ELSE '' END
        ORDER BY doc_id) = 1""",

    // paragraph units (doc*1000 + position) through the exact-jaccard
    // pair oracle — recall 1 at these banding params on this fixture
    "d20_para_minhash" -> s"""
      SELECT id_a, id_b, jaccard FROM (${jaccardOracle(
        """WITH base AS (SELECT doc_id,
               text || CASE
                 WHEN doc_id < 10 THEN chr(10) || chr(10) ||
                   'shared section alpha beta gamma delta'
                 WHEN doc_id < 20 THEN chr(10) || chr(10) ||
                   'shared section alpha beta gamma delta extra'
                 ELSE '' END AS x
             FROM documents)
           SELECT doc_id * 1000 + u.pid AS doc_id, u.para AS text FROM (
             SELECT doc_id, unnest(list_transform(range(len(ps)),
               i -> {'pid': i, 'para': ps[i+1]})) AS u
             FROM (SELECT doc_id, string_split_regex(x, '\n{2,}') AS ps
                   FROM base)) t
           WHERE trim(u.para) <> ''""", 3, 0.7)}) z""",

    // per-source distinct shingle vocabularies (short-doc branch
    // included), pairwise intersection + Jaccard
    "d18_source_overlap" -> s"""
      WITH base AS (${Q.shingleSetSql("source", "documents", 3)}),
      sh0 AS (SELECT DISTINCT source, sh FROM base),
      sizes AS (SELECT source, count(*) AS n FROM sh0 GROUP BY 1),
      prs AS (SELECT a.source AS source_a, b.source AS source_b,
                     count(*) AS common
              FROM sh0 a JOIN sh0 b ON a.sh = b.sh AND a.source < b.source
              GROUP BY 1, 2)
      SELECT source_a, source_b, common,
             round(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) AS jaccard
      FROM prs JOIN sizes na ON na.source = source_a
               JOIN sizes nb ON nb.source = source_b""",

    // line removed everywhere when its distinct-doc frequency > 5;
    // order-preserving reassembly of the survivors
    "d17_boilerplate_lines" -> """
      WITH corpus AS (SELECT doc_id,
             text || chr(10) || 'cookie banner accept all line' ||
             CASE WHEN doc_id < 3
                  THEN chr(10) || 'rarely shared footer line' ELSE '' END AS x
           FROM documents),
      ln AS (SELECT doc_id, u.lid AS line_id, u.line AS line FROM (
               SELECT doc_id, unnest(list_transform(range(len(ls)),
                 i -> {'lid': i, 'line': ls[i+1]})) AS u
               FROM (SELECT doc_id, string_split(x, chr(10)) AS ls
                     FROM corpus)) t
             WHERE trim(u.line) <> ''),
      freq AS (SELECT trim(line) AS k FROM ln
               GROUP BY 1 HAVING count(DISTINCT doc_id) > 5)
      SELECT doc_id, string_agg(line, chr(10) ORDER BY line_id) AS text
      FROM ln WHERE trim(line) NOT IN (SELECT k FROM freq)
      GROUP BY doc_id""",

    // keep-first per paragraph text, order-preserving reassembly
    "d13_para_dedup" -> """
      WITH corpus AS (SELECT doc_id,
             text || chr(10) || chr(10) || 'shared boilerplate paragraph here' AS x
           FROM documents),
      par AS (SELECT doc_id, u.pid AS para_id, u.para AS para FROM (
                SELECT doc_id, unnest(list_transform(range(len(ps)),
                  i -> {'pid': i, 'para': ps[i+1]})) AS u
                FROM (SELECT doc_id, string_split_regex(x, '\n{2,}') AS ps
                      FROM corpus)) t
              WHERE trim(u.para) <> ''),
      win AS (SELECT doc_id, para_id, para FROM par
              QUALIFY row_number() OVER (PARTITION BY para ORDER BY doc_id, para_id) = 1)
      SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY para_id) AS text
      FROM win GROUP BY doc_id""",

    // per-(doc, suite) overlap fractions; suite shingle sets distinct
    "d12_contamination_report" -> s"""
      WITH sh AS (${Q.shingleSetSql("doc_id", "documents", 3)}),
      suites AS (SELECT 'suiteA' AS suite, sh FROM sh WHERE doc_id < 15
                 UNION
                 SELECT 'suiteB', sh FROM sh WHERE doc_id >= 10 AND doc_id < 30),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hits AS (SELECT s.doc_id, su.suite, count(*) AS h
               FROM sh s JOIN suites su USING (sh) GROUP BY 1, 2)
      SELECT doc_id, suite, round(CAST(h AS DOUBLE) / n_sh, 6) AS overlap
      FROM hits JOIN sizes USING (doc_id)
      WHERE CAST(h AS DOUBLE) / n_sh >= 0.5""",

    // the bloom path is a pure shuffle prune — exact same semantics as d7
    "d8_decontaminate_bloom" -> decontaminateOracle,

    // transitive closure over the d2 pair list: each node's component is
    // the min id it can reach (recursive CTE = the label-propagation
    // fixpoint the Spark op iterates to)
    "d6_dup_components" -> s"""
      WITH RECURSIVE pairs AS (${jaccardOracle(NearCorpusSql, 3, 0.7)}),
      ${Q.reachSql("pairs")}
      SELECT n.id AS doc_id, ${Q.ComponentSql} AS component
      FROM nodes n""",

    // d16: d6's recursive components + argmax-by-(len, -id) winner per
    // cluster; pair-free docs pass through untouched
    "d16_keep_best" -> s"""
      WITH RECURSIVE $nearComponentsSql,
      corpus2 AS ($NearCorpusSql)
      SELECT doc_id FROM corpus2
      WHERE doc_id NOT IN (SELECT doc_id FROM comp)
      UNION ALL
      SELECT doc_id FROM (
        SELECT c.doc_id, comp.component, len(c.text) AS l
        FROM corpus2 c JOIN comp USING (doc_id)
        QUALIFY row_number() OVER (PARTITION BY component
          ORDER BY l DESC, c.doc_id) = 1)""",

    "d5_cosine_dup" -> s"""
      WITH corpus AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 50)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(${cosSql("a.v", "b.v")}, 6) AS cosine
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE ${cosSql("a.v", "b.v")} >= 0.99""",

    // hit counts of the IVF top-10 (ivfTopKSql)
    "s2_ann_ivf" -> s"""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ${ivfTopKSql("q", 5, "topk")}
      SELECT query_id, count(*) AS n_hits FROM topk GROUP BY 1""",

    "s1_ann_topk" -> s"""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id, v FROM c WHERE vec_id < 5),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               ${cosSql("q.v", "c.v")} AS cosine
        FROM c, q WHERE q.vec_id <> c.vec_id)
      SELECT query_id, corpus_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank,
             round(cosine, 6) AS cosine
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) <= 10""",

    // s34: the s1 brute-force CTE and the s2 IVF replay composed on the
    // same 20 queries; the intersection count per query is a set
    // compare of two deterministic top-10 sets
    "s34_ann_recall" -> s"""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      qq AS (SELECT vec_id, v FROM c WHERE vec_id < 20),
      sc1 AS (SELECT qq.vec_id AS query_id, c.vec_id AS corpus_id,
                     ${cosSql("qq.v", "c.v")} AS cosine
              FROM c, qq WHERE qq.vec_id <> c.vec_id),
      ex AS (SELECT query_id, corpus_id FROM sc1
             QUALIFY row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, corpus_id) <= 10),
      ${ivfTopKSql("q2", 20, "tk")},
      co AS (SELECT ex.query_id, count(*) AS nc
             FROM ex JOIN tk USING (query_id, corpus_id) GROUP BY 1)
      SELECT qq.vec_id AS query_id,
             coalesce(co.nc, 0) AS n_common,
             round(CAST(coalesce(co.nc, 0) AS DOUBLE) / 10.0, 6)
               AS recall_at_10
      FROM qq LEFT JOIN co ON co.query_id = qq.vec_id""",

    // replays quantizeInt8 exactly: scale = max|x|, cells =
    // round(127 x / scale); integer dots make ranks engine-exact
    "s5_ann_quantized" -> s"""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      qz AS (SELECT vec_id,
               list_transform(v, x ->
                 round(127 * x / greatest(list_max(v), -list_min(v)))) AS q
             FROM c),
      q AS (SELECT vec_id, q FROM qz WHERE vec_id < 5),
      scored AS (
        SELECT q.vec_id AS query_id, qz.vec_id AS corpus_id,
               ${cosSql("q.q", "qz.q")} AS cosine
        FROM qz, q WHERE q.vec_id <> qz.vec_id)
      SELECT query_id, corpus_id,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS INT) AS rank,
             round(cosine, 6) AS cosine
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) <= 10""")
}
