package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Corpus, Lexicon, Text}
import Q.QueryFn

/** Driver-checked queries for the text-analysis suite over `documents`:
  * token counting, quality scoring, language-ID, fingerprinting — each
  * with an exact DuckDB oracle reproducing the same arithmetic.
  */
object TextQueries {

  private val stop = Text.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** t17 fixture suffix: combining accent (NFC-composes), curly quotes,
    * em dash, NBSP, a control char. Shared verbatim by the Spark query
    * and the DuckDB oracle (no single quotes — SQL-literal safe). */
  private val MessySuffix =
    " café “quoted” — dash endbell"

  /** The translate 'from' set of [[Text.normalizeText]] (explicit escapes
    * — the last char is NBSP, not a space). */
  private val NormFrom = "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0"

  /** The t46/t52 HTML page wrapper (script/style/comment chrome, block
    * tags, entities) — shared by the Spark queries and, via
    * [[htmlWrapSql]], their oracles. */
  private def htmlWrap(text: Column, id: Column): Column = concat(
    lit("<html><head><title>Doc "), id,
    lit("</title><style>body { color: red; }</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script>" +
      "</head><body><!-- nav --><div class=\"nav\">Home | About</div>" +
      "<h1>Doc "), id,
    lit("</h1><p>"), text,
    lit("</p><p>Tom &amp; Jerry &lt;3 &quot;ok&quot;</p></body></html>"))

  /** [[htmlWrap]] rendered as DuckDB SQL over the `text` column with `id`
    * spliced for the title/h1 ('' escapes are unnecessary — the wrapper
    * carries no single quotes). */
  private def htmlWrapSql(id: String): String =
    "'<html><head><title>Doc ' || " + id + " ||\n" +
      "          '</title><style>body { color: red; }</style>' ||\n" +
      "          '<script type=\"text/javascript\">var x = 1 < 2;</script>' ||\n" +
      "          '</head><body><!-- nav --><div class=\"nav\">Home | About</div>' ||\n" +
      "          '<h1>Doc ' || " + id + " || '</h1><p>' || text ||\n" +
      "          '</p><p>Tom &amp; Jerry &lt;3 &quot;ok&quot;</p></body></html>'"

  /** DuckDB replay of [[graft.ops.Text.htmlToText]] over expression `x`
    * — built by plain concatenation so the regex backslashes stay
    * literal (the Java/RE2 shared chain; used by t46 and t52). */
  private def htmlChainSql(x: String): String =
    """regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(""" + x + """,
                  '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', '', 'g'),
                '(?s)<!--.*?-->', '', 'g'),
              '(?i)<(br|/p|/div|/h[1-6]|/li|/tr)[^>]*>', chr(10), 'g'),
          '(?s)<[^>]*>', '', 'g'),
          '&nbsp;', ' ', 'g'), '&lt;', '<', 'g'), '&gt;', '>', 'g'),
          '&quot;', '"', 'g'), '&#39;', '''', 'g'), '&amp;', '&', 'g'),
          '[ \t]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n{3,}',
          chr(10) || chr(10), 'g'), '^\s+|\s+$', '', 'g')"""

  /** DuckDB replay of [[graft.ops.Urls.canonicalizeUrl]] over column `c`
    * \u2014 the identical regex chain in the shared Java/RE2 syntax (used by
    * the t47 oracle; t45 carries the same chain inline). */
  private def canonChainSql(c: String): String =
    s"""regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    lower(regexp_extract($c, '^([^:/?#]+://[^/?#]*)', 1))
                      || regexp_replace($c, '^[^:/?#]+://[^/?#]*', ''),
                    '#.*$$', '', 'g'),
                  '^(https://[^/?#:]*):443($$|[/?#].*)', '\\1\\2', 'g'),
                '^(http://[^/?#:]*):80($$|[/?#].*)', '\\1\\2', 'g'),
              '([?&])((utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?)+', '\\1', 'g'),
            '[?&]$$', '', 'g'),
          '^([a-z]+://[^/?#]+)/$$', '\\1', 'g')"""

  val queries: Map[String, QueryFn] = Map(
    "t1_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        Text.bpeTokenCount(col("text")).as("n_bpe_tokens"))),

    "t2_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(Text.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(Text.meanWordLen(col("text")), 6).as("mean_word_len"),
        round(Text.qualityScore(col("text")), 2).as("quality"))),

    "t3_langid" -> ((s, dir) => {
      val scores = Text.langScores(col("text"))
      Tables.documents(s, dir).select(
        (col("doc_id") +: scores.map { case (l, c) => c.as(s"hits_$l") } :+
          Text.langId(col("text")).as("lang_pred")): _*)
    }),

    "t4_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        Text.fingerprint(col("text")).as("fp"))),

    "t30_winnow" -> ((s, dir) =>
      // winnowing fingerprints (MOSS): rightmost-min of every 4-window
      // of char-8-gram md5 hashes, one map-only codegen pass; any
      // shared substring of >= 11 chars guarantees a shared fingerprint
      Tables.documents(s, dir).select(col("doc_id"),
        posexplode(call_function("winnow_fps", col("text"), lit(8), lit(4))))
        .select(col("doc_id"), col("pos").cast("long").as("idx"),
          col("col").as("fp"))),

    "t46_html_extract" -> ((s, dir) =>
      // WARC -> documents bridge (r6): each doc wrapped in a full HTML
      // page (script/style/comment/nav chrome, entities, block tags),
      // extracted back by the map-only htmlToText chain; the oracle
      // replays the identical regex chain over the identical wrapper
      Tables.documents(s, dir).select(col("doc_id"),
        graft.ops.Text.htmlToText(htmlWrap(col("text"), col("doc_id")))
          .as("text"))),

    "t45_url_canon" -> ((s, dir) =>
      // crawl-URL hygiene (r6): per-doc synthetic URL with every
      // canonicalization hazard planted (case, default port, tracking
      // run, fragment) -> canonical form + host + registrable domain;
      // the oracle replays the identical regex chain (shared
      // Java/RE2 syntax — no lookaround)
      Tables.documents(s, dir).select(col("doc_id"),
        concat(lit("HTTPS://WWW.Site"), pmod(col("doc_id"), lit(7)),
          lit(".Example.COM:443/Path/"), col("doc_id"),
          lit("?utm_source=feed&utm_medium=rss&id="),
          pmod(col("doc_id"), lit(50)), lit("#section-2")).as("url"))
        .select(col("doc_id"),
          graft.ops.Urls.canonicalizeUrl(col("url")).as("canonical"),
          graft.ops.Urls.urlHost(col("url")).as("host"),
          graft.ops.Urls.registrableDomain(col("url")).as("domain"))),

    "t47_link_extract" -> ((s, dir) =>
      // anchor-href extraction (r6): each doc wrapped in HTML carrying
      // both quote styles, a relative link, a fragment link, and an
      // uppercase absolute link; keep the absolute ones, canonicalize,
      // derive the host — the WARC -> host-graph front half. Map-only
      // regex chain until the explode; oracle replays it verbatim.
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(graft.ops.WebGraph.extractHrefs(concat(
          lit("<p>See <a href=\"https://Site"), pmod(col("doc_id"), lit(7)),
          lit(".example.com/page?utm_source=feed&id="),
          pmod(col("doc_id"), lit(10)),
          lit("\">x</a>, <a href='/rel/"), col("doc_id"),
          lit("'>y</a>, <a href=\"#frag\">z</a> and <A HREF=\"HTTP://Other"),
          pmod(col("doc_id"), lit(3)), lit(".ORG:80/\">w</A></p>")))).as("href"))
        .filter(col("href").rlike("(?i)^https?://"))
        .select(col("doc_id"), col("href"),
          graft.ops.Urls.canonicalizeUrl(col("href")).as("canonical"),
          graft.ops.Urls.urlHost(col("href")).as("host"))),

    "t48_host_rank" -> ((s, dir) => {
      // integer-token PageRank (r6, fixture de-saturated r7) over a
      // deterministic host graph from doc_id arithmetic. The r6 fixture
      // collapsed to a COMPLETE 17x20 bipartite graph after edge dedup,
      // fixing every rank at the uniform seed — the oracle could not
      // catch a wrong damping factor. Now each source h(s) links to a
      // SMALL structured dst set — e1: three ring neighbors
      // (s + doc_id%3) % 20, e2: the multiplicative shift 7s % 20,
      // e3: hot sinks h0/h1 (every src links to both) — so in/out
      // degrees vary, h17/h18 are dangling, and ranks spread across
      // many distinct values. All arithmetic is long division +
      // order-independent long sums; the 3-iteration oracle replays
      // bit for bit.
      val d = Tables.documents(s, dir)
      val srcM = pmod(col("doc_id"), lit(17))
      val src = concat(lit("h"), srcM)
      val e1 = d.select(src.as("src"),
        concat(lit("h"), pmod(srcM + pmod(col("doc_id"), lit(3)), lit(20)))
          .as("dst"))
      val e2 = d.select(src.as("src"),
        concat(lit("h"), pmod(srcM * 7, lit(20))).as("dst"))
      val e3 = d.select(src.as("src"),
        concat(lit("h"), pmod(col("doc_id"), lit(2))).as("dst"))
      graft.ops.WebGraph.hostRank(e1.union(e2).union(e3), iterations = 3)
    }),

    "t55_triangles" -> ((s, dir) => {
      // global triangle count (r6) over a deterministic 13-host graph
      // from doc_id arithmetic — two equi-joins under the a < b < c
      // orientation, each triangle matched exactly once
      val d = Tables.documents(s, dir)
      val h = (c: org.apache.spark.sql.Column) => concat(lit("h"), c)
      val e1 = d.select(h(pmod(col("doc_id"), lit(13))).as("src"),
        h(pmod(col("doc_id") * 3 + 1, lit(13))).as("dst"))
      val e2 = d.select(h(pmod(col("doc_id"), lit(13))).as("src"),
        h(pmod(col("doc_id") * 5 + 2, lit(13))).as("dst"))
      graft.ops.WebGraph.triangleCount(e1.union(e2))
    }),

    "t56_clustering" -> ((s, dir) => {
      // global clustering coefficient (r6) over the t55 host graph:
      // wedges from one degree aggregate, triangles from the oriented
      // join pair, coefficient = 3T/W — a ratio of exact longs
      val d = Tables.documents(s, dir)
      val h = (c: org.apache.spark.sql.Column) => concat(lit("h"), c)
      val e1 = d.select(h(pmod(col("doc_id"), lit(13))).as("src"),
        h(pmod(col("doc_id") * 3 + 1, lit(13))).as("dst"))
      val e2 = d.select(h(pmod(col("doc_id"), lit(13))).as("src"),
        h(pmod(col("doc_id") * 5 + 2, lit(13))).as("dst"))
      graft.ops.WebGraph.clusteringCoefficient(e1.union(e2))
    }),

    "t49_doremi_weights" -> ((s, dir) =>
      // DoReMi-style domain reweighting (r6): unigram-LM cross-entropy
      // per source vs the all-corpus reference, 2 EG steps at eta=1,
      // 1% uniform smoothing — the oracle replays the identical float
      // expression trees (same two-level sum shape, same exp product)
      Corpus.doremiWeights(Tables.documents(s, dir), "text", "doc_id",
        "source", eta = 1.0, steps = 2, smoothing = 0.01)),

    "t49b_doremi_kn" -> ((s, dir) =>
      // DoReMi with the REAL proxy scorer (r7): per-source Kneser-Ney
      // bigram cross-entropy (the t26 KenLM-class formula rolled up by
      // domain) replaces the fixed-unigram stand-in — a domain with
      // out-of-distribution word ORDER now shows excess loss even with
      // an ordinary unigram mix. Same EG update; oracle replays the t26
      // integer-aggregate KN statistics + the t49 EG float trees.
      Corpus.doremiWeightsKN(Tables.documents(s, dir), "text", "doc_id",
        "source", eta = 1.0, steps = 2, smoothing = 0.01)),

    "t49c_doremi_adaptive" -> ((s, dir) =>
      // DoReMi with PER-STEP proxy re-evaluation (r8): the proxy unigram
      // LM is re-TRAINED on the current mixture each EG step (closed
      // form: p_w(t) = sum_d w_d c_dt/tok_d), so step 2's excess losses
      // differ from step 1's and the steps loop no longer telescopes —
      // DoremiSpec pins steps=2,eta=1 != steps=1,eta=2. Oracle: the
      // 2-step loop unrolled as CTEs with the identical float trees.
      Corpus.doremiWeightsAdaptive(Tables.documents(s, dir), "text",
        "doc_id", "source", eta = 1.0, steps = 2, smoothing = 0.01)),

    "t49d_doremi_kn_adaptive" -> ((s, dir) =>
      // KN-DoReMi with PER-STEP proxy re-training (r9): the bigram
      // Kneser-Ney proxy is re-trained on the current mixture each EG
      // step (mixture pseudo-counts at corpus scale over the same
      // materialized sufficient-statistics table; type stats are
      // weight-invariant), composing t49b's best proxy with t49c's
      // published loop. DoremiSpec pins steps=2,eta=1 != steps=1,eta=2
      // on a bigram-planted domain. Oracle: t49b's KN CTEs + the t49c
      // unrolled 2-step loop with identical float trees.
      Corpus.doremiWeightsKNAdaptive(Tables.documents(s, dir), "text",
        "doc_id", "source", eta = 1.0, steps = 2, smoothing = 0.01)),

    "t60_nb_quality" -> ((s, dir) =>
      // Naive Bayes quality classifier (r9): the fastText/CCNet-style
      // "curated vs crawl" filter — label = source index < 10, trained
      // in closed form (Laplace per-class term log-probs), every doc
      // scored with the LLR; one (term,class) aggregate + one
      // vocabulary join, zero iterations
      Corpus.nbQualityScore(Tables.documents(s, dir), "text", "doc_id",
        expr("CAST(substring(source, 4, 10) AS INT) < 10"),
        smoothing = 1.0)),

    "t51_script_mix" -> ((s, dir) => {
      // Unicode script histogram (r6): per-doc counts over explicit
      // code-point ranges + dominant script — the pre-langid routing
      // signal. Fixture plants Cyrillic/CJK/Arabic suffixes by doc_id;
      // the oracle replays the same ranges via regexp_extract_all
      val x = concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 1, lit(" Привет мир"))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(" 你好世界"))
          .when(pmod(col("doc_id"), lit(4)) === 3, lit(" مرحبا"))
          .otherwise(lit("")))
      val counts = Text.scriptCounts(x)
      Tables.documents(s, dir).select(
        (col("doc_id") +: counts.map { case (n, c) => c.as(n) } :+
          Text.dominantScript(x).as("script")): _*)
    }),

    "t54_weighted_sample" -> ((s, dir) =>
      // Efraimidis-Spirakis weighted sample (r6): 50 docs drawn without
      // replacement proportional to token count; hash-uniform draws +
      // pre-rank rounding make the selected SET engine-exact
      Corpus.weightedSample(
        Tables.documents(s, dir).select(col("doc_id"),
          Text.tokenCount(col("text")).as("w")),
        "w", "doc_id", k = 50, seed = 42L)),

    "a18_kmv_overlap" -> ((s, dir) => {
      // KMV/theta set algebra (r6): distinct-token cardinalities of two
      // sources, their union and INTERSECTION — estimated from bottom-k
      // sketches (k smallest md5-prefix hashes; bottom-k of a union is
      // inside the union of bottom-ks) against exact joins; the oracle
      // rebuilds the sketches as rank-<=k rows and replays the
      // (k-1)/theta estimator arithmetic verbatim
      val k = 256
      val pow260 = math.pow(2.0, 60)
      val rows = Lexicon.tokenRows(
        Tables.documents(s, dir).filter(col("source").isin("src0", "src1")),
        "text", "source")
      val sk = rows.groupBy("id").agg(
        call_function("kmv_minhashes", col("term"), lit(k)).as("mins"),
        countDistinct("term").as("exact"))
      val a = sk.filter(col("id") === "src0")
        .select(col("mins").as("ma"), col("exact").as("exact_a"))
      val b = sk.filter(col("id") === "src1")
        .select(col("mins").as("mb"), col("exact").as("exact_b"))
      val inter = rows.groupBy("term")
        .agg(countDistinct("id").as("__ns"))
        .filter(col("__ns") === 2).agg(count(lit(1)).as("exact_inter"))
      def est(m: Column): Column =
        when(size(m) < k, size(m).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(m, k) / lit(pow260)))
      val mu = array_sort(array_union(col("ma"), col("mb")))
      a.crossJoin(b).crossJoin(inter).select(
        col("exact_a"), col("exact_b"), col("exact_inter"),
        round(est(col("ma")), 6).as("est_a"),
        round(est(col("mb")), 6).as("est_b"),
        round(est(col("ma")) + est(col("mb")) - est(mu), 6).as("est_inter"))
    }),

    "a17_hll_distinct" -> ((s, dir) =>
      // per-source distinct-token cardinality (r6): exact count_distinct
      // vs the native mergeable HLL aggregate (hll_distinct, p=9 -> 512
      // byte registers, md5-prefix hash) — the oracle rebuilds the
      // registers bucket for bucket and replays the estimator
      Lexicon.tokenRows(Tables.documents(s, dir), "text", "source")
        .groupBy("id")
        .agg(countDistinct("term").as("exact_distinct"),
          round(call_function("hll_distinct", col("term"), lit(9)), 6)
            .as("hll_estimate"))
        .withColumnRenamed("id", "source")),

    "t53_platt_calibration" -> ((s, dir) => {
      // Platt-calibrate the CHEAP rule-based quality score against the
      // Gopher panel verdict (r6): 3 Newton steps, each one distributed
      // aggregate of five sufficient statistics; the oracle unrolls the
      // identical float trees (iteration 1 is exact — sigmoid(0)=0.5)
      // materialized once (three narrow columns): plattFit's Newton
      // steps aggregate this frame per iteration, and its lineage holds
      // BOTH text kernels — uncheckpointed, each step re-scored the corpus
      val d = Tables.documents(s, dir).select(col("doc_id"),
        Text.qualityScore(col("text")).as("q"),
        Text.gopherRules(col("text")).getField("passes")
          .cast("double").as("y"))
        .transform(graft.core.Materialize.frame)
      val (a, b) = graft.ml.Calibration.plattFit(d, "q", "y", iterations = 3)
      d.agg(count(lit(1)).as("n_docs")).select(col("n_docs"),
        round(lit(a), 6).as("platt_a"), round(lit(b), 6).as("platt_b"),
        round(lit(1.0) / (lit(1.0) + exp(-(lit(a) + lit(b)))), 6)
          .as("p_at_1"))
    }),

    "t52_web_pipeline" -> ((s, dir) => {
      // the COMPOSED crawl-curation path (r6), one plan: raw crawl rows
      // (hazard-bearing URL + full HTML page) -> canonical-URL dedup
      // (10 variants per page collapse, min id survives) -> robots gate
      // (sites 0/1 disallow /Path for *) -> HTML-to-text -> quality
      // gate -> exact text dedup -> per-survivor token counts. Every
      // stage is the already-oracled operator; the oracle replays the
      // whole cascade.
      import graft.ops.{Robots, Text, Urls}
      val d = Tables.documents(s, dir)
      val crawl = d.select(col("doc_id"),
        concat(lit("HTTPS://WWW.Site"), pmod(col("doc_id"), lit(5)),
          lit(".Example.COM:443/Path/"), pmod(col("doc_id"), lit(50)),
          lit("?utm_source=feed&id="), pmod(col("doc_id"), lit(10)),
          lit("#s")).as("url"),
        htmlWrap(col("text"), col("doc_id")).as("html"))
      val canon = crawl.withColumn("curl", Urls.canonicalizeUrl(col("url")))
      val urlDeduped = canon.groupBy("curl")
        .agg(min(struct(col("doc_id"), col("html"))).as("__w"))
        .select(col("__w.doc_id").as("doc_id"), col("curl"),
          col("__w.html").as("html"))
      val robots = d.select(pmod(col("doc_id"), lit(5)).as("k")).distinct()
        .select(
          concat(lit("www.site"), col("k"), lit(".example.com")).as("host"),
          concat_ws("\n", lit("User-agent: *"),
            when(col("k") <= 1, lit("Disallow: /Path"))
              .otherwise(lit("Disallow: /private"))).as("body"))
      val gated = Robots.isAllowed(urlDeduped, "curl",
          Robots.parseRules(robots, "host", "body"))
        .filter(col("allowed"))
      val texts = gated.select(col("doc_id"), col("host"),
          Text.htmlToText(col("html")).as("text"))
        .filter(Text.qualityScore(col("text")) >= 0.75)
      graft.ops.Dedup.exactDedup(texts, "text", "doc_id")
        .select(col("doc_id"), col("host"),
          Text.tokenCount(col("text")).as("n_tokens"))
    }),

    "t50_robots" -> ((s, dir) => {
      // RFC 9309 fetch-policy gate (r6): per-host robots.txt bodies
      // (wildcard group with an allow-override, an empty Disallow, and
      // a decoy bot group) parsed by Robots.parseRules, candidate URLs
      // decided by longest-prefix/allow-wins. The oracle encodes the
      // fixture's RULE TABLE directly (group semantics are spec-pinned)
      // and replays the DECISION logic generically — a parser bug that
      // leaked the decoy group, kept the empty Disallow, or dropped the
      // allow-override flips decisions and fails the hash.
      val d = Tables.documents(s, dir)
      val robots = d.select(pmod(col("doc_id"), lit(5)).as("k")).distinct()
        .select(concat(lit("h"), col("k"), lit(".example.com")).as("host"),
          concat_ws("\n",
            lit("User-agent: *"),
            concat(lit("Disallow: /p"), col("k")),
            concat(lit("Allow: /p"), col("k"), lit("/ok")),
            lit("Disallow:"),
            lit("User-agent: bot"),
            lit("Disallow: /")).as("body"))
      val urls = d.select(col("doc_id"),
        concat(lit("https://h"), pmod(col("doc_id"), lit(5)),
          lit(".example.com"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("/p"), pmod(col("doc_id"), lit(5)), lit("/x")))
            .when(pmod(col("doc_id"), lit(4)) === 1,
              concat(lit("/p"), pmod(col("doc_id"), lit(5)), lit("/ok/y")))
            .when(pmod(col("doc_id"), lit(4)) === 2, lit("/q/z"))
            .otherwise(lit(""))).as("url"))
      graft.ops.Robots.isAllowed(urls, "url",
          graft.ops.Robots.parseRules(robots, "host", "body"))
        .select("doc_id", "url", "host", "path", "allowed")
    }),

    "t5_quality_filter" -> ((s, dir) =>
      // End-to-end filter: keep docs with quality >= 0.75, report per-lang
      // survivor counts — the composite op a C4-style cleaning run uses.
      Tables.documents(s, dir)
        .filter(Text.qualityScore(col("text")) >= 0.75)
        .groupBy("lang").agg(count(lit(1)).as("n"))),

    "t6_redact_pii" -> ((s, dir) =>
      // planted PII appended per doc, scrubbed by the redaction chain;
      // value-level oracle over the full redacted text
      Tables.documents(s, dir).select(col("doc_id"),
        Text.redactPii(concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 10.0.0."),
          pmod(col("doc_id"), lit(250)), lit(" tel 555-123-4567")))
          .as("redacted"))),

    "t18_pii_stats" -> ((s, dir) =>
      // PII density audit over the same planted fixture as t6: the
      // counts must see exactly what the redactor rewrites
      Tables.documents(s, dir).select((col("doc_id") +:
        graft.ops.Text.piiStats(concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or 10.0.0."),
          pmod(col("doc_id"), lit(250)), lit(" tel 555-123-4567")))
          .map { case (n, c) => c.cast("long").as(n) }): _*)),

    "t7_repetition" -> ((s, dir) =>
      // Gopher-style repetition stats over word 2-grams
      Corpus.repetitionStats(Tables.documents(s, dir), "text", "doc_id", n = 2)
        .select(col("doc_id"),
          round(col("top_ngram_frac"), 6).as("top_ngram_frac"),
          round(col("dup_ngram_frac"), 6).as("dup_ngram_frac"))),

    "t8_pack_sequences" -> ((s, dir) =>
      // token-budget packing: greedy doc-level shards of ~512 tokens
      Corpus.packSequences(Tables.documents(s, dir), "text", "doc_id",
        budget = 512)),

    "t21_bpe_count" -> ((s, dir) => {
      // trained-tokenizer BPE counts (merges table trained on a
      // deterministic corpus sample, applied via the map-only
      // bpe_token_count codegen expression). The count itself isn't
      // SQL-expressible; the hashed row carries exact invariants: doc
      // count, tokens strictly below non-whitespace chars (merges
      // fired), tokens at least the word count (merges stay in-word).
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = graft.ops.Bpe.train(docs, "text", "doc_id",
        numMerges = 200, sampleRows = 200)
      docs.select(
          graft.ops.Bpe.tokenCount(col("text"), merges).as("n_bpe"),
          Text.bpeTokenCount(col("text")).as("n_words"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_chars"))
        .agg(count(lit(1)).as("n_docs"),
          (sum("n_bpe") < sum("n_chars")).as("compresses_chars"),
          (sum("n_bpe") >= sum("n_words")).as("at_least_word_count"))
    }),

    "t22_bpe_byte" -> ((s, dir) => {
      // byte-level BPE (GPT-2 shape: merges over UTF-8 byte symbols, 256
      // base symbols cover any input). Invariants hashed: doc count;
      // tokens never exceed the piece byte count (a token is >= 1 byte,
      // merging only shrinks); tokens at least the piece count (merges
      // stay in-piece); trained merges strictly compress vs merge-free.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = graft.ops.Bpe.train(docs, "text", "doc_id",
        numMerges = 200, sampleRows = 200, byteLevel = true)
      docs.select(
          graft.ops.Bpe.tokenCount(col("text"), merges, byteLevel = true).as("n_bpe"),
          graft.ops.Bpe.tokenCount(col("text"), Seq.empty, byteLevel = true).as("n_bytes"),
          Text.bpeTokenCount(col("text")).as("n_words"))
        .agg(count(lit(1)).as("n_docs"),
          (sum("n_bpe") < sum("n_bytes")).as("compresses_bytes"),
          (sum("n_bpe") >= sum("n_words")).as("at_least_word_count"))
    }),

    "t23_bpe_vocab" -> ((s, dir) => {
      // vocabulary emission (GPT-2 convention: 256 byte symbols, then
      // one token per merge in rank order, first-id-wins on collisions).
      // Construction invariants hashed: exactly 256 base ids, contiguous
      // ids 0..n-1, distinct tokens, and at least one merge learned.
      // (No merge-count floor: on a small sample training legitimately
      // exhausts when every sampled word is fully merged.)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = graft.ops.Bpe.train(docs, "text", "doc_id",
        numMerges = 200, sampleRows = 200, byteLevel = true)
      graft.ops.Bpe.vocabDf(s, merges, byteLevel = true)
        .agg(sum(when(col("id") < 256, 1L).otherwise(0L)).as("n_base"),
          (max(col("id")) === count(lit(1)) - 1 &&
            count_distinct(col("id")) === count(lit(1))).as("ids_contiguous"),
          (count_distinct(col("token")) === count(lit(1))).as("tokens_distinct"),
          (count(lit(1)) > lit(256)).as("has_merges"))
    }),

    "t20_clean_lines" -> ((s, dir) =>
      // C4 line filter over a planted multi-line fixture: doc text made
      // terminal, a short line, a kept sentence, a no-punct line
      Tables.documents(s, dir).select(col("doc_id"),
        Text.cleanLines(concat_ws("\n",
          concat(col("text"), lit(".")),
          lit("tiny li"),
          lit("A proper sentence with enough words."),
          lit("no terminal punctuation on this line")))
          .as("cleaned"))),

    "t44_readability" -> ((s, dir) =>
      // Flesch reading ease over the period-injected fixture (t41's
      // sentence breaks); three regex counts + fixed arithmetic
      Tables.documents(s, dir).select(col("doc_id"),
        round(graft.ops.Text.fleschScore(
          regexp_replace(col("text"), "((?:\\S+\\s+){7})", "$1. ")), 4)
          .as("flesch"))),

    "t42_char_entropy" -> ((s, dir) =>
      // map-only code-point entropy per doc (the gibberish/mojibake
      // signal); canonical ascending-code-point summation makes the
      // double replayable to ~1e-15, far inside the 6-decimal rounding
      Tables.documents(s, dir).select(col("doc_id"),
        round(call_function("char_entropy", col("text")), 6).as("entropy"))),

    "t41_sentence_chunks" -> ((s, dir) =>
      // sentence-boundary chunking at a 30-token budget; the fixture
      // injects a standalone '.' sentence break after every 7 tokens
      // (the raw corpus has no punctuation)
      Corpus.chunkBySentence(Tables.documents(s, dir).select(col("doc_id"),
          regexp_replace(col("text"), "((?:\\S+\\s+){7})", "$1. ").as("text")),
        "text", "doc_id", chunkTokens = 30)),

    "t40_length_percentiles" -> ((s, dir) =>
      // per-source exact token-length quartiles (nearest-rank) — the
      // release-note length profile; dyadic percentiles keep ceil(p*n)
      // float-exact on both engines
      Corpus.lengthPercentiles(Tables.documents(s, dir),
        "text", "doc_id", "source")),

    "t39_novelty" -> ((s, dir) =>
      // corpus-relative novelty: share of each doc's distinct 3-gram
      // shingles found nowhere else (testdata plants heavy cross-doc
      // overlap, so scores spread well below 1)
      graft.ops.Dedup.noveltyScores(Tables.documents(s, dir)
        .select("doc_id", "text"), "text", "doc_id", n = 3)),

    "t38_token_budget_mix" -> ((s, dir) =>
      // token-budget sampling: three sources capped at 700/400/10
      // tokens in seeded-hash order — src3's 10-token budget proves the
      // one-doc-overshoot contract (first doc alone blows the budget
      // and still survives)
      Corpus.mixToTokenBudget(Tables.documents(s, dir)
          .select("doc_id", "text", "source"),
        "text", "doc_id", "source",
        Map("src1" -> 700L, "src2" -> 400L, "src3" -> 10L), seed = 7L)
        .select("doc_id", "source", "n_tokens")),

    "t19_shuffle" -> ((s, dir) =>
      // reproducible training order: seeded-hash global rank
      Corpus.deterministicShuffle(Tables.documents(s, dir)
        .select("doc_id", "text"), "doc_id")
        .select("doc_id", "shuffle_rank")),

    "t17_normalize" -> ((s, dir) =>
      // ftfy-lite normalization over text with appended messy unicode
      // (combining accent, curly quotes, em dash, NBSP, a control char)
      Tables.documents(s, dir).select(col("doc_id"),
        graft.ops.Text.normalizeText(concat(col("text"), lit(MessySuffix)))
          .as("norm"))),

    "t16_chunk_docs" -> ((s, dir) =>
      // context-window chunking: 40-token chunks, 8-token overlap
      Corpus.chunkDocs(Tables.documents(s, dir), "text", "doc_id",
        chunkTokens = 40, overlapTokens = 8)
        .select(col("id").as("doc_id"), col("chunk_id").cast("long"),
          col("chunk"), col("n_tokens").cast("long"))),

    "t9_source_mix" -> ((s, dir) =>
      // deterministic 50/30/20 mixture over three sources, 40-doc target
      Corpus.mixSources(Tables.documents(s, dir), "source", "doc_id",
        weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        totalRows = 40)
        .select("doc_id", "source")),

    "t27_temperature_mix" -> ((s, dir) =>
      // temperature-2 source flattening: weights prop. to sqrt(n_s),
      // quotas floor(w*total) — sqrt + source-ordered normalizer fold
      // make every double bit-replayable in SQL (full exact oracle)
      Corpus.mixSourcesTemperature(Tables.documents(s, dir), "source",
        "doc_id", temperature = 2.0, totalRows = 40)
        .select("doc_id", "source")),

    "t57_unimax" -> ((s, dir) =>
      // UniMax budget allocation (r8): 1.8-epoch char budget, 2-epoch
      // per-source cap — small sources saturate the cap, large ones
      // share the water level; integer waterfilling on the domains
      // frame, one corpus aggregate
      graft.ops.Corpus.unimaxAllocation(Tables.documents(s, dir),
        "source", "n_chars", budgetEpochs = 1.8, maxEpochs = 2.0)),

    "t10_quality_gate" -> ((s, dir) =>
      // per-source exact-median quality gate (rank selection, no value
      // buffering) — the self-calibrating form of C4-style filtering
      Corpus.qualityGate(Tables.documents(s, dir), "text", "doc_id", "source")),

    "t28_perplexity_buckets" -> ((s, dir) =>
      // CCNet head/middle/tail thirds per source by unigram-LM score;
      // pre-rank rounding + integer boundary arithmetic -> exact oracle
      Corpus.perplexityBuckets(Tables.documents(s, dir), "text", "doc_id",
        "source")),

    "t37_report_card" -> ((s, dir) =>
      // the corpus release-note stats in ONE aggregate scan
      Corpus.reportCard(Tables.documents(s, dir), "text", "doc_id", "lang")),

    "t36_curriculum" -> ((s, dir) =>
      // curriculum order: easy->hard by per-source LM thirds, seeded
      // md5 shuffle within each stage — the whole order replays in SQL
      Corpus.curriculumOrder(Tables.documents(s, dir), "text", "doc_id",
        "source")),

    "t34_gopher_rules" -> ((s, dir) =>
      // the complete Gopher §A1.1 rule panel per doc, map-only; every
      // statistic is plain builtin arithmetic -> exact oracle
      Tables.documents(s, dir).select(col("doc_id"),
        Text.gopherRules(col("text")).as("g")).select("doc_id", "g.*")),

    "t33_dsir_score_maponly" -> ((s, dir) => {
      // fit-once/score-anywhere DSIR: the broadcast-join aggregate path
      // and the map-only native dsir_score (lr table as a plan literal)
      // must agree per doc to FP-associativity tolerance; the map-only
      // path is stateless, so it scores streaming DataFrames unchanged
      // (spec drives a real readStream)
      val docs = Tables.documents(s, dir)
      val raw = docs.filter(col("source") =!= "src0")
      val tgt = docs.filter(col("source") === "src0")
      val table = graft.ops.Dsir.logRatioTable(raw, tgt, "text", "doc_id")
      graft.ops.Dsir.scoreMapOnly(raw, "text", "doc_id", table)
        .join(graft.ops.Dsir.importanceWeights(raw, tgt, "text", "doc_id")
          .select(col("doc_id"), col("logw")), "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          (max(abs(col("logw_raw") - col("logw"))) < 1e-6).as("paths_agree"))
    }),

    "t29_dsir_select" -> ((s, dir) => {
      // DSIR importance resampling: src0 docs are the target domain
      // sample, everything else the raw pool; top-50 raw docs by hashed
      // n-gram log importance weight (512 cells, t12/t13 rounding rules)
      val docs = Tables.documents(s, dir)
      graft.ops.Dsir.selectTopK(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "text", "doc_id", k = 50, buckets = 512)
    }),

    "t58_heavy_hitters" -> ((s, dir) =>
      // Misra-Gries two-pass heavy hitters (r8): a per-doc rare token
      // ('zzN') widens the vocabulary past the 64-counter sketch so the
      // eviction path actually runs; the confirm pass makes the >n/32
      // counts exact — strict integer threshold, oracle-replayable
      graft.ops.Lexicon.heavyHitters(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" zz"),
            (col("doc_id") % 1000).cast("string")).as("text")),
        "text", "doc_id", reportDiv = 32, sketchK = 64)),

    "t11_vocab" -> ((s, dir) =>
      // vocabulary building: top-50 terms with >= 2 occurrences
      Lexicon.vocabulary(Tables.documents(s, dir), "text", "doc_id",
        minCount = 2L, topK = 50)),

    "t59_zipf" -> ((s, dir) =>
      // Zipf-law fit (r8): OLS of ln(count) on ln(rank) over the top
      // 300 vocabulary terms — the corpus-health exponent; the rank
      // sort covers the vocabulary frame, never the token stream
      Lexicon.zipfFit(Tables.documents(s, dir), "text", "doc_id",
        topK = 300)),

    "t12_tfidf" -> ((s, dir) =>
      // per-doc top-3 TF-IDF keywords, rank-stable via pre-rank rounding;
      // vocab mode is ADAPTIVE: the small corpus vocabulary auto-selects
      // broadcast df_t (no term shuffle of the (doc, term) side)
      Lexicon.tfidfTopK(Tables.documents(s, dir), "text", "doc_id", k = 3)),

    "t13_lm_score" -> ((s, dir) =>
      // corpus-unigram LM mean log-prob per doc (CCNet-style LM signal)
      Lexicon.unigramLogProb(Tables.documents(s, dir), "text", "doc_id")),

    "t31_bm25" -> ((s, dir) =>
      // per-doc top-3 BM25 keywords (Okapi with the Lucene idf): length
      // saturation the t12 tfidf lacks; identical IEEE expression trees
      // on both sides + the t12 pre-rank rounding rule -> exact oracle
      Lexicon.bm25TopK(Tables.documents(s, dir), "text", "doc_id", k = 3)),

    "t25_bpe_encode" -> ((s, dir) => {
      // token-ID encoding under the trained byte-level vocab.
      // Construction invariants hashed: id-sequence length equals the
      // bpe_token_count everywhere (shared merge kernel), every id is
      // within the vocab (byte-level never emits -1), and total ids
      // equal total tokens corpus-wide.
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = graft.ops.Bpe.train(docs, "text", "doc_id",
        numMerges = 200, sampleRows = 200, byteLevel = true)
      val vocabSize = graft.ops.Bpe.vocab(merges, byteLevel = true).size
      docs.select(
          graft.ops.Bpe.encode(col("text"), merges, byteLevel = true).as("ids"),
          graft.ops.Bpe.tokenCount(col("text"), merges, byteLevel = true).as("n_bpe"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(when(size(col("ids")) === col("n_bpe"), 0L).otherwise(1L)) === 0L)
            .as("lengths_match"),
          (sum(when(size(col("ids")) === 0 ||
              (array_min(col("ids")) >= 0 && array_max(col("ids")) < vocabSize),
              0L).otherwise(1L)) === 0L)
            .as("ids_in_vocab"),
          (sum(size(col("ids")).cast("long")) === sum(col("n_bpe"))).as("mass_match"))
    }),

    "t32_bpe_roundtrip" -> ((s, dir) => {
      // decode inverts encode up to the pre-tokenizer: for EVERY doc,
      // bpe_decode(bpe_encode(text)) must equal the concatenation of
      // the pre-token pieces (whitespace between pieces is not encoded)
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val merges = graft.ops.Bpe.train(docs, "text", "doc_id",
        numMerges = 200, sampleRows = 200, byteLevel = true)
      val pre = array_join(
        regexp_extract_all(col("text"), lit(Text.BpeTokenPattern), lit(0)), "")
      docs.select(
          graft.ops.Bpe.decode(graft.ops.Bpe.encode(col("text"), merges,
            byteLevel = true), merges, byteLevel = true).as("rt"),
          pre.as("pre"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(when(col("rt") === col("pre"), 0L).otherwise(1L)) === 0L)
            .as("roundtrip_exact"))
    }),

    "t24_bigram_lm" -> ((s, dir) =>
      // interpolated bigram LM (Jelinek-Mercer vs the unigram floor) —
      // exact-oracle: all counts replay in SQL, the scalar math is
      // identical double expression trees, round(_, 6) as t13
      Lexicon.bigramLogProb(Tables.documents(s, dir), "text", "doc_id")),

    "t26_bigram_kn" -> ((s, dir) =>
      // Kneser-Ney smoothing (absolute discount + continuation-count
      // backoff — the KenLM-class formula); every term is an integer
      // aggregate, so the score replays exactly in SQL
      Lexicon.bigramLogProbKN(Tables.documents(s, dir), "text", "doc_id")),

    "t14_trigram_langid" -> ((s, dir) =>
      // char-trigram language-ID trained on the corpus's own labels
      Lexicon.trigramLangId(Tables.documents(s, dir), "text", "doc_id",
        "lang", topM = 100)),

    "t15_corpus_pipeline" -> ((s, dir) => {
      // the composed cleaning loop in ONE declarative plan:
      // quality filter -> exact dedup -> token-budget packing
      val docs = Tables.documents(s, dir)
      val clean = docs.filter(Text.qualityScore(col("text")) >= 0.8)
      val deduped = graft.ops.Dedup.exactDedup(clean, "text", "doc_id")
      Corpus.packSequences(deduped, "text", "doc_id", budget = 512)
    }))

  private val toksSql = "string_split_regex(trim(text), '\\s+')"
  private val lowToksSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** t55's host graph: two edges per doc between 13 hosts, as `und`,
    * the DISTINCT simple edges in canonical (least, greatest)
    * orientation. */
  private val hostEdgesSql = """
      raw AS (
        SELECT 'h' || CAST(doc_id % 13 AS VARCHAR) AS src,
               'h' || CAST((doc_id * 3 + 1) % 13 AS VARCHAR) AS dst
        FROM documents
        UNION ALL
        SELECT 'h' || CAST(doc_id % 13 AS VARCHAR),
               'h' || CAST((doc_id * 5 + 2) % 13 AS VARCHAR)
        FROM documents),
      und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE least(src, dst) <> greatest(src, dst))"""

  /** The triangle count of `und`: the wedge join `w` and its closing
    * join `tr`. */
  private val trianglesSql = """
      w AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1 JOIN und e2 ON e1.b = e2.a),
      tr AS (
        SELECT count(*) AS triangles
        FROM w JOIN und e3 ON w.x = e3.a AND w.z = e3.b)"""

  /** t13's unigram LM: per-doc term counts `dt` of the lowercased
    * tokens, corpus term counts `ct` and their total `tot`. */
  private val unigramLmSql: String = s"""
      tok AS (SELECT doc_id, unnest($lowToksSql) AS term FROM documents),
      dt AS (SELECT doc_id, term, count(*) AS c FROM tok WHERE term <> '' GROUP BY 1, 2),
      ct AS (SELECT term, sum(c) AS ct FROM dt GROUP BY 1),
      tot AS (SELECT sum(ct) AS tot FROM ct)"""

  /** A doc's mean log-prob under [[unigramLmSql]], rounded to 6. */
  private val meanLogProbSql =
    "round(sum(c * ln(CAST(ct AS DOUBLE) / tot)) / sum(c), 6)"

  /** Each doc's lowercased tokens `tok` and bigram counts `db` (doc_id,
    * v, w, c); t24, t26 and the DoReMi KN oracles. */
  private val bigramsSql: String = s"""
      tok AS (SELECT doc_id, $lowToksSql AS t FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
                     i -> [t[i + 1], t[i + 2]])) AS p
             FROM tok WHERE len(t) >= 2),
      db AS (SELECT doc_id, p[1] AS v, p[2] AS w, count(*) AS c
             FROM bg GROUP BY 1, 2, 3)"""

  /** The Kneser-Ney tables over the bigram counts `from` (v, w, c), as
    * `Lexicon.knTables`: `cb` (c(v,w)), `cv` (c(v) and N1+(v .)), `cont`
    * (N1+(. w)) and `ty` (bigram types). */
  private def knTablesSql(from: String): String = s"""
      cb AS (SELECT v, w, sum(c) AS cvw FROM $from GROUP BY 1, 2),
      cv AS (SELECT v, sum(cvw) AS cv, count(*) AS n1v FROM cb GROUP BY 1),
      cont AS (SELECT w, count(*) AS ncw FROM cb GROUP BY 1),
      ty AS (SELECT count(*) AS types FROM cb)"""

  /** The interpolated KN bigram probability over [[knTablesSql]]'s
    * columns (discount 0.75), as `Lexicon.knProb`. */
  private val knProbSql =
    """(CAST(cvw AS DOUBLE) - 0.75) / CAST(cv AS DOUBLE) +
       0.75 * (CAST(n1v AS DOUBLE) / CAST(cv AS DOUBLE)) *
              (CAST(ncw AS DOUBLE) / CAST(types AS DOUBLE))"""

  /** One DoReMi EG step from the per-source `dom` (tokens, lp): `g`
    * (corpus totals), `b` (excess loss over the corpus LM, clamped at
    * 0), `st` (the engine's `a0 * exp(e) * exp(e)` product) and its sum
    * `n`; t49 and t49b. */
  private val doremiStepSql = """
      g AS (SELECT sum(tokens) AS gtok, sum(lp) AS glp, count(*) AS nd
            FROM dom),
      b AS (SELECT source, tokens,
                   CASE WHEN (-lp / tokens) - (SELECT -glp / gtok FROM g) > 0
                        THEN (-lp / tokens) - (SELECT -glp / gtok FROM g)
                        ELSE 0 END AS excess,
                   CAST(tokens AS DOUBLE) / (SELECT gtok FROM g) AS a0
            FROM dom),
      st AS (SELECT source, tokens, excess,
                    a0 * exp(1.0 * excess) * exp(1.0 * excess) AS a
             FROM b),
      n AS (SELECT sum(a) AS asum FROM st)"""

  /** The DoReMi output: each source's excess loss and its weight
    * `alpha`, normalized by the sum in `n` and smoothed by 0.01 towards
    * uniform. */
  private def doremiWeightsSql(alpha: String, n: String, from: String): String = s"""
      SELECT source, CAST(tokens AS BIGINT) AS tokens,
             round(excess, 6) AS excess_loss,
             round(0.99 * $alpha / (SELECT asum FROM $n)
                   + 0.01 / (SELECT nd FROM g), 6) AS weight
      FROM $from"""

  /** t49c's proxy at EG step k: the mixture-trained unigram LM `pm`
    * p_w(t) = sum_d w_d c_dt/tok_d from the coefficients `c`, and each
    * source's log-prob `ld` under it. */
  private def unigramProxySql(k: Int, c: String): String = s"""
      pm$k AS (SELECT term, sum(s.c * $c.coef) AS pm
              FROM stc s JOIN $c USING (source) GROUP BY 1),
      ld$k AS (SELECT s.source, sum(s.c * ln(pm$k.pm)) AS lp
              FROM stc s JOIN pm$k USING (term) GROUP BY 1)"""

  /** t49d's proxy at EG step k: the mixture pseudo-counts `m` (at
    * corpus scale) and their per-context sums `mv` from the
    * coefficients `c`, and each source's KN log-prob `ld` with the
    * max(m - 0.75, 0) discount guard and the weight-invariant type
    * statistics of [[knTablesSql]]. */
  private def knProxySql(k: Int, c: String): String = s"""
      m$k AS (SELECT s.v, s.w, sum(s.c * $c.coef) AS mvw
             FROM sb s JOIN $c USING (source) GROUP BY 1, 2),
      mv$k AS (SELECT v, sum(mvw) AS mv FROM m$k GROUP BY 1),
      ld$k AS (SELECT s.source,
          sum(s.c * ln(
            ((CASE WHEN (m$k.mvw - 0.75) > 0.0 THEN (m$k.mvw - 0.75)
                   ELSE 0.0 END) / mv$k.mv)
            + ((0.75 * (CAST(cv.n1v AS DOUBLE) / mv$k.mv))
               * (CAST(cont.ncw AS DOUBLE)
                  / CAST((SELECT types FROM ty) AS DOUBLE))))) AS lp
        FROM sb s JOIN m$k USING (v, w) JOIN mv$k USING (v)
             JOIN cv USING (v) JOIN cont USING (w)
        GROUP BY 1)"""

  /** The DoReMi adaptive loop (t49c, t49d) from uniform weights `w0`
    * over `tokd` and the reference log-probs `lref`: two EG steps k,
    * each normalizing w(k-1) (`n`), turning the weights into per-token
    * coefficients (`c`, the share passed through `coef`), taking the
    * proxy log-probs `ld` from `proxy(k, c)` and updating `w` with the
    * excess loss clamped at 0; then [[doremiWeightsSql]]. */
  private def doremiEgSql(coef: String => String,
                          proxy: (Int, String) => String): String = {
    def step(k: Int, c: String): String = {
      val (p, n) = (s"w${k - 1}", s"n${k - 1}")
      val excess = s"""CASE WHEN ((-ld$k.lp / $p.tokens)
                               - (-$p.lpref / $p.tokens)) > 0.0
                         THEN ((-ld$k.lp / $p.tokens)
                               - (-$p.lpref / $p.tokens))
                         ELSE 0.0 END"""
      s"""
      $n AS (SELECT sum(alpha) AS asum FROM $p),
      $c AS (SELECT source,
                    ${coef(s"((alpha / (SELECT asum FROM $n)) / tokens)")} AS coef
             FROM $p),${proxy(k, c)},
      w$k AS (SELECT $p.source, $p.tokens,${if (k == 1) s" $p.lpref," else ""}
                    $excess AS excess,
                    $p.alpha * exp(1.0 * $excess) AS alpha
             FROM $p JOIN ld$k USING (source))"""
    }
    s"""
      w0 AS (SELECT t.source, t.tokens, l.lpref,
                    1.0 / (SELECT nd FROM g) AS alpha
             FROM tokd t JOIN lref l USING (source)),${step(1, "c1")},${step(2, "c2s")},
      n2 AS (SELECT sum(alpha) AS asum FROM w2)
      ${doremiWeightsSql("alpha", "n2", "w2")}"""
  }

  private def hitsSql(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($lowToksSql, x -> list_contains($lst, x)))"
  }

  private val punctSql =
    s"CASE WHEN len(text) = 0 THEN 0.0 ELSE CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / len(text) END"
  private val stopSql =
    s"CAST(${hitsSql(Text.EnStopwords)} AS DOUBLE) / len($lowToksSql)"
  private val mwlSql =
    s"CAST(list_sum(list_transform($toksSql, x -> len(x))) AS DOUBLE) / len($toksSql)"
  // package-visible: the st11 pipeline oracle replays the same gate
  private[queries] val qualitySql =
    s"""(CAST(len(text) BETWEEN 50 AND 100000 AS INT)
       + CAST($punctSql <= 0.2 AS INT)
       + CAST($stopSql >= 0.01 AS INT)
       + CAST($mwlSql BETWEEN 2.0 AND 12.0 AS INT)) / 4.0"""

  private val gopherRowsSql: String = s"""
      WITH g AS (
        SELECT doc_id, text,
          CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END AS wc,
          len(text) - len(replace(text, '#', '')) AS hash_cnt,
          len(text) - len(replace(text, '...', '')) AS ell3,
          CAST(len(string_split(text, chr(10))) AS DOUBLE) AS n_lines,
          len(regexp_extract_all(text, '^\\s*[-*]', 0, 'm')) AS bullet_n,
          len(regexp_extract_all(text, '\\.\\.\\.$$', 0, 'm')) AS ellipsis_n,
          len(regexp_extract_all(text, '(^|\\s)[^\\s]*[A-Za-z][^\\s]*', 0)) AS alpha_n,
          len(list_filter($lowToksSql,
            x -> list_contains(['the', 'be', 'to', 'of', 'and', 'that',
                                'have', 'with'], x))) AS stop_hits,
          round(CASE WHEN len(trim(text)) = 0 THEN 0.0 ELSE
            CAST(len(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) /
            CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END, 6)
            AS mean_word_len
        FROM documents),
      r AS (
        SELECT doc_id, CAST(wc AS BIGINT) AS word_count, mean_word_len,
          round(CASE WHEN wc = 0 THEN 0.0 ELSE
            (CAST(hash_cnt AS DOUBLE) + CAST(ell3 AS DOUBLE) / 3.0) /
            CAST(wc AS DOUBLE) END, 6) AS symbol_ratio,
          round(CAST(bullet_n AS DOUBLE) / n_lines, 6) AS bullet_frac,
          round(CAST(ellipsis_n AS DOUBLE) / n_lines, 6) AS ellipsis_frac,
          round(CASE WHEN wc = 0 THEN 0.0 ELSE
            CAST(alpha_n AS DOUBLE) / CAST(wc AS DOUBLE) END, 6) AS alpha_frac,
          CAST(stop_hits AS BIGINT) AS stop_hits
        FROM g)
      SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_frac,
             ellipsis_frac, alpha_frac, stop_hits,
             (word_count BETWEEN 50 AND 100000 AND
              mean_word_len BETWEEN 3.0 AND 10.0 AND
              symbol_ratio < 0.1 AND bullet_frac < 0.9 AND
              ellipsis_frac < 0.3 AND alpha_frac > 0.8 AND
              stop_hits >= 2) AS passes
      FROM r"""

  val oracles: Map[String, String] = Map(
    "t21_bpe_count" -> """
      SELECT count(*) AS n_docs, true AS compresses_chars,
             true AS at_least_word_count
      FROM documents""",

    "t22_bpe_byte" -> """
      SELECT count(*) AS n_docs, true AS compresses_bytes,
             true AS at_least_word_count
      FROM documents""",

    "t23_bpe_vocab" -> """
      SELECT CAST(256 AS BIGINT) AS n_base, true AS ids_contiguous,
             true AS tokens_distinct, true AS has_merges""",

    "t1_token_count" -> s"""
      SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens,
             len(regexp_extract_all(text, '${Text.BpeTokenPattern}')) AS n_bpe_tokens
      FROM documents""",

    "t2_quality_score" -> s"""
      SELECT doc_id,
             round($punctSql, 6) AS punct_ratio,
             round($stopSql, 6) AS stopword_ratio,
             round($mwlSql, 6) AS mean_word_len,
             round($qualitySql, 2) AS quality
      FROM documents""",

    "t3_langid" -> {
      val langs = Text.StopwordsByLang.toSeq.sortBy(_._1)
      val hitCols = langs.map { case (l, ws) => s"${hitsSql(ws)} AS hits_$l" }.mkString(",\n             ")
      val bestExpr = langs.map { case (l, _) => s"hits_$l" }.mkString("greatest(", ", ", ")")
      val caseExpr = langs.map { case (l, _) =>
        s"WHEN hits_$l = __best AND __best > 0 THEN '$l'"
      }.mkString("CASE ", " ", " ELSE 'und' END")
      s"""
      WITH h AS (
        SELECT doc_id,
             $hitCols
        FROM documents),
      b AS (SELECT *, $bestExpr AS __best FROM h)
      SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, hits_zh,
             $caseExpr AS lang_pred
      FROM b"""
    },

    // t30: the same md5 k-gram hashes, window minima via list ops; the
    // rightmost-tie position comes from list_position over the REVERSED
    // window; DISTINCT (pos, fp) = the engine's consecutive-window dedupe
    "t30_winnow" -> """
      WITH h AS (SELECT doc_id,
          list_transform(range(len(text) - 8 + 1),
            i -> CAST(('0x' || substring(md5(substring(text, i + 1, 8)), 1, 15)) AS BIGINT)) AS hs
        FROM documents WHERE len(text) >= 8),
      wins AS (SELECT doc_id, hs, unnest(range(greatest(len(hs) - 4 + 1, 1))) AS j
               FROM h),
      wm AS (SELECT doc_id, j,
               list_slice(hs, j + 1, least(j + 4, len(hs))) AS win,
               list_min(list_slice(hs, j + 1, least(j + 4, len(hs)))) AS m
             FROM wins),
      sel AS (SELECT DISTINCT doc_id,
               j + len(win) - list_position(list_reverse(win), m) + 1 AS pos,
               m AS fp
              FROM wm)
      SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS idx,
             fp
      FROM sel""",

    "t4_fingerprint" -> s"""
      SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), x -> CAST(unicode(x) AS BIGINT))),
               (a, x) -> (a * 31 + x) % ${Text.FingerprintMod}) AS fp
      FROM documents""",

    "t5_quality_filter" -> s"""
      SELECT lang, count(*) AS n FROM documents
      WHERE $qualitySql >= 0.75
      GROUP BY lang""",

    // identical regex chain as Text.htmlToText over the identical
    // wrapper (shared htmlWrapSql/htmlChainSql renderers)
    "t46_html_extract" -> ("""
      WITH h AS (SELECT doc_id,
          """ + htmlWrapSql("doc_id") + """ AS x
        FROM documents)
      SELECT doc_id,
        """ + htmlChainSql("x") + """ AS text
      FROM h"""),

    // identical regex chain as Urls.canonicalizeUrl, RE2 backrefs
    "t45_url_canon" -> s"""
      WITH u AS (SELECT doc_id,
          'HTTPS://WWW.Site' || (doc_id % 7) || '.Example.COM:443/Path/'
            || doc_id || '?utm_source=feed&utm_medium=rss&id='
            || (doc_id % 50) || '#section-2' AS url
        FROM documents),
      c AS (SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      lower(regexp_extract(url, '^([^:/?#]+://[^/?#]*)', 1))
                        || regexp_replace(url, '^[^:/?#]+://[^/?#]*', ''),
                      '#.*$$', '', 'g'),
                    '^(https://[^/?#:]*):443($$|[/?#].*)', '\\1\\2', 'g'),
                  '^(http://[^/?#:]*):80($$|[/?#].*)', '\\1\\2', 'g'),
                '([?&])((utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&?)+', '\\1', 'g'),
              '[?&]$$', '', 'g'),
            '^([a-z]+://[^/?#]+)/$$', '\\1', 'g') AS canonical,
          lower(regexp_extract(url, '^[^:/?#]+://([^/?#:]*)', 1)) AS host
        FROM u)
      SELECT doc_id, canonical, host,
             regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
      FROM c""",

    // href extraction + the t45 canonicalization chain over each
    // absolute link; DuckDB's unnest flattens the per-doc match list
    // (row order is irrelevant — the gate compares sorted multisets)
    "t47_link_extract" -> s"""
      WITH h AS (SELECT doc_id,
          '<p>See <a href="https://Site' || (doc_id % 7) ||
          '.example.com/page?utm_source=feed&id=' || (doc_id % 10) ||
          '">x</a>, <a href=''/rel/' || doc_id ||
          '''>y</a>, <a href="#frag">z</a> and <A HREF="HTTP://Other' ||
          (doc_id % 3) || '.ORG:80/">w</A></p>' AS x
        FROM documents),
      l AS (SELECT doc_id,
          unnest(regexp_extract_all(x,
            '(?i)<a\\b[^>]*?\\shref\\s*=\\s*["'']([^"'']*)["'']', 1)) AS href
        FROM h)
      SELECT doc_id, href, ${canonChainSql("href")} AS canonical,
             lower(regexp_extract(href, '^[^:/?#]+://([^/?#:]*)', 1)) AS host
      FROM l WHERE regexp_matches(href, '(?i)^https?://')""",

    // t56: wedges = sum C(deg,2) over the canonical edge list,
    // triangles as in t55, coefficient = 3T/W
    "t56_clustering" -> s"""
      WITH $hostEdgesSql,
      deg AS (
        SELECT v, count(*) AS d FROM
          (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
      wg AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS wedges FROM deg),
      $trianglesSql
      SELECT wg.wedges, tr.triangles,
             round((3.0 * CAST(tr.triangles AS DOUBLE))
                   / CAST(wg.wedges AS DOUBLE), 6) AS coefficient
      FROM wg CROSS JOIN tr""",

    // t55: same doc_id edge fixture; canonical (least, greatest)
    // orientation, DISTINCT simple edges, wedge join + closing join
    "t55_triangles" -> s"""
      WITH $hostEdgesSql,
      $trianglesSql,
      nn AS (SELECT count(*) AS n_nodes FROM
               (SELECT a AS v FROM und UNION SELECT b FROM und)),
      ne AS (SELECT count(*) AS n_edges FROM und)
      SELECT nn.n_nodes, ne.n_edges, tr.triangles
      FROM nn CROSS JOIN ne CROSS JOIN tr""",

    // integer-token PageRank, 3 iterations unrolled; '//' is DuckDB's
    // floor division == Spark's `div` on the all-positive token counts,
    // and integer sums are order-independent, so the replay is exact
    "t48_host_rank" -> """
      WITH e AS (
        SELECT 'h' || (doc_id % 17) AS src,
               'h' || ((doc_id % 17 + doc_id % 3) % 20) AS dst FROM documents
        UNION
        SELECT 'h' || (doc_id % 17), 'h' || ((doc_id % 17) * 7 % 20)
        FROM documents
        UNION
        SELECT 'h' || (doc_id % 17), 'h' || (doc_id % 2) FROM documents),
      nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
      r0 AS (SELECT host, CAST(1000000000 AS BIGINT) AS r FROM nodes),
      rc1 AS (SELECT e.dst AS host, SUM((r.r * 85 // 100) // deg.d) AS rc
              FROM e JOIN r0 r ON e.src = r.host JOIN deg ON deg.src = e.src
              GROUP BY e.dst),
      r1 AS (SELECT n.host, COALESCE(rc.rc, 0) +
               (((SELECT SUM(r) FROM r0)
                 - COALESCE((SELECT SUM(rc) FROM rc1), 0))
                // (SELECT count(*) FROM nodes)) AS r
             FROM nodes n LEFT JOIN rc1 rc ON n.host = rc.host),
      rc2 AS (SELECT e.dst AS host, SUM((r.r * 85 // 100) // deg.d) AS rc
              FROM e JOIN r1 r ON e.src = r.host JOIN deg ON deg.src = e.src
              GROUP BY e.dst),
      r2 AS (SELECT n.host, COALESCE(rc.rc, 0) +
               (((SELECT SUM(r) FROM r1)
                 - COALESCE((SELECT SUM(rc) FROM rc2), 0))
                // (SELECT count(*) FROM nodes)) AS r
             FROM nodes n LEFT JOIN rc2 rc ON n.host = rc.host),
      rc3 AS (SELECT e.dst AS host, SUM((r.r * 85 // 100) // deg.d) AS rc
              FROM e JOIN r2 r ON e.src = r.host JOIN deg ON deg.src = e.src
              GROUP BY e.dst),
      r3 AS (SELECT n.host, COALESCE(rc.rc, 0) +
               (((SELECT SUM(r) FROM r2)
                 - COALESCE((SELECT SUM(rc) FROM rc3), 0))
                // (SELECT count(*) FROM nodes)) AS r
             FROM nodes n LEFT JOIN rc3 rc ON n.host = rc.host)
      -- CAST: DuckDB's integer SUM widens to HUGEINT (int128), which the
      -- driver's hasher serializes differently from the engine's int64
      -- even when every value is equal — route through BIGINT
      SELECT host, CAST(r AS BIGINT) AS rank_tokens FROM r3""",

    // the t13 unigram-LM chain rolled up per SOURCE, then the DoReMi EG
    // update replayed with the engine's exact float trees: two-level
    // sums (per-domain partials then across domains), the same
    // `a0 * exp(e) * exp(e)` product, one final normalize + smooth
    "t49_doremi_weights" -> s"""
      WITH $unigramLmSql,
      dom AS (SELECT d.source, sum(dt.c) AS tokens,
                     sum(dt.c * ln(CAST(ct.ct AS DOUBLE)
                                   / (SELECT tot FROM tot))) AS lp
              FROM dt JOIN ct USING (term) JOIN documents d USING (doc_id)
              GROUP BY 1),
      $doremiStepSql
      -- CAST tokens: DuckDB HUGEINT SUM vs engine int64 (see t48)
      ${doremiWeightsSql("a", "n", "st")}""",

    // t49c: the adaptive loop unrolled — alpha_0 uniform, reference =
    // corpus unigram LM (fixed), per-step proxy = the mixture-trained
    // unigram LM p_w(t) = sum_d w_d c_dt/tok_d recomputed from the
    // CURRENT weights. Every float tree (coef, mixture log-prob, excess,
    // EG product) mirrors the engine's parenthesization exactly.
    "t49c_doremi_adaptive" -> s"""
      WITH tok AS (SELECT doc_id, unnest($lowToksSql) AS term FROM documents),
      dt AS (SELECT doc_id, term, count(*) AS c FROM tok WHERE term <> ''
             GROUP BY 1, 2),
      stc AS (SELECT d.source, t.term, sum(t.c) AS c
              FROM dt t JOIN documents d USING (doc_id) GROUP BY 1, 2),
      tokd AS (SELECT source, sum(c) AS tokens FROM stc GROUP BY 1),
      ct AS (SELECT term, sum(c) AS ct FROM stc GROUP BY 1),
      g AS (SELECT sum(tokens) AS gtok, count(*) AS nd FROM tokd),
      lref AS (SELECT s.source,
                      sum(s.c * ln(CAST(c2.ct AS DOUBLE)
                                   / (SELECT gtok FROM g))) AS lpref
               FROM stc s JOIN ct c2 USING (term) GROUP BY 1),
      ${doremiEgSql(identity, unigramProxySql)}""",

    // t60: the t49 term-count CTE + closed-form NB — per-term weights
    // and the prior mirror the engine's double trees; per-doc sums are
    // round-9 DECIMALs; pred compares the ROUNDED llr
    "t60_nb_quality" -> s"""
      WITH tok AS (SELECT doc_id, unnest($lowToksSql) AS term FROM documents),
      dt AS (SELECT doc_id, term, count(*) AS c FROM tok WHERE term <> ''
             GROUP BY 1, 2),
      lab AS (SELECT doc_id,
                     (CAST(substr(source, 4) AS INT) < 10) AS pos
              FROM documents),
      dtl AS (SELECT dt.doc_id, dt.term, dt.c, lab.pos
              FROM dt JOIN lab USING (doc_id)),
      tc AS (SELECT term,
                    sum(CASE WHEN pos THEN c ELSE 0 END) AS cp,
                    sum(CASE WHEN NOT pos THEN c ELSE 0 END) AS cn
             FROM dtl GROUP BY 1),
      tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS v FROM tc),
      nd AS (SELECT count(CASE WHEN pos THEN 1 END) AS np,
                    count(CASE WHEN NOT pos THEN 1 END) AS nn FROM lab),
      w AS (SELECT term,
              (ln((CAST(cp AS DOUBLE) + 1.0)
                  / (CAST(tp AS DOUBLE)
                     + (1.0 * CAST(v AS DOUBLE))))
               - ln((CAST(cn AS DOUBLE) + 1.0)
                  / (CAST(tn AS DOUBLE)
                     + (1.0 * CAST(v AS DOUBLE))))) AS w
            FROM tc CROSS JOIN tot),
      sc AS (SELECT dtl.doc_id, dtl.pos,
               sum(CAST(round(dtl.c * w.w, 9) AS DECIMAL(28,9))) AS s
             FROM dtl JOIN w USING (term) GROUP BY 1, 2)
      SELECT doc_id, pos AS label,
             round(CAST(s AS DOUBLE)
                   + ln(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
               AS nb_llr,
             (round(CAST(s AS DOUBLE)
                    + ln(CAST(np AS DOUBLE) / CAST(nn AS DOUBLE)), 6)
              >= 0.0) AS pred
      FROM sc CROSS JOIN nd""",

    // t49d: t49b's KN statistics + the t49c adaptive unroll — per step,
    // mixture pseudo-counts at corpus scale (coef = ((alpha/asum)/tokens)
    // * gtok, so token-share weights reproduce the corpus counts
    // exactly), the max(m - 0.75, 0) discount guard, and the
    // weight-invariant type statistics shared across steps; every float
    // tree mirrors the engine's parenthesization
    "t49d_doremi_kn_adaptive" -> s"""
      WITH $bigramsSql,
      sb AS (SELECT d.source, db.v, db.w, sum(db.c) AS c
             FROM db JOIN documents d USING (doc_id) GROUP BY 1, 2, 3),
      tokd AS (SELECT source, sum(c) AS tokens FROM sb GROUP BY 1),
      ${knTablesSql("sb")},
      g AS (SELECT sum(tokens) AS gtok, count(*) AS nd FROM tokd),
      lref AS (SELECT s.source,
          sum(s.c * ln(
            ((CAST(cb.cvw AS DOUBLE) - 0.75) / CAST(cv.cv AS DOUBLE))
            + ((0.75 * (CAST(cv.n1v AS DOUBLE) / CAST(cv.cv AS DOUBLE)))
               * (CAST(cont.ncw AS DOUBLE)
                  / CAST((SELECT types FROM ty) AS DOUBLE))))) AS lpref
        FROM sb s JOIN cb USING (v, w) JOIN cv USING (v)
             JOIN cont USING (w)
        GROUP BY 1),
      ${doremiEgSql(share => s"($share * (SELECT gtok FROM g))", knProxySql)}""",

    // t49b: the t26 Kneser-Ney statistics (integer aggregates over the
    // bigram-type table) rolled up per SOURCE, then the t49 EG trees
    "t49b_doremi_kn" -> s"""
      WITH $bigramsSql,
      ${knTablesSql("db")},
      dom AS (SELECT d.source, sum(db.c) AS tokens,
                     sum(db.c * ln($knProbSql)) AS lp
              FROM db JOIN cb USING (v, w) JOIN cv USING (v)
                   JOIN cont USING (w) CROSS JOIN ty
                   JOIN documents d USING (doc_id)
              GROUP BY 1),
      $doremiStepSql
      ${doremiWeightsSql("a", "n", "st")}""",

    // identical code-point ranges (shared \x{...} syntax — no \p{script}
    // classes, whose tables drift with Unicode versions); dominant =
    // first script in range order reaching the max, 'none' at zero
    "t51_script_mix" -> """
      WITH x AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 1 THEN ' Привет мир'
               WHEN doc_id % 4 = 2 THEN ' 你好世界'
               WHEN doc_id % 4 = 3 THEN ' مرحبا' ELSE '' END AS t
        FROM documents),
      c AS (SELECT doc_id,
          len(regexp_extract_all(t, '[A-Za-z\x{00C0}-\x{024F}]')) AS n_latin,
          len(regexp_extract_all(t, '[\x{0400}-\x{04FF}]')) AS n_cyrillic,
          len(regexp_extract_all(t, '[\x{0370}-\x{03FF}]')) AS n_greek,
          len(regexp_extract_all(t, '[\x{0600}-\x{06FF}]')) AS n_arabic,
          len(regexp_extract_all(t, '[\x{0900}-\x{097F}]')) AS n_devanagari,
          len(regexp_extract_all(t,
            '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]')) AS n_cjk
        FROM x),
      g AS (SELECT *, greatest(n_latin, n_cyrillic, n_greek, n_arabic,
                               n_devanagari, n_cjk) AS mx FROM c)
      SELECT doc_id, n_latin, n_cyrillic, n_greek, n_arabic, n_devanagari,
             n_cjk,
             CASE WHEN mx = 0 THEN 'none'
                  WHEN n_latin = mx THEN 'latin'
                  WHEN n_cyrillic = mx THEN 'cyrillic'
                  WHEN n_greek = mx THEN 'greek'
                  WHEN n_arabic = mx THEN 'arabic'
                  WHEN n_devanagari = mx THEN 'devanagari'
                  ELSE 'cjk' END AS script
      FROM g""",

    // same hash-uniform draw (md5-prefix + 0.5 over 2^60), same
    // u^(1/w) key, ranking on the 9-decimal-rounded key with doc_id
    // tie-break — the selected SET is engine-exact
    "t54_weighted_sample" -> s"""
      WITH w AS (SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS w
        FROM documents),
      p AS (SELECT doc_id, w,
          round(power(
            (CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                 || ':42'), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
              / power(2.0, 60),
            1.0 / w), 9) AS sample_key
        FROM w WHERE w > 0)
      SELECT doc_id, w, sample_key FROM p
      ORDER BY sample_key DESC, doc_id LIMIT 50""",

    // bottom-k sketches rebuilt as rank-<=k rows over distinct hashes;
    // union sketch from the full distinct union (the bottom-k of a
    // union equals the kth-smallest there); same (k-1)/theta trees
    "a18_kmv_overlap" -> s"""
      WITH tok AS (SELECT source, unnest($lowToksSql) AS term FROM documents
                   WHERE source IN ('src0', 'src1')),
      t AS (SELECT DISTINCT source, term FROM tok WHERE term <> ''),
      h AS (SELECT DISTINCT source,
              CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) AS hv
            FROM t),
      ra AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
             FROM h WHERE source = 'src0'),
      rb AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
             FROM h WHERE source = 'src1'),
      ru AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn
             FROM (SELECT DISTINCT hv FROM h)),
      ea AS (SELECT CASE WHEN (SELECT count(*) FROM ra) < 256
               THEN CAST((SELECT count(*) FROM ra) AS DOUBLE)
               ELSE 255.0 / ((SELECT hv FROM ra WHERE rn = 256)
                             / power(2.0, 60)) END AS v),
      eb AS (SELECT CASE WHEN (SELECT count(*) FROM rb) < 256
               THEN CAST((SELECT count(*) FROM rb) AS DOUBLE)
               ELSE 255.0 / ((SELECT hv FROM rb WHERE rn = 256)
                             / power(2.0, 60)) END AS v),
      eu AS (SELECT CASE WHEN (SELECT count(*) FROM ru) < 256
               THEN CAST((SELECT count(*) FROM ru) AS DOUBLE)
               ELSE 255.0 / ((SELECT hv FROM ru WHERE rn = 256)
                             / power(2.0, 60)) END AS v),
      xi AS (SELECT count(*) AS n FROM (SELECT term FROM t GROUP BY term
             HAVING count(DISTINCT source) = 2))
      SELECT
        (SELECT count(DISTINCT term) FROM t WHERE source = 'src0') AS exact_a,
        (SELECT count(DISTINCT term) FROM t WHERE source = 'src1') AS exact_b,
        (SELECT n FROM xi) AS exact_inter,
        round((SELECT v FROM ea), 6) AS est_a,
        round((SELECT v FROM eb), 6) AS est_b,
        round(((SELECT v FROM ea) + (SELECT v FROM eb))
              - (SELECT v FROM eu), 6) AS est_inter""",

    // the HLL registers rebuilt in SQL: same md5-prefix 60-bit hash,
    // bucket = top 9 bits, rho via a generated integer CASE chain,
    // max per bucket, then the standard estimator with linear counting;
    // the only float is the final 2^-M sum (6-decimal rounding absorbs
    // engine-vs-oracle summation order)
    "a17_hll_distinct" -> {
      val rhoCase = (0 until 51)
        .map(k => s"WHEN r >= ${1L << (50 - k)} THEN ${k + 1}")
        .mkString("CASE WHEN r = 0 THEN 52 ", " ", " END")
      s"""
      WITH tok AS (SELECT source, unnest($lowToksSql) AS term FROM documents),
      t AS (SELECT source, term FROM tok WHERE term <> ''),
      d AS (SELECT DISTINCT source, term FROM t),
      h AS (SELECT source,
              CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) AS hv
            FROM d),
      b AS (SELECT source, hv >> 51 AS bucket,
                   hv & ${(1L << 51) - 1} AS r FROM h),
      r AS (SELECT source, bucket, max($rhoCase) AS mx
            FROM b GROUP BY 1, 2),
      agg AS (SELECT source, sum(power(2.0, -mx)) AS s_used,
                     count(*) AS used FROM r GROUP BY 1),
      e AS (SELECT source,
              (512 - used) + s_used AS s, 512 - used AS zeros FROM agg),
      est AS (SELECT source,
               CASE WHEN (0.7213/(1.0 + 1.079/512))*512*512/s <= 2.5*512
                         AND zeros > 0
                    THEN 512 * ln(512.0/zeros)
                    ELSE (0.7213/(1.0 + 1.079/512))*512*512/s END AS v
             FROM e),
      x AS (SELECT source, count(DISTINCT term) AS exact_distinct
            FROM t GROUP BY 1)
      SELECT x.source, x.exact_distinct, round(est.v, 6) AS hll_estimate
      FROM x JOIN est USING (source)"""
    },

    // three Newton steps unrolled with the engine's exact float trees:
    // per-iteration p CTE, five sufficient-statistic sums, 2x2 solve;
    // labels = the t34 gopher panel, scores = the exact-dyadic quality
    "t53_platt_calibration" -> (s"""
      WITH gp AS (""" + gopherRowsSql + s"""),
      base AS (SELECT d.doc_id, $qualitySql AS q,
                      CASE WHEN gp.passes THEN 1.0 ELSE 0.0 END AS y
               FROM documents d JOIN gp ON d.doc_id = gp.doc_id),
      p1 AS (SELECT q, y, 1/(1+exp(-(0.0*q + 0.0))) AS p FROM base),
      it1 AS (SELECT sum(p*(1-p)*q*q) AS h11, sum(p*(1-p)*q) AS h12,
                     sum(p*(1-p)) AS h22, sum((p-y)*q) AS g1,
                     sum(p-y) AS g2 FROM p1),
      ab1 AS (SELECT 0.0 - (h22*g1 - h12*g2)/(h11*h22 - h12*h12) AS a,
                     0.0 - (h11*g2 - h12*g1)/(h11*h22 - h12*h12) AS b
              FROM it1),
      p2 AS (SELECT q, y, 1/(1+exp(-((SELECT a FROM ab1)*q
                                     + (SELECT b FROM ab1)))) AS p
             FROM base),
      it2 AS (SELECT sum(p*(1-p)*q*q) AS h11, sum(p*(1-p)*q) AS h12,
                     sum(p*(1-p)) AS h22, sum((p-y)*q) AS g1,
                     sum(p-y) AS g2 FROM p2),
      ab2 AS (SELECT (SELECT a FROM ab1)
                       - (h22*g1 - h12*g2)/(h11*h22 - h12*h12) AS a,
                     (SELECT b FROM ab1)
                       - (h11*g2 - h12*g1)/(h11*h22 - h12*h12) AS b
              FROM it2),
      p3 AS (SELECT q, y, 1/(1+exp(-((SELECT a FROM ab2)*q
                                     + (SELECT b FROM ab2)))) AS p
             FROM base),
      it3 AS (SELECT sum(p*(1-p)*q*q) AS h11, sum(p*(1-p)*q) AS h12,
                     sum(p*(1-p)) AS h22, sum((p-y)*q) AS g1,
                     sum(p-y) AS g2 FROM p3),
      ab3 AS (SELECT (SELECT a FROM ab2)
                       - (h22*g1 - h12*g2)/(h11*h22 - h12*h12) AS a,
                     (SELECT b FROM ab2)
                       - (h11*g2 - h12*g1)/(h11*h22 - h12*h12) AS b
              FROM it3)
      SELECT (SELECT count(*) FROM base) AS n_docs,
             round((SELECT a FROM ab3), 6) AS platt_a,
             round((SELECT b FROM ab3), 6) AS platt_b,
             round(1/(1+exp(-((SELECT a FROM ab3) + (SELECT b FROM ab3)))), 6)
               AS p_at_1"""),

    // the whole crawl cascade replayed: canonical chain -> min-id URL
    // winners -> literal robots rule table + generic decision -> html
    // chain -> quality gate -> md5 exact dedup -> token counts
    "t52_web_pipeline" -> (s"""
      WITH crawl AS (SELECT doc_id,
          'HTTPS://WWW.Site' || (doc_id % 5) || '.Example.COM:443/Path/' ||
          (doc_id % 50) || '?utm_source=feed&id=' || (doc_id % 10) ||
          '#s' AS url,
          """ + htmlWrapSql("doc_id") + s""" AS html
        FROM documents),
      canon AS (SELECT doc_id, html, ${canonChainSql("url")} AS curl
                FROM crawl),
      w AS (SELECT curl, min(doc_id) AS doc_id FROM canon GROUP BY curl),
      u AS (SELECT c.doc_id, c.curl, c.html
            FROM canon c JOIN w ON c.curl = w.curl AND c.doc_id = w.doc_id),
      p AS (SELECT doc_id, curl, html,
              lower(regexp_extract(curl, '^[^:/?#]+://([^/?#:]*)', 1)) AS host,
              CASE WHEN regexp_extract(curl,
                     '^[a-z]+://[^/?#]+(/[^?#]*)', 1) = '' THEN '/'
                   ELSE regexp_extract(curl, '^[a-z]+://[^/?#]+(/[^?#]*)', 1)
              END AS path
            FROM u),
      rules AS (SELECT 'www.site' || k || '.example.com' AS host, 0 AS allow,
                       CASE WHEN k <= 1 THEN '/Path' ELSE '/private' END
                         AS prefix
                FROM (SELECT DISTINCT doc_id % 5 AS k FROM documents)),
      m AS (SELECT p.doc_id, r.allow,
                   row_number() OVER (PARTITION BY p.doc_id
                     ORDER BY length(r.prefix) DESC, r.allow DESC) AS rn
            FROM p JOIN rules r
              ON p.host = r.host AND starts_with(p.path, r.prefix)),
      g AS (SELECT p.doc_id, p.host, p.html
            FROM p LEFT JOIN (SELECT doc_id, allow FROM m WHERE rn = 1) m
              USING (doc_id)
            WHERE COALESCE(m.allow = 1, TRUE)),
      t AS (SELECT doc_id, host,
              """ + htmlChainSql("html") + s""" AS text
            FROM g),
      q AS (SELECT * FROM t WHERE $qualitySql >= 0.75),
      dd AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM q GROUP BY 1)
      SELECT q.doc_id, q.host,
             CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len($toksSql) END AS n_tokens
      FROM q JOIN dd ON q.doc_id = dd.doc_id"""),

    // the fixture's wildcard-group rule table stated directly (parse
    // group semantics are RobotsSpec-pinned; the decoy bot group and the
    // empty Disallow contribute NO rows here — an engine parser that
    // disagrees flips decisions); decision logic replayed generically:
    // longest prefix wins, allow beats disallow on ties, no match passes
    "t50_robots" -> """
      WITH k AS (SELECT DISTINCT doc_id % 5 AS k FROM documents),
      rules AS (
        SELECT 'h' || k || '.example.com' AS host, 0 AS allow,
               '/p' || k AS prefix FROM k
        UNION ALL
        SELECT 'h' || k || '.example.com', 1, '/p' || k || '/ok' FROM k),
      u AS (SELECT doc_id,
          'https://h' || (doc_id % 5) || '.example.com' ||
          CASE WHEN doc_id % 4 = 0 THEN '/p' || (doc_id % 5) || '/x'
               WHEN doc_id % 4 = 1 THEN '/p' || (doc_id % 5) || '/ok/y'
               WHEN doc_id % 4 = 2 THEN '/q/z' ELSE '' END AS url
        FROM documents),
      p AS (SELECT doc_id, url,
          lower(regexp_extract(url, '^[^:/?#]+://([^/?#:]*)', 1)) AS host,
          CASE WHEN regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) = ''
               THEN '/'
               ELSE regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1)
          END AS path
        FROM u),
      m AS (SELECT p.doc_id, r.allow,
                   row_number() OVER (PARTITION BY p.doc_id
                     ORDER BY length(r.prefix) DESC, r.allow DESC) AS rn
            FROM p JOIN rules r
              ON p.host = r.host AND starts_with(p.path, r.prefix))
      SELECT p.doc_id, p.url, p.host, p.path,
             COALESCE(m.allow = 1, TRUE) AS allowed
      FROM p LEFT JOIN (SELECT doc_id, allow FROM m WHERE rn = 1) m
        USING (doc_id)""",

    // 'g' flag: DuckDB replaces only the first match by default, Spark
    // replaces all; patterns stay inside the Java-regex/RE2 shared syntax
    "t6_redact_pii" -> """
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text || ' contact user' || doc_id || '@example.com or 10.0.0.'
                        || (doc_id % 250) || ' tel 555-123-4567',
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
               '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
      FROM documents""",

    // same two rules as the clean_lines kernel: word count on the
    // trimmed line (empty -> 0) and terminal punctuation
    "t20_clean_lines" -> """
      WITH t AS (SELECT doc_id,
                   text || '.' || chr(10) || 'tiny li' || chr(10)
                        || 'A proper sentence with enough words.' || chr(10)
                        || 'no terminal punctuation on this line' AS x
                 FROM documents)
      SELECT doc_id,
             array_to_string(list_filter(string_split(x, chr(10)), l ->
               (CASE WHEN trim(l) = '' THEN 0
                     ELSE len(string_split_regex(trim(l), '\s+')) END) >= 3
               AND regexp_matches(trim(l), '[.!?"]$')), chr(10)) AS cleaned
      FROM t""",

    // same md5 arithmetic as Hashing.md5Int; rank ties broken by id
    // words = [a-z0-9]+ runs, sentences = [.!?]\s runs + 1, syllables =
    // vowel-group runs; identical run-counting and arithmetic order.
    // NULLIF on the word count mirrors the engine's words == 0 guard:
    // a doc with no [a-z0-9]+ run scores NULL on both sides, not a
    // DuckDB double-division inf/nan
    "t44_readability" -> """
      WITH px AS (SELECT doc_id,
             regexp_replace(text, '((?:\S+\s+){7})', '\1. ', 'g') AS x
           FROM documents)
      SELECT doc_id,
             round(206.835
               - 1.015 * (NULLIF(len(regexp_extract_all(lower(x), '[a-z0-9]+')), 0)
                          / CAST(len(regexp_extract_all(x, '[.!?]\s')) + 1 AS DOUBLE))
               - 84.6 * (len(regexp_extract_all(lower(x), '[aeiouy]+'))
                         / CAST(NULLIF(len(regexp_extract_all(lower(x), '[a-z0-9]+')), 0) AS DOUBLE)),
               4) AS flesch
      FROM px""",

    // per-doc code-point histogram -> -sum(p log2 p); every doc here is
    // multi-symbol so the zero/-0.0 boundary never arises
    "t42_char_entropy" -> """
      WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c
                  FROM documents),
      cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2),
      tot AS (SELECT doc_id, sum(k) AS n FROM cnt GROUP BY 1)
      SELECT doc_id, round(-sum((k / n) * log2(k / n)), 6) AS entropy
      FROM cnt JOIN tot USING (doc_id) GROUP BY doc_id""",

    // sentence extraction without lookbehind (RE2): runs ending in
    // punctuation, trimmed — elementwise equal to the engine's
    // (?<=[.!?])\s+ split on this fixture; chunk = floor(start/budget)
    "t41_sentence_chunks" -> """
      WITH px AS (SELECT doc_id,
             regexp_replace(text, '((?:\S+\s+){7})', '\1. ', 'g') AS x
           FROM documents),
      sent AS (SELECT doc_id, u.sid AS sent_id, trim(u.s) AS sent FROM (
          SELECT doc_id, unnest(list_transform(range(len(ss)),
            i -> {'sid': i, 's': ss[i+1]})) AS u
          FROM (SELECT doc_id,
                  regexp_extract_all(x, '[^.!?]*[.!?]+\s*|[^.!?]+$') AS ss
                FROM px)) t
        WHERE trim(u.s) <> ''),
      tok AS (SELECT doc_id, sent_id, sent,
                len(string_split_regex(sent, '\s+')) AS tk FROM sent),
      st AS (SELECT *, coalesce(sum(tk) OVER (PARTITION BY doc_id
               ORDER BY sent_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
             FROM tok)
      SELECT doc_id, CAST(floor(strt / 30.0) AS BIGINT) AS chunk_id,
             string_agg(sent, ' ' ORDER BY sent_id) AS chunk,
             CAST(sum(tk) AS BIGINT) AS n_tokens,
             count(*) AS n_sentences
      FROM st GROUP BY 1, 2""",

    // nearest-rank (type-1) quartiles: value at per-source rank
    // ceil(p*n) under (token_count, doc_id) order
    "t40_length_percentiles" -> """
      WITH t AS (SELECT source, doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents),
      r AS (SELECT source, tok,
                   row_number() OVER (PARTITION BY source
                     ORDER BY tok, doc_id) AS rk,
                   count(*) OVER (PARTITION BY source) AS n
            FROM t)
      SELECT source,
             CAST(max(CASE WHEN rk = ceil(0.25 * n) THEN tok END) AS BIGINT) AS p25,
             CAST(max(CASE WHEN rk = ceil(0.5 * n) THEN tok END) AS BIGINT) AS p50,
             CAST(max(CASE WHEN rk = ceil(0.75 * n) THEN tok END) AS BIGINT) AS p75,
             max(n) AS n_docs
      FROM r GROUP BY source""",

    // distinct 3-gram shingles per doc (short-doc branch: whole text is
    // the single shingle), df=1 share rounded to 6
    "t39_novelty" -> s"""
      WITH sh AS (${Q.shingleSetSql("doc_id", "documents", 3)}),
      df AS (SELECT sh, count(*) AS d FROM sh GROUP BY 1)
      SELECT doc_id, count(*) AS n_shingles,
             round(avg(CASE WHEN d = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty
      FROM sh JOIN df USING (sh)
      GROUP BY doc_id""",

    // exclusive per-source running token total under the seeded-hash
    // order must stay below the source's budget
    // t57: the waterfilling replayed on the per-source frame — integer
    // prefix sums and saturation condition, λ/alloc/epochs trees
    // token-identical to the engine
    "t57_unimax" -> """
      WITH d AS (
        SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS size_n
        FROM documents GROUP BY 1),
      c AS (
        SELECT domain, size_n,
               CAST(floor(CAST(size_n AS DOUBLE) * 2.0) AS BIGINT) AS cap
        FROM d),
      t AS (SELECT CAST(sum(size_n) AS BIGINT) AS ts, count(*) AS m FROM c),
      r AS (
        SELECT c.*, row_number() OVER (ORDER BY cap, domain) AS j,
               CAST(sum(cap) OVER (ORDER BY cap, domain
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS pc
        FROM c),
      g AS (
        SELECT r.*, t.m,
               CAST(floor(CAST(t.ts AS DOUBLE) * 1.8) AS BIGINT) AS bud
        FROM r CROSS JOIN t),
      s AS (
        SELECT coalesce(max(CASE WHEN ((pc - cap) + (cap * ((m - j) + 1)))
                                      <= bud THEN j END), 0) AS jstar,
               coalesce(max(CASE WHEN ((pc - cap) + (cap * ((m - j) + 1)))
                                      <= bud THEN pc END), 0) AS pstar
        FROM g)
      SELECT g.domain, g.size_n, g.cap,
             round(CASE WHEN g.j <= s.jstar THEN CAST(g.cap AS DOUBLE)
                   ELSE least(CAST(g.cap AS DOUBLE),
                     (CAST(g.bud AS DOUBLE) - CAST(s.pstar AS DOUBLE))
                     / (CAST(g.m AS DOUBLE) - CAST(s.jstar AS DOUBLE))) END,
               4) AS alloc,
             round((CASE WHEN g.j <= s.jstar THEN CAST(g.cap AS DOUBLE)
                    ELSE least(CAST(g.cap AS DOUBLE),
                      (CAST(g.bud AS DOUBLE) - CAST(s.pstar AS DOUBLE))
                      / (CAST(g.m AS DOUBLE) - CAST(s.jstar AS DOUBLE))) END)
                   / CAST(g.size_n AS DOUBLE), 6) AS epochs
      FROM g CROSS JOIN s""",

    "t38_token_budget_mix" -> """
      WITH t AS (SELECT doc_id, source,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 15)) AS BIGINT) AS h
                 FROM documents
                 WHERE source IN ('src1', 'src2', 'src3')),
      r AS (SELECT *, coalesce(sum(n_tok) OVER (PARTITION BY source
              ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
            FROM t)
      SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tokens
      FROM r
      WHERE prev < CASE source WHEN 'src1' THEN 700
                               WHEN 'src2' THEN 400 ELSE 10 END""",

    "t19_shuffle" -> """
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15)) AS BIGINT),
               doc_id) - 1 AS BIGINT) AS shuffle_rank
      FROM documents""",

    // identical patterns to the redactor, counted on the raw fixture
    "t18_pii_stats" -> """
      WITH t AS (SELECT doc_id,
                   text || ' contact user' || doc_id || '@example.com or 10.0.0.'
                        || (doc_id % 250) || ' tel 555-123-4567' AS x
                 FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(x, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(x, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
             CAST(len(regexp_extract_all(x, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phone
      FROM t""",

    // word 2-grams with the same short-doc branch as the dedup shingles:
    // docs with < 2 tokens carry their whole normalized text as one gram
    "t7_repetition" -> s"""
      WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
      g AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
                     i -> t[i + 1] || ' ' || t[i + 2])) AS g
            FROM toks WHERE len(t) >= 2
            UNION ALL
            SELECT doc_id, regexp_replace(trim(text), '\\s+', ' ', 'g') AS g
            FROM documents WHERE len($toksSql) < 2),
      c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
      SELECT doc_id,
             round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_ngram_frac,
             round(1 - CAST(count(*) AS DOUBLE) / sum(c), 6) AS dup_ngram_frac
      FROM c GROUP BY 1""",

    "t8_pack_sequences" -> s"""
      WITH t AS (SELECT doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len($toksSql) END AS n_tokens
                 FROM documents)
      SELECT doc_id, n_tokens,
             CAST(floor(coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE), 0)
               / 512.0) AS BIGINT) AS seq_id
      FROM t""",

    // same chain as Text.normalizeText: nfc_normalize + translate +
    // RE2 \p{Cc}\p{Cf} + whitespace collapse; the 'to' literal is
    // ' ' " " - - space with SQL quote doubling
    "t17_normalize" -> s"""
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(
               translate(nfc_normalize(text || '$MessySuffix'),
                 '$NormFrom', '''''""-- '),
               '[\\p{Cc}\\p{Cf}]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm
      FROM documents""",

    // chunk k covers tokens [k*32, k*32+40); 1-based inclusive DuckDB
    // slice == Spark slice(toks, k*32+1, 40); last chunk truncates
    "t16_chunk_docs" -> """
      WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      par AS (SELECT doc_id, t,
                1 + CAST(ceil(greatest(len(t) - 40, 0) / 32.0) AS INT) AS nc
              FROM tok),
      ch AS (SELECT doc_id, unnest(range(nc)) AS chunk_id, t FROM par)
      SELECT doc_id, chunk_id,
             array_to_string(t[chunk_id*32 + 1 : chunk_id*32 + 40], ' ') AS chunk,
             least(len(t) - chunk_id*32, 40) AS n_tokens
      FROM ch""",

    "t9_source_mix" -> """
      SELECT doc_id, source FROM documents
      WHERE source IN ('src0', 'src1', 'src2')
      QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <=
        CASE source WHEN 'src0' THEN 20 WHEN 'src1' THEN 12 ELSE 8 END""",

    // quantile_cont(0.5) interpolates midway between the two middle order
    // statistics for even group sizes — exactly the rank-selection mean
    // the Spark side computes (quality values are dyadic rationals, so
    // the comparison against the median is bit-exact in both engines)
    "t10_quality_gate" -> s"""
      WITH q AS (SELECT doc_id, source, $qualitySql AS q FROM documents),
      m AS (SELECT source, quantile_cont(q, 0.5) AS med FROM q GROUP BY source)
      SELECT q.doc_id, q.source, round(q.q, 6) AS quality
      FROM q JOIN m USING (source) WHERE q.q >= m.med""",

    // t58: the sketch is only a pruner — the report set and counts are
    // exact, so the oracle is the plain HAVING over the same fixture
    "t58_heavy_hitters" -> """
      WITH d AS (
        SELECT text || ' zz' || CAST(doc_id % 1000 AS VARCHAR) AS text
        FROM documents),
      tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
                AS term FROM d),
      t AS (SELECT term FROM tok WHERE term <> ''),
      n AS (SELECT count(*) AS n FROM t)
      SELECT t.term, count(*) AS cnt
      FROM t CROSS JOIN n
      GROUP BY t.term, n.n
      HAVING (count(*) * 32) > n.n""",

    "t11_vocab" -> s"""
      WITH tok AS (SELECT unnest($lowToksSql) AS term FROM documents),
      c AS (SELECT term, count(*) AS n FROM tok WHERE term <> '' GROUP BY term)
      SELECT term, n FROM c WHERE n >= 2
      QUALIFY row_number() OVER (ORDER BY n DESC, term) <= 50""",

    // t59: same tokenization, ranks under the same (n DESC, term) total
    // order, each point's ln trees rounded to 9 and DECIMAL-summed, the
    // m29 OLS trees over those sums
    "t59_zipf" -> s"""
      WITH tok AS (SELECT unnest($lowToksSql) AS term FROM documents),
      c AS (SELECT term, count(*) AS n FROM tok WHERE term <> ''
            GROUP BY term),
      r AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rn
        FROM c QUALIFY rn <= 300),
      s AS (
        SELECT CAST(count(*) AS DOUBLE) AS v,
               CAST(sum(CAST(round(ln(CAST(rn AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS sx,
               CAST(sum(CAST(round(ln(CAST(n AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(ln(CAST(rn AS DOUBLE))
                                   * ln(CAST(n AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(round(ln(CAST(rn AS DOUBLE))
                                   * ln(CAST(rn AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(round(ln(CAST(n AS DOUBLE))
                                   * ln(CAST(n AS DOUBLE)), 9)
                             AS DECIMAL(28,9))) AS DOUBLE) AS syy
        FROM r),
      f AS (
        SELECT v,
               (sx / v) AS mx, (sy / v) AS my,
               (sxx - (v * ((sx / v) * (sx / v)))) AS cxx,
               (sxy - (v * ((sx / v) * (sy / v)))) AS cxy,
               (syy - (v * ((sy / v) * (sy / v)))) AS cyy
        FROM s),
      g AS (SELECT v, mx, my, cxx, cxy, cyy, (cxy / cxx) AS slope FROM f)
      SELECT CAST(v AS BIGINT) AS v,
             round(0.0 - slope, 6) AS zipf_exponent,
             round(my - (slope * mx), 6) AS intercept,
             round(1.0 - ((cyy - (slope * cxy)) / cyy), 6) AS r2
      FROM g""",

    // tfidf is rounded to 6 digits BEFORE the per-doc rank on both sides,
    // so a last-ulp ln() difference cannot flip near-ties
    "t12_tfidf" -> s"""
      WITH tok AS (SELECT doc_id, unnest($lowToksSql) AS term FROM documents),
      dt AS (SELECT doc_id, term, count(*) AS c FROM tok WHERE term <> '' GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(c) AS len FROM dt GROUP BY 1),
      dfreq AS (SELECT term, count(*) AS dfc FROM dt GROUP BY 1),
      nd AS (SELECT count(*) AS nd FROM dl)
      SELECT doc_id, term, tfidf FROM (
        SELECT dt.doc_id, dt.term,
               round((CAST(c AS DOUBLE) / len) * ln(CAST(nd AS DOUBLE) / dfc), 6) AS tfidf
        FROM dt JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN nd)
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3""",

    // t31: same shape as t12 — the scalar bm25 is one identical double
    // expression tree on both sides, rounded to 6 BEFORE the rank
    "t31_bm25" -> s"""
      WITH tok AS (SELECT doc_id, unnest($lowToksSql) AS term FROM documents),
      dt AS (SELECT doc_id, term, count(*) AS c FROM tok WHERE term <> '' GROUP BY 1, 2),
      dl AS (SELECT doc_id, sum(c) AS len FROM dt GROUP BY 1),
      dfreq AS (SELECT term, count(*) AS dfc FROM dt GROUP BY 1),
      g AS (SELECT count(DISTINCT doc_id) AS nd, sum(c) AS tot FROM dt)
      SELECT doc_id, term, bm25 FROM (
        SELECT dt.doc_id, dt.term,
               round(ln((CAST(nd - dfc AS DOUBLE) + 0.5) /
                        (CAST(dfc AS DOUBLE) + 0.5) + 1) *
                     ((CAST(c AS DOUBLE) * (1.2 + 1)) /
                      (CAST(c AS DOUBLE) + 1.2 * (0.25 + 0.75 *
                        (CAST(len AS DOUBLE) /
                         (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE)))))), 6) AS bm25
        FROM dt JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN g)
      QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY bm25 DESC, term) <= 3""",

    "t13_lm_score" -> s"""
      WITH $unigramLmSql
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             $meanLogProbSql AS mean_logprob
      FROM dt JOIN ct USING (term) CROSS JOIN tot
      GROUP BY doc_id""",

    "t25_bpe_encode" -> """
      SELECT count(*) AS n_docs, true AS lengths_match,
             true AS ids_in_vocab, true AS mass_match
      FROM documents""",

    "t32_bpe_roundtrip" -> """
      SELECT count(*) AS n_docs, true AS roundtrip_exact
      FROM documents""",

    "t33_dsir_score_maponly" -> """
      SELECT count(*) AS n_docs, true AS paths_agree
      FROM documents WHERE source <> 'src0' AND len(trim(text)) > 0""",

    // t34: every statistic is the same builtin arithmetic (length
    // deltas, multiline regex counts, in-order double division)
    "t34_gopher_rules" -> gopherRowsSql,

    // t37: one aggregate over the t34 per-doc panel + the t2/t10
    // quality arithmetic; all sums integer-exact, means rounded
    "t37_report_card" -> s"""
      WITH p AS ($gopherRowsSql)
      SELECT count(*) AS n_docs,
             CAST(sum(p.word_count) AS BIGINT) AS total_tokens,
             CAST(sum(len(text)) AS BIGINT) AS total_chars,
             count(DISTINCT lang) AS n_langs,
             round(avg($qualitySql), 6) AS mean_quality,
             CAST(sum(CASE WHEN p.passes THEN 1 ELSE 0 END) AS BIGINT)
               AS gopher_pass,
             round(avg(p.mean_word_len), 6) AS mean_word_len,
             CAST(min(len(text)) AS BIGINT) AS min_chars,
             CAST(max(len(text)) AS BIGINT) AS max_chars
      FROM documents JOIN p USING (doc_id)""",

    // t28: rank on the ROUNDED score (t12 rule) + integer third
    // boundaries (3*rk <= n) — no ntile() ambiguity across engines
    "t28_perplexity_buckets" -> s"""
      WITH $unigramLmSql,
      lm AS (SELECT doc_id, $meanLogProbSql AS mean_logprob
             FROM dt JOIN ct USING (term) CROSS JOIN tot GROUP BY doc_id),
      r AS (SELECT d.doc_id, d.source, lm.mean_logprob,
              row_number() OVER (PARTITION BY d.source
                ORDER BY lm.mean_logprob DESC, d.doc_id) AS rk,
              count(*) OVER (PARTITION BY d.source) AS n
            FROM documents d JOIN lm USING (doc_id))
      SELECT doc_id, source, mean_logprob,
             CASE WHEN 3 * rk <= n THEN 'head'
                  WHEN 3 * rk <= 2 * n THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM r""",

    // t29: the cell log-ratio is the same IEEE expression tree on both
    // sides (int adds -> cast -> divide -> ln -> subtract); per-doc sums
    // round to 6 before the rank (t12/t13 rule), ties on doc_id
    "t29_dsir_select" -> s"""
      WITH tokt AS (SELECT doc_id, $lowToksSql AS t FROM documents),
      uni AS (SELECT doc_id, unnest(t) AS f FROM tokt),
      bi AS (SELECT doc_id, unnest(list_transform(range(len(t) - 1),
               i -> t[i + 1] || ' ' || t[i + 2])) AS f
             FROM tokt WHERE len(t) >= 2),
      feats AS (SELECT doc_id, f FROM uni WHERE f <> ''
                UNION ALL SELECT doc_id, f FROM bi),
      fb AS (SELECT fe.doc_id, d.source,
               CAST(('0x' || substring(md5(f), 1, 15)) AS BIGINT) % 512 AS bucket
             FROM feats fe JOIN documents d USING (doc_id)),
      rc AS (SELECT bucket, count(*) AS rc FROM fb WHERE source <> 'src0' GROUP BY 1),
      tc AS (SELECT bucket, count(*) AS tc FROM fb WHERE source = 'src0' GROUP BY 1),
      cells AS (SELECT bucket, coalesce(rc, 0) AS rc, coalesce(tc, 0) AS tc
                FROM rc FULL OUTER JOIN tc USING (bucket)),
      tot AS (SELECT sum(rc) AS r, sum(tc) AS t FROM cells),
      lr AS (SELECT bucket,
               ln(CAST(tc + 1 AS DOUBLE) / CAST(t + 512 AS DOUBLE)) -
               ln(CAST(rc + 1 AS DOUBLE) / CAST(r + 512 AS DOUBLE)) AS lr
             FROM cells CROSS JOIN tot),
      dc AS (SELECT doc_id, bucket, count(*) AS c
             FROM fb WHERE source <> 'src0' GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
             round(sum(CAST(c AS DOUBLE) * lr), 6) AS logw
      FROM dc JOIN lr USING (bucket) GROUP BY doc_id
      QUALIFY row_number() OVER (ORDER BY logw DESC, doc_id) <= 50""",

    // t36: t28's buckets + the t19 seeded-md5 order within each stage
    "t36_curriculum" -> s"""
      WITH $unigramLmSql,
      lm AS (SELECT doc_id, $meanLogProbSql AS mean_logprob
             FROM dt JOIN ct USING (term) CROSS JOIN tot GROUP BY doc_id),
      r AS (SELECT d.doc_id, d.source,
              row_number() OVER (PARTITION BY d.source
                ORDER BY lm.mean_logprob DESC, d.doc_id) AS rk,
              count(*) OVER (PARTITION BY d.source) AS n
            FROM documents d JOIN lm USING (doc_id)),
      bk AS (SELECT doc_id,
               CASE WHEN 3 * rk <= n THEN 'head'
                    WHEN 3 * rk <= 2 * n THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CASE WHEN 3 * rk <= n THEN 0
                    WHEN 3 * rk <= 2 * n THEN 1
                    ELSE 2 END AS stage
             FROM r)
      SELECT doc_id, bucket,
             row_number() OVER (ORDER BY stage,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 15)) AS BIGINT),
               doc_id) - 1 AS curriculum_rank
      FROM bk""",

    // t27: sqrt is IEEE-correctly-rounded and the normalizer folds in
    // source order on BOTH sides -> bit-identical weights and quotas
    "t27_temperature_mix" -> """
      WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      norm AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)),
                  (a, b) -> a + b) AS z
               FROM c),
      q AS (SELECT source,
              CAST(floor(sqrt(CAST(n AS DOUBLE)) / z * 40) AS BIGINT) AS q
            FROM c CROSS JOIN norm),
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
            FROM documents)
      SELECT doc_id, source FROM r JOIN q USING (source) WHERE rk <= q""",

    "t26_bigram_kn" -> s"""
      WITH $bigramsSql,
      ${knTablesSql("db")}
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             round(sum(c * ln($knProbSql)) / sum(c), 6) AS mean_logprob
      FROM db JOIN cb USING (v, w) JOIN cv USING (v) JOIN cont USING (w)
           CROSS JOIN ty
      GROUP BY doc_id""",

    "t24_bigram_lm" -> s"""
      WITH $bigramsSql,
      cb AS (SELECT v, w, sum(c) AS cvw FROM db GROUP BY 1, 2),
      cv AS (SELECT v, sum(cvw) AS cv FROM cb GROUP BY 1),
      un AS (SELECT doc_id, unnest(t) AS w FROM tok),
      unf AS (SELECT w FROM un WHERE w <> ''),
      cw AS (SELECT w, count(*) AS cw FROM unf GROUP BY 1),
      tot AS (SELECT count(*) AS tot FROM unf)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             round(sum(c * ln(0.75 * (CAST(cvw AS DOUBLE) / CAST(cv AS DOUBLE)) +
                              0.25 * (CAST(cw AS DOUBLE) / CAST(tot AS DOUBLE)))) /
                   sum(c), 6) AS mean_logprob
      FROM db JOIN cb USING (v, w) JOIN cv USING (v) JOIN cw USING (w)
           CROSS JOIN tot
      GROUP BY doc_id""",

    "t14_trigram_langid" -> """
      WITH norm AS (SELECT doc_id, lang,
                      regexp_replace(lower(text), '\s+', ' ', 'g') AS s
                    FROM documents),
      tri AS (SELECT doc_id, lang,
                unnest(list_transform(range(len(s) - 2), i -> s[i + 1 : i + 3])) AS tri
              FROM norm WHERE len(s) >= 3),
      lp AS (SELECT lang, tri, count(*) AS n FROM tri GROUP BY 1, 2),
      prof AS (SELECT lang AS plang, tri FROM lp
               QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n DESC, tri) <= 100),
      dc AS (SELECT doc_id, tri, count(*) AS c FROM tri GROUP BY 1, 2),
      sc AS (SELECT doc_id, plang, sum(c) AS score FROM dc JOIN prof USING (tri) GROUP BY 1, 2),
      best AS (SELECT doc_id, plang AS lang_pred FROM sc
               QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) = 1)
      SELECT d.doc_id, coalesce(b.lang_pred, 'und') AS lang_pred
      FROM documents d LEFT JOIN best b USING (doc_id)""",

    "t15_corpus_pipeline" -> s"""
      WITH clean AS (SELECT * FROM documents WHERE $qualitySql >= 0.8),
      ded AS (SELECT * FROM clean
              QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
      t AS (SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len($toksSql) END AS n_tokens
            FROM ded)
      SELECT doc_id, n_tokens,
             CAST(floor(coalesce(CAST(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE), 0)
               / 512.0) AS BIGINT) AS seq_id
      FROM t""")
}
