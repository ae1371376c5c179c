package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CorpusSpec extends SparkSpec {

  test("repetitionStats: spam scores high, prose low, short docs are whole-text grams") {
    import spark.implicits._
    val df = Seq(
      // "buy now" 3x -> 2-grams: (buy now)x3, (now buy)x2 -> top 3/5, dup 1 - 2/5
      (1L, "buy now buy now buy now"),
      // all distinct 2-grams
      (2L, "the quick brown fox jumps"),
      // single token -> one whole-text gram
      (3L, "hello"))
      .toDF("doc_id", "text")
    val out = Corpus.repetitionStats(df, "text", "doc_id", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == (0.6, 0.6))   // top 3/5; dup 1 - 2/5
    assert(out(2L) == (0.25, 0.0))  // 4 distinct grams
    assert(out(3L) == (1.0, 0.0))
  }

  test("diffSnapshots: added/removed/changed, null-text handled, unchanged omitted") {
    import spark.implicits._
    val oldV = Seq((1L, "same"), (2L, "before"), (3L, "gone"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val newV = Seq((1L, "same"), (2L, "after"), (5L, "fresh"),
      (4L, "now has text")).toDF("doc_id", "text")
    val diff = Corpus.diffSnapshots(oldV, newV, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff == Map(2L -> "changed", 3L -> "removed", 5L -> "added",
      4L -> "changed"), s"got $diff")
  }

  test("chunkDocs: budget chunks with overlap, full coverage, short docs pass through") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 25).map(i => s"t$i").mkString(" ")), // 25 tokens
      (2L, "a b c"),                                   // under budget
      (3L, ""))                                        // empty -> [""] single token
      .toDF("doc_id", "text")
    // chunk=10, overlap=3 -> stride 7 -> doc 1 chunks at 0,7,14,21
    val out = Corpus.chunkDocs(df, "text", "doc_id", 10, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getInt(3))).toMap
    assert(out.keys.count(_._1 == 1L) == 4)
    assert(out((1L, 0))._1 == (1 to 10).map(i => s"t$i").mkString(" "))
    assert(out((1L, 1))._1 == (8 to 17).map(i => s"t$i").mkString(" ")) // overlap 3
    assert(out((1L, 3)) == ((22 to 25).map(i => s"t$i").mkString(" "), 4)) // short tail
    assert(out((2L, 0)) == ("a b c", 3))
    assert(out.keys.count(_._1 == 2L) == 1)
    assert(out((3L, 0))._2 == 1) // empty text: one ""-token chunk, consistent with tokens()
    // zero overlap: exact partition, token multiset preserved
    val flat = Corpus.chunkDocs(df.filter(col("doc_id") === 1L), "text", "doc_id", 10, 0)
      .collect().flatMap(_.getString(2).split(" "))
    assert(flat.toSeq.sorted == (1 to 25).map(i => s"t$i").sorted)
  }

  test("packSequences: docs fill shards in id order, never split, budget respected") {
    import spark.implicits._
    // token counts: 3, 4, 2, 6, 1 — budget 5 with exclusive prefix sums
    // 0,3,7,9,15 -> seq ids 0,0,1,1,3
    val df = Seq(
      (1L, "a b c"), (2L, "a b c d"), (3L, "a b"),
      (4L, "a b c d e f"), (5L, "a"))
      .toDF("doc_id", "text")
    val out = Corpus.packSequences(df, "text", "doc_id", budget = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 0L), (2L, 4L, 0L), (3L, 2L, 1L),
      (4L, 6L, 1L), (5L, 1L, 3L)))
  }

  test("mixSources: quotas honored in id order, short sources cap at available rows") {
    import spark.implicits._
    val df = (0L until 10L).map(i => (i, "a")) ++
      (10L until 14L).map(i => (i, "b")) ++
      (20L until 25L).map(i => (i, "c"))
    val mixed = Corpus.mixSources(df.toDF("doc_id", "source"), "source", "doc_id",
      weights = Map("a" -> 0.6, "b" -> 0.4), totalRows = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySource = mixed.groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(bySource("a") == (0L until 6L))        // quota 6 of 10, first by id
    assert(bySource("b") == (10L until 14L))      // quota 4, all 4 available
    assert(!bySource.contains("c"))               // unweighted source dropped
  }

  test("chunkBySentence: boundary-only cuts, start-offset buckets, over-budget singleton") {
    import spark.implicits._
    // doc 1: sentences of 3/3/3 tokens, budget 5 -> starts 0,3,6 ->
    // chunks 0,0,1 (chunk 0 runs over budget by one sentence: 6 tokens)
    // doc 2: one 8-token sentence, budget 5 -> its own over-budget chunk
    val docs = Seq(
      (1L, "a b one. c d two! e f three?"),
      (2L, "w w w w w w w eight.")).toDF("doc_id", "text")
    val out = Corpus.chunkBySentence(docs, "text", "doc_id", chunkTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    assert(out((1L, 0L)) == (("a b one. c d two!", 6L, 2L)))
    assert(out((1L, 1L)) == (("e f three?", 3L, 1L)))
    assert(out((2L, 0L)) == (("w w w w w w w eight.", 8L, 1L)))
    // no chunk starts or ends mid-sentence: every chunk ends in
    // terminal punctuation on this fixture
    assert(out.values.forall { case (c, _, _) => ".!?".contains(c.last) })
  }

  test("lengthPercentiles: nearest-rank quartiles hand-checked, no keyless window") {
    import spark.implicits._
    // source a: token counts 1..8 (ceil(.25*8)=2 -> 2, ceil(.5*8)=4 -> 4,
    // ceil(.75*8)=6 -> 6); source b: counts {3,5} -> p25=3, p50=3, p75=5
    val docs = ((1L to 8L).map(i => (i, ("w " * i.toInt).trim, "a")) ++
      Seq((20L, "x x x", "b"), (21L, "y y y y y", "b"))).toDF("doc_id", "text", "source")
    val out = Corpus.lengthPercentiles(docs, "text", "doc_id", "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("a") == ((2L, 4L, 6L, 8L)))
    assert(out("b") == ((3L, 3L, 5L, 2L)))
  }

  test("mixToTokenBudget: exclusive-cumsum keep rule, one-doc overshoot, no windows") {
    import spark.implicits._
    // token counts: every doc = 4 tokens; hash order within a source is
    // seeded but whatever it is, budget 10 keeps exactly 3 docs
    // (exclusive cumsums 0, 4, 8 < 10; the third overshoots to 12)
    val df = ((0L until 5L).map(i => (i, "w x y z", "a")) ++
      (10L until 12L).map(i => (i, "p q r s", "b")) ++
      (20L until 22L).map(i => (i, "m n o t", "c"))).toDF("doc_id", "text", "source")
    val out = Corpus.mixToTokenBudget(df, "text", "doc_id", "source",
      Map("a" -> 10L, "b" -> 2L), seed = 1L)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(2)))
    val bySource = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySource("a") == 3, "budget 10 over 4-token docs keeps 3 (one overshoot)")
    assert(bySource("b") == 1, "a positive budget always keeps the first doc")
    assert(!bySource.contains("c"), "unbudgeted source dropped")
    assert(out.columns.toSeq == Seq("doc_id", "text", "source", "n_tokens"))
    assert(out.collect().forall(_.getLong(3) == 4L))
    // determinism: same seed = same keep set; different seed may differ
    val again = Corpus.mixToTokenBudget(df, "text", "doc_id", "source",
      Map("a" -> 10L, "b" -> 2L), seed = 1L)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(rows.sorted.sameElements(again.sorted))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }

  test("mixToTokenBudget: sources whose UTF-8 and UTF-16 orders disagree, " +
    "no job while building, one RunningTotal") {
    import spark.implicits._
    // "\uff61" sorts before "\ud83d\ude00" in UTF-8 bytes (EF.. < F0..)
    // but after it in UTF-16 units (FF61 > D83D); ASCII "a" precedes both
    val halfStop = "\uff61"
    val emoji = "\ud83d\ude00"
    val docs = (0L until 6L).map(i => (i, Seq.fill(3)("w").mkString(" "), halfStop)) ++
      (10L until 16L).map(i => (i, Seq.fill((i % 4 + 1).toInt)("e").mkString(" "), emoji)) ++
      (20L until 25L).map(i => (i, "a b", "a"))
    val budgets = Map(halfStop -> 7L, emoji -> 6L, "a" -> 3L)
    val seed = 5L
    val df = docs.toDF("doc_id", "text", "source")
    val sc = spark.sparkContext
    val group = "mixToTokenBudget-build"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val out = try Corpus.mixToTokenBudget(df, "text", "doc_id", "source", budgets, seed)
      finally {
        sc.clearJobGroup()
        org.apache.spark.sql.graftbridge.GraftBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(jobs.get == 0, "building the frame ran a Spark job")
    val plan = out.queryExecution.executedPlan.toString
    assert("RunningTotal \\[".r.findAllIn(plan).length == 1, plan)
    // driver-side reference: per source, docs in (md5 key, id) order,
    // kept while the source's exclusive token total is under budget
    def key(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$seed".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    val expected = docs.groupBy(_._3).toSeq.flatMap { case (src, rows) =>
      var acc = 0L
      rows.sortBy(r => (key(r._1), r._1)).flatMap { case (id, text, _) =>
        val keep = acc < budgets(src)
        acc += text.split(" ").length
        if (keep) Some(id) else None
      }
    }.sorted
    val got = out.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expected)
  }

  test("temperatureWeights: T=1 proportional, T=2 flattens toward the tail, T->inf uniform") {
    import spark.implicits._
    // 90/10 split: proportional keeps the skew, temperature flattens it
    val df = ((0L until 90L).map(i => (i, "big")) ++
      (100L until 110L).map(i => (i, "small"))).toDF("doc_id", "source")
    val t1 = Corpus.temperatureWeights(df, "source", temperature = 1.0)
    assert(math.abs(t1("big") - 0.9) < 1e-12 && math.abs(t1("small") - 0.1) < 1e-12)
    val t2 = Corpus.temperatureWeights(df, "source", temperature = 2.0)
    // sqrt(90)/(sqrt(90)+sqrt(10)) = 3/4 exactly (sqrt(9)=3 ratio)
    assert(math.abs(t2("big") - 0.75) < 1e-12 && math.abs(t2("small") - 0.25) < 1e-12)
    val t100 = Corpus.temperatureWeights(df, "source", temperature = 100.0)
    assert(math.abs(t100("big") - t100("small")) < 0.02, "high T -> near uniform")
    // weights always normalize
    Seq(t1, t2, t100).foreach(w => assert(math.abs(w.values.sum - 1.0) < 1e-12))
    // end-to-end: T=2 mixture takes 30/10 of a 40-doc target
    val mixed = Corpus.mixSourcesTemperature(df, "source", "doc_id",
        temperature = 2.0, totalRows = 40)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixed == Map("big" -> 30L, "small" -> 10L), mixed.toString)
  }

  test("perplexityBuckets: thirds per source, best LM scores land in head") {
    import spark.implicits._
    // source a: 6 docs — 2 made of common words, 2 mixed, 2 of rare words;
    // source b: 2 docs (n=2 -> rk=1 is middle under 3*rk<=2n, rk=2 tail)
    val common = "the cat sat on the mat"
    val docs = Seq(
      (1L, "a", common), (2L, "a", common),
      (3L, "a", "the cat zyx qwv"), (4L, "a", "on the mat plk jjw"),
      (5L, "a", "zzq xxv rrt"), (6L, "a", "mmb nnc vvd"),
      (7L, "b", common), (8L, "b", "qqa wwb eec")).toDF("doc_id", "source", "text")
    val out = Corpus.perplexityBuckets(docs, "text", "doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // common-word docs have the highest mean logprob -> head of source a
    assert(out(1L) == "head" && out(2L) == "head", out.toString)
    assert(out(5L) == "tail" || out(6L) == "tail", out.toString)
    // a source of 2: no head (3*1 > 2), one middle, one tail
    assert(out(7L) == "middle" && out(8L) == "tail", out.toString)
    // every source third is ceil/floor-balanced: source a = 2/2/2
    val aBuckets = out.filterKeys(_ <= 6L).values.groupBy(identity).view.mapValues(_.size).toMap
    assert(aBuckets == Map("head" -> 2, "middle" -> 2, "tail" -> 2), aBuckets.toString)
  }

  test("curriculumOrder: stages strictly ordered, deterministic, contiguous ranks") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val o = Corpus.curriculumOrder(docs, "text", "doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(o.map(_._3).sorted.toSeq == (0L until o.length.toLong).toSeq)
    val stageOf = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    val byRank = o.sortBy(_._3).map(t => stageOf(t._2))
    assert(byRank.sameElements(byRank.sorted), "stages must not interleave")
    val again = Corpus.curriculumOrder(docs, "text", "doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(o.map(t => t._1 -> t._3).toMap == again, "order must be deterministic")
  }

  test("weightedSample: weight-proportional draw, no replacement, TakeOrdered") {
    import spark.implicits._
    // 100 heavy rows (w=50) + 900 light rows (w=1): heavy mass is
    // 5000/5900 — a 100-row sample should be dominated by heavy rows
    val df = ((0 until 100).map(i => (i.toLong, 50)) ++
      (100 until 1000).map(i => (i.toLong, 1)) :+ (1000L, 0))
      .toDF("id", "w")
    val got = Corpus.weightedSample(df, "w", "id", k = 100, seed = 7L)
    val rows = got.collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.length == 100 && rows.map(_._1).distinct.length == 100,
      "k distinct rows — sampling without replacement")
    assert(!rows.map(_._1).contains(1000L), "zero-weight rows cannot be drawn")
    val heavy = rows.count(_._2 == 50)
    assert(heavy > 55, s"heavy rows hold ~85% of mass, got $heavy/100")
    val again = Corpus.weightedSample(df, "w", "id", k = 100, seed = 7L)
      .collect().map(_.getLong(0)).toSeq
    assert(rows.map(_._1).toSeq == again, "hash-draw determinism")
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort:\n$plan")
  }

  test("doremiWeights: EG pushes weight to the high-loss domain; sums to 1") {
    import spark.implicits._
    // domain "rare" uses vocabulary nothing else shares -> every token is
    // corpus-rare -> highest unigram cross-entropy -> positive excess;
    // "common" repeats the corpus-dominant tokens -> negative excess (0)
    val docs = (
      (1 to 8).map(i => (i.toLong, "the quick brown fox jumps over the dog", "common")) ++
      (9 to 12).map(i => (i.toLong, "the quick brown fox sat on the mat", "mixed")) ++
      Seq((13L, "zyx wvu tsr qpo nml kji hgf edc", "rare"),
          (14L, "zyx wvu tsr qpo nml kji hgf edc", "rare")))
      .toDF("doc_id", "text", "source")
    val w = Corpus.doremiWeights(docs, "text", "doc_id", "source",
      eta = 1.0, steps = 2, smoothing = 0.01)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val tokTotal = w.values.map(_._1).sum.toDouble
    assert(math.abs(w.values.map(_._3).sum - 1.0) < 1e-6, "weights sum to 1")
    assert(w("rare")._2 > 0, "rare domain has positive excess loss")
    assert(w("common")._2 == 0.0, "dominant domain has zero excess")
    // EG moved mass: rare's weight exceeds its token share; common's fell
    assert(w("rare")._3 > w("rare")._1 / tokTotal, w.toString)
    assert(w("common")._3 < w("common")._1 / tokTotal, w.toString)
    // smoothing floor: every weight >= smoothing / nDomains
    assert(w.values.forall(_._3 >= 0.01 / 3 - 1e-12))
    val again = Corpus.doremiWeights(docs, "text", "doc_id", "source",
      eta = 1.0, steps = 2, smoothing = 0.01)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(w.view.mapValues(_._3).toMap == again, "bit-deterministic")
  }

  test("doremiWeightsKN: a planted hard domain (scrambled word ORDER, identical unigrams) gains weight only under the KN proxy") {
    import spark.implicits._
    // "scrambled" has EXACTLY the unigram multiset of "common" but
    // permuted order: the unigram stand-in sees zero excess loss, while
    // the Kneser-Ney bigram proxy sees rare bigram types and reweights —
    // the capability the real-proxy upgrade buys
    val docs = (
      (1 to 8).map(i =>
        (i.toLong, "the quick brown fox jumps over the lazy dog", "common")) ++
      Seq((9L, "dog lazy the over jumps fox brown quick the", "scrambled"),
          (10L, "dog lazy the over jumps fox brown quick the", "scrambled")))
      .toDF("doc_id", "text", "source")
    def collectW(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val uni = collectW(Corpus.doremiWeights(docs, "text", "doc_id", "source",
      eta = 1.0, steps = 2, smoothing = 0.01))
    val kn = collectW(Corpus.doremiWeightsKN(docs, "text", "doc_id", "source",
      eta = 1.0, steps = 2, smoothing = 0.01))
    // unigram scorer is blind to word order: both domains have the same
    // per-token distribution, so no domain shows (meaningful) excess
    assert(uni("scrambled")._2 < 1e-9, s"unigram excess: $uni")
    // KN scorer sees it: positive excess, weight ABOVE bigram share
    assert(kn("scrambled")._2 > 0.01, s"KN excess too small: $kn")
    val bigTotal = kn.values.map(_._1).sum.toDouble
    assert(kn("scrambled")._3 > kn("scrambled")._1 / bigTotal, kn.toString)
    assert(kn("common")._3 < kn("common")._1 / bigTotal, kn.toString)
    assert(math.abs(kn.values.map(_._3).sum - 1.0) < 1e-6, "weights sum to 1")
    val again = collectW(Corpus.doremiWeightsKN(docs, "text", "doc_id",
      "source", eta = 1.0, steps = 2, smoothing = 0.01))
    assert(kn == again, "bit-deterministic")
  }

  test("doremiWeightsAdaptive: per-step proxy re-evaluation — 2 steps at eta provably != 1 step at 2*eta") {
    import spark.implicits._
    // a big domain and two small ones with partly-disjoint vocabularies:
    // under the UNIFORM step-1 mixture the big domain's tokens are
    // under-weighted relative to the corpus-trained reference, so it
    // shows excess and gains weight; the step-2 proxy (retrained on the
    // shifted mixture) then fits it better, so step 2's excess differs
    // from step 1's — the telescoping the fixed-loss variants exhibit
    // cannot happen
    val docs = (
      (1 to 12).map(i =>
        (i.toLong, "alpha beta gamma delta alpha beta gamma", "big")) ++
      (13 to 14).map(i => (i.toLong, "epsilon zeta eta theta", "small1")) ++
      Seq((15L, "iota kappa lambda mu nu xi", "small2")))
      .toDF("doc_id", "text", "source")
    def run(eta: Double, steps: Int) =
      Corpus.doremiWeightsAdaptive(docs, "text", "doc_id", "source",
        eta = eta, steps = steps, smoothing = 0.01)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val two = run(1.0, 2)
    val oneDouble = run(2.0, 1)
    assert(math.abs(two.values.map(_._3).sum - 1.0) < 1e-6, "weights sum to 1")
    // the seam-closing property: a fixed-loss EG loop telescopes
    // (2 steps at eta == 1 step at 2*eta); the adaptive loop must not
    val maxDiff = two.keys.map(k =>
      math.abs(two(k)._3 - oneDouble(k)._3)).max
    assert(maxDiff > 1e-6,
      s"adaptive loop telescoped: $two vs $oneDouble")
    // step-1 direction: the big (reference-favored) domain shows excess
    // under the uniform-mixture proxy
    assert(two("big")._2 >= 0.0 && two.values.map(_._2).max > 0.0, two.toString)
    val again = run(1.0, 2)
    assert(two == again, "bit-deterministic")
  }

  test("doremiWeightsKNAdaptive: bigram-planted domain — KN capability kept AND 2 steps at eta != 1 step at 2*eta") {
    import spark.implicits._
    // "plain" and "scrambled" are the SAME SIZE with IDENTICAL unigram
    // multisets — only their bigram structure differs (plain shares the
    // big domain's word order, scrambled reverses it). The uniform
    // alpha_0 mixture over-serves both small domains equally at the
    // unigram level, so the unigram-adaptive loop CANNOT separate them;
    // the KN-adaptive loop must (plain's bigrams lose mixture mass the
    // corpus reference gave them via "common", scrambled's GAIN mass) —
    // and the per-step re-trained proxy must break the telescoping
    // identity the fixed-loss KN loop exhibits.
    val docs = (
      (1 to 8).map(i =>
        (i.toLong, "the quick brown fox jumps over the lazy dog", "common")) ++
      Seq((9L, "the quick brown fox jumps over the lazy dog", "plain"),
          (10L, "the quick brown fox jumps over the lazy dog", "plain"),
          (11L, "dog lazy the over jumps fox brown quick the", "scrambled"),
          (12L, "dog lazy the over jumps fox brown quick the", "scrambled")))
      .toDF("doc_id", "text", "source")
    def run(eta: Double, steps: Int) =
      Corpus.doremiWeightsKNAdaptive(docs, "text", "doc_id", "source",
        eta = eta, steps = steps, smoothing = 0.01)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val two = run(1.0, 2)
    val oneDouble = run(2.0, 1)
    assert(math.abs(two.values.map(_._3).sum - 1.0) < 1e-6, "weights sum to 1")
    // non-telescoping: the step-2 proxy is retrained on the shifted
    // mixture, so its excess losses differ from step 1's
    val maxDiff = two.keys.map(k =>
      math.abs(two(k)._3 - oneDouble(k)._3)).max
    assert(maxDiff > 1e-6, s"KN-adaptive loop telescoped: $two vs $oneDouble")
    // bigram sensitivity: identical unigrams, different weights — the
    // structure-preserving small domain shows MORE excess than the
    // structure-breaking one (whose own bigrams the uniform mixture
    // over-serves relative to the corpus reference)
    assert(two("plain")._2 > two("scrambled")._2, two.toString)
    assert(two("plain")._3 > two("scrambled")._3, two.toString)
    // control: the unigram-adaptive loop is provably blind to the split
    val uni = Corpus.doremiWeightsAdaptive(docs, "text", "doc_id", "source",
      eta = 1.0, steps = 2, smoothing = 0.01)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(uni("plain") - uni("scrambled")) < 1e-9, uni.toString)
    val again = run(1.0, 2)
    assert(two == again, "bit-deterministic")
  }

  test("unimaxAllocation: hand-computed waterfilling on three domains") {
    import spark.implicits._
    // per-domain sizes 10 / 20 / 100 arrive split across rows
    val df = Seq(("a", 4L), ("a", 6L), ("b", 20L), ("c", 60L), ("c", 40L))
      .toDF("src", "n")
    def run(budgetEpochs: Double) =
      Corpus.unimaxAllocation(df, "src", "n", budgetEpochs, maxEpochs = 2.0)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // B = 130: a and b saturate their 2-epoch caps, c gets the level
    val mid = run(1.0)
    assert(mid("a") == (10L, 20L, 20.0, 2.0))
    assert(mid("b") == (20L, 40L, 40.0, 2.0))
    assert(mid("c") == (100L, 200L, 70.0, 0.7))   // λ = (130-60)/1
    // B = 390 > Σcap = 260: everyone saturates
    val rich = run(3.0)
    assert(Seq("a", "b", "c").forall(d => rich(d)._3 == rich(d)._2.toDouble))
    // B = 13 < m * min cap: nobody saturates, pure uniform level
    val poor = run(0.1)
    assert(poor.values.forall(_._3 == 4.3333))    // λ = 13/3
    assert(poor("c")._4 == 0.043333)
  }

  test("unimaxAllocation: Σalloc == min(budget, Σcap) under random sizes") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 30).map(i => (s"d$i", 1L + rnd.nextInt(5000)))
    val df = rows.toDF("src", "n")
    for (be <- Seq(0.3, 1.0, 1.7, 2.5)) {
      val out = Corpus.unimaxAllocation(df, "src", "n", be, maxEpochs = 2.0)
        .collect()
      val total = rows.map(_._2).sum
      val sumCap = out.map(_.getLong(2)).sum
      val expect = math.min(math.floor(total * be), sumCap.toDouble)
      val got = out.map(_.getDouble(3)).sum
      assert(math.abs(got - expect) < 0.01 * out.length,
        s"budgetEpochs=$be: alloc sum $got vs $expect")
      // caps never exceeded
      assert(out.forall(r => r.getDouble(3) <= r.getLong(2) + 1e-9))
    }
  }

  test("nbQualityScore: planted vocabulary separates classes; counts weigh in") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "good clean prose here", true), (2L, "good good text", true),
      (3L, "clean prose good text", true),
      (4L, "spam junk noise here", false), (5L, "junk junk spam", false),
      (6L, "noise spam junk text", false),
      // mixed doc dominated by positive vocabulary
      (7L, "good clean good prose junk", true))
      .toDF("doc_id", "text", "lab")
    val out = Corpus.nbQualityScore(docs, "text", "doc_id", col("lab"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1),
        r.getDouble(2), r.getBoolean(3))).toMap
    // purely positive-vocab docs score > 0, purely negative < 0
    assert(out(2L)._2 > 0 && out(2L)._3, out.toString)
    assert(out(5L)._2 < 0 && !out(5L)._3, out.toString)
    // the mixed doc leans positive (4 positive tokens vs 1 negative)
    assert(out(7L)._2 > 0, out.toString)
    // every doc present, llr deterministic
    assert(out.size == 7)
    val again = Corpus.nbQualityScore(docs, "text", "doc_id", col("lab"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.view.mapValues(_._2).toMap == again)
  }
}
