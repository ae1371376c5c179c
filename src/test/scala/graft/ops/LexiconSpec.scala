package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LexiconSpec extends SparkSpec {

  test("vocabulary: counts, minCount filter, deterministic top-K ties") {
    import spark.implicits._
    val df = Seq((1L, "a a b THE"), (2L, "b c the"), (3L, "   "), (4L, ""))
      .toDF("doc_id", "text")
    // lowercased counts: a=2, b=2, the=2, c=1; empty docs contribute nothing
    val all = Lexicon.vocabulary(df, "text", "doc_id", minCount = 2L)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(all.toSeq == Seq(("a", 2L), ("b", 2L), ("the", 2L)))
    val top2 = Lexicon.vocabulary(df, "text", "doc_id", minCount = 1L, topK = 2)
      .collect().map(_.getString(0))
    assert(top2.toSeq == Seq("a", "b")) // n ties break alphabetically
  }

  test("tfidfTopK: hand-checked tf*ln(N/df), everywhere-terms score 0") {
    import spark.implicits._
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = Lexicon.tfidfTopK(df, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2))
    // N=2; d1: x tf=2/3 idf=ln2 -> 0.462098, y idf=ln1=0
    //      d2: z tf=1/2 idf=ln2 -> 0.346574, y 0
    assert(out.toSeq == Seq(
      (1L, "x", 0.462098), (1L, "y", 0.0),
      (2L, "z", 0.346574), (2L, "y", 0.0)))
  }

  test("bm25TopK: hand-checked Okapi score with the Lucene idf") {
    import spark.implicits._
    val df = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val out = Lexicon.bm25TopK(df, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3, t._2)).toSeq
    // N=2, avg len 2.5; driver-side replay of the exact formula
    def score(c: Long, len: Long, dfc: Long): Double = {
      val idf = math.log((2L - dfc + 0.5) / (dfc + 0.5) + 1.0)
      val tf = (c * (1.2 + 1.0)) /
        (c + 1.2 * (0.25 + 0.75 * (len / (5.0 / 2.0))))
      BigDecimal(idf * tf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out == Seq(
      (1L, "x", score(2, 3, 1)), (1L, "y", score(1, 3, 2)),
      (2L, "z", score(1, 2, 1)), (2L, "y", score(1, 2, 2))))
    // saturation: the doubled term scores less than 2x the single one
    assert(out.head._3 < 2 * score(1, 3, 1))
  }

  test("unigramLogProb: mean ln p over occurrences; empty docs absent") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "b"), (3L, " ")).toDF("doc_id", "text")
    // corpus counts a=2, b=2, total=4: every token has p=0.5
    val out = Lexicon.unigramLogProb(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, -0.693147), (2L, 1L, -0.693147)))
  }

  test("bigramLogProb: hand-checked Jelinek-Mercer values; short docs absent") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"), (5L, ""))
      .toDF("doc_id", "text")
    // bigrams: (a,b) x2, (a,c) x1 -> c(a.) = 3. unigrams: a=3, b=2,
    // c=1, x=1, N=7. P(b|a) = .75*(2/3) + .25*(2/7); P(c|a) =
    // .75*(1/3) + .25*(1/7)
    val out = Lexicon.bigramLogProb(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pb = 0.75 * (2.0 / 3.0) + 0.25 * (2.0 / 7.0)
    val pc = 0.75 * (1.0 / 3.0) + 0.25 * (1.0 / 7.0)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L), "1-token and empty docs absent")
    assert(out.map(_._2).toSeq == Seq(1L, 1L, 1L))
    assert(out(0)._3 == r6(math.log(pb)) && out(1)._3 == r6(math.log(pb)))
    assert(out(2)._3 == r6(math.log(pc)))
    // the interpolation floor keeps every score finite and <= 0
    assert(out.forall(o => o._3 <= 0.0 && !o._3.isNegInfinity))
    // the small vocabulary broadcasts the context/unigram tables; with the
    // session threshold disabled they shuffle-join, with identical values
    assert(Lexicon.bigramLogProb(df, "text", "doc_id")
      .queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val noBc = Lexicon.bigramLogProb(df, "text", "doc_id")
      assert(!noBc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "a disabled threshold must plan shuffle joins only")
      assert(noBc.collect().map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
        .map(_._2).toSeq == out.map(_._3).toSeq)
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("bigramLogProbKN: hand-checked Kneser-Ney values; continuation counts drive backoff") {
    import spark.implicits._
    // bigrams: (a,b) x2, (a,c) x1, (b,a) x1 (doc 2 is "a b a").
    // cb types: (a,b),(a,c),(b,a) -> types=3. c(a.)=3, N1+(a.)=2;
    // c(b.)=1, N1+(b.)=1. N1+(.b)=1, N1+(.c)=1, N1+(.a)=1.
    val df = Seq((1L, "a b"), (2L, "a b a"), (3L, "a c")).toDF("doc_id", "text")
    val out = Lexicon.bigramLogProbKN(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAB = (2.0 - 0.75) / 3.0 + 0.75 * (2.0 / 3.0) * (1.0 / 3.0)
    val pBA = (1.0 - 0.75) / 1.0 + 0.75 * (1.0 / 1.0) * (1.0 / 3.0)
    val pAC = (1.0 - 0.75) / 3.0 + 0.75 * (2.0 / 3.0) * (1.0 / 3.0)
    assert(out(0) == ((1L, 1L, r6(math.log(pAB)))))
    assert(out(1)._2 == 2L)
    assert(out(1)._3 == r6((math.log(pAB) + math.log(pBA)) / 2.0))
    assert(out(2) == ((3L, 1L, r6(math.log(pAC)))))
    // probabilities are well-formed: discount < every scored count
    assert(out.forall(_._3 < 0.0))
  }

  test("trigramLangId: recovers labels on distinct languages; tiny docs predict und") {
    import spark.implicits._
    val en = Seq("the cat sat on the mat with the dog",
      "the quick brown fox jumps over the lazy dog",
      "she sells sea shells on the sea shore")
    val de = Seq("der hund und die katze spielen in dem garten",
      "die kinder lesen das buch in der schule",
      "der vogel singt und die sonne scheint")
    val fr = Seq("le chat et le chien jouent dans le jardin",
      "les enfants lisent le livre dans la classe",
      "le soleil brille et les oiseaux chantent")
    val rows = (en.map(("en", _)) ++ de.map(("de", _)) ++ fr.map(("fr", _)))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, t, l) } :+
      (99L, "ab", "en") // under 3 chars -> no trigrams -> und
    val df = rows.toDF("doc_id", "text", "lang")
    val pred = Lexicon.trigramLangId(df, "text", "doc_id", "lang", topM = 60)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = rows.map(r => r._1 -> r._3).toMap
    val full = rows.filter(_._1 != 99L)
    assert(full.forall(r => pred(r._1) == truth(r._1)),
      full.map(r => s"${r._1}: ${pred(r._1)} vs ${truth(r._1)}").mkString(", "))
    assert(pred(99L) == "und")
  }

  test("corpus invariants on testdata: vocab mass = token mass, tfidf >= 0, logprob <= 0") {
    val docs = graft.core.Tables.documents(spark, sf)
    val tokenMass = docs.select(graft.ops.Text.tokenCount(col("text")).as("n"))
      .agg(sum("n")).collect()(0).getLong(0)
    val vocabMass = Lexicon.vocabulary(docs, "text", "doc_id")
      .agg(sum("n")).collect()(0).getLong(0)
    assert(vocabMass == tokenMass) // every occurrence lands in exactly one vocab row
    val negTfidf = Lexicon.tfidfTopK(docs, "text", "doc_id", k = 3)
      .filter(col("tfidf") < 0).count()
    assert(negTfidf == 0) // df_t <= N so idf >= 0
    val posLp = Lexicon.unigramLogProb(docs, "text", "doc_id")
      .filter(col("mean_logprob") > 0).count()
    assert(posLp == 0) // probabilities <= 1
  }

  test("plans: tfidf top-k short-circuits; trigram profiles broadcast; asOf shuffles once") {
    val docs = graft.core.Tables.documents(spark, sf)
    val bcast = Lexicon.tfidfTopK(docs, "text", "doc_id", k = 3)
    val tfidfPlan = bcast.queryExecution.executedPlan.toString
    assert(tfidfPlan.contains("WindowGroupLimit"),
      "per-doc top-k should plan as WindowGroupLimit (rank short-circuit), not a full window sort")
    // The session broadcast threshold decides the df_t join side: under
    // the default this corpus's small vocabulary broadcasts the df_t
    // table, so the (doc, term) side keeps its id clustering and the
    // term-keyed join is a broadcast probe; with the threshold disabled
    // (stand-in for a 10M-term vocabulary exceeding it) it must fall
    // back to the term-shuffle join instead of forcing an OOM-risk
    // broadcast — results identical either way
    assert(tfidfPlan.contains("BroadcastHashJoin"),
      "small vocab must plan the df_t join as a broadcast probe")
    val bcastRows = bcast.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val shuf = Lexicon.tfidfTopK(docs, "text", "doc_id", k = 3)
      assert(!shuf.queryExecution.executedPlan.toString.contains("BroadcastHashJoin [term"),
        "oversized vocab must not be forced into a broadcast")
      assert(shuf.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSet == bcastRows)
    } finally spark.conf.set(thresholdKey, saved)
    val langPlan = Lexicon.trigramLangId(docs, "text", "doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(langPlan.contains("BroadcastHashJoin"),
      "the trigram classify join must broadcast the profile dictionary")
    val ev = graft.core.Tables.events(spark, sf)
    val asofPlan = RangeJoin.asOf(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "error"), "user_id", "ts")
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(asofPlan).length
    assert(shuffles == 1, s"asOf must shuffle exactly once (saw $shuffles):\n$asofPlan")
    assert(!asofPlan.contains("SortMergeJoin") && !asofPlan.contains("Cartesian"),
      "asOf must not plan a join at all — it is a union + window")
  }

  test("qualityGate: survivors are exactly the docs at/above their source's exact median") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog while other animals watch the scene",
      "zz", "!!!???!!!", "a b c the d e f g h i j k l m n o p q r s t u v w x y z one",
      "the data pipeline reads the table and writes the result to the store every day",
      "??", "the end", "supercalifragilisticexpialidocious antidisestablishmentarianism floccinaucinihilipilification")
    val df = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, if (i % 2 == 0) "sa" else "sb")
    }.toDF("doc_id", "text", "source")
    val q = df.select(col("doc_id"), col("source"),
        graft.ops.Text.qualityScore(col("text")).as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = q.groupBy(_._2).flatMap { case (_, rows) =>
      val sorted = rows.map(_._3).sorted
      val n = sorted.length
      val med = (sorted((n - 1) / 2) + sorted(n / 2)) / 2.0
      rows.filter(_._3 >= med).map(_._1).toSeq
    }.toSet
    val got = Corpus.qualityGate(df, "text", "doc_id", "source")
      .collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty && got.size < texts.length)
  }

  test("heavyHitters: exact counts, strict threshold, eviction-forcing vocab") {
    import spark.implicits._
    // 200 tokens: a x50, b x40, 110 unique rares; n/5 threshold = 40,
    // vocab 112 >> sketchK 8 so the sketch evicts constantly
    val toks = new scala.util.Random(3).shuffle(
      Seq.fill(50)("a") ++ Seq.fill(40)("b") ++ (1 to 110).map(i => s"r$i"))
    val docs = toks.grouped(20).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(4)
    val got = Lexicon.heavyHitters(docs, "text", "doc_id",
        reportDiv = 5, sketchK = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 50L))    // b: 40*5 == 200 fails the STRICT >
    intercept[IllegalArgumentException] {
      Lexicon.heavyHitters(docs, "text", "doc_id", reportDiv = 9, sketchK = 8)
    }
  }

  test("zipfFit: exact power law recovers exponent 1 with r2 ~ 1") {
    import spark.implicits._
    // counts 2520/r for ranks 1..4: ln n = ln 2520 - 1 * ln r exactly
    val toks = Seq.fill(2520)("aa") ++ Seq.fill(1260)("bb") ++
      Seq.fill(840)("cc") ++ Seq.fill(630)("dd")
    val docs = toks.grouped(100).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(5)
    val Array(r) = Lexicon.zipfFit(docs, "text", "doc_id", topK = 10)
      .collect()
    assert(r.getLong(0) == 4L)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-6, s"exponent ${r.getDouble(1)}")
    assert(r.getDouble(3) > 0.999999, s"r2 ${r.getDouble(3)}")

    // steeper spectrum (counts 1000/r^2) -> exponent 2
    val steep = Seq.fill(1000)("aa") ++ Seq.fill(250)("bb") ++
      Seq.fill(111)("cc")  // 1000/9 rounded: near-2 exponent, r2 high
    val sd = Seq((1L, steep.mkString(" "))).toDF("doc_id", "text")
    val Array(r2row) = Lexicon.zipfFit(sd, "text", "doc_id").collect()
    assert(math.abs(r2row.getDouble(1) - 2.0) < 0.01)
  }
}
