package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

class DedupSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  test("shingleRows (codegen path) equals the array-form shingles for random docs") {
    import spark.implicits._
    val docGen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 1000L),
      Gen.choose(0, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("alpha", "beta", "gamma", "delta", "x"))
          .map(_.mkString(" ")))))
    for (docs <- samples(docGen, 3); n <- Seq(2, 3)) {
      val df = docs.toDF("doc_id", "text").dropDuplicates("doc_id")
      val arrayForm = df.select(col("doc_id").as("id"),
        explode(Dedup.shingles(col("text"), n)).as("sh"))
        .distinct().collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val rowForm = Dedup.shingleRows(df, "text", "doc_id", n)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rowForm == arrayForm,
        s"n=$n diff: ${(rowForm diff arrayForm) ++ (arrayForm diff rowForm)}")
    }
  }

  test("exact dedup keeps exactly one row per distinct text, lowest id") {
    import spark.implicits._
    val df = Seq((3L, "a"), (1L, "a"), (2L, "b"), (5L, "b"), (4L, "c"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id")
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(out == Map("a" -> 1L, "b" -> 2L, "c" -> 4L))
  }

  test("exact dedup collapses fully identical rows (non-unique ids) to ONE survivor") {
    import spark.implicits._
    // the canonical dedup input: the same (id, text) row ingested twice,
    // plus an id collision with different extra columns — exactly one row
    // must survive per text (r3 ADVICE: the old min+join-back kept both)
    val df = Seq((1L, "a", "x"), (1L, "a", "x"), (1L, "a", "y"), (2L, "b", "z"))
      .toDF("doc_id", "text", "extra")
    val out = Dedup.exactDedup(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.length == 2)
    // deterministic: min (id, text, extra) struct -> "x" beats "y"
    assert(out.toSet == Set((1L, "a", "x"), (2L, "b", "z")))
  }

  test("zero-token docs shingle to \"\" — they cluster together, never silently bypass dedup") {
    import spark.implicits._
    val corpus = Seq((1L, ""), (2L, "   "), (3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    // empty and whitespace-only docs carry ONE empty-string shingle
    val sh = Dedup.shingleRows(corpus, "text", "doc_id", 3)
      .filter(col("id") =!= 3L).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sh.toSet == Set((1L, ""), (2L, "")))
    // so empty duplicates ARE a near-dup pair (Jaccard 1.0)...
    val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // ...and an empty benchmark doc decontaminates empty corpus docs
    val kept = Dedup.decontaminate(corpus, corpus.filter(col("doc_id") === 1L),
      "text", "doc_id", n = 3, maxOverlap = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L))
    // exact dedup collapses them too (keys on the text itself)
    val exact = Dedup.exactDedup(Seq((5L, ""), (6L, ""), (7L, "x")).toDF("doc_id", "text"),
      "text", "doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(5L, 7L))
  }

  test("simhash matches the per-token counting reference (native expression)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha alpha alpha beta"),
      (3L, "x"),
      (4L, "repeated repeated words words words here"))
      .toDF("doc_id", "text")
    val got = Dedup.simhash(docs, "text", "doc_id", bits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: explode tokens, count bit-j majorities
    val tok = docs.select(col("doc_id"),
        explode(graft.ops.Text.tokens(col("text"))).as("t"))
      .withColumn("h", Hashing.md5Int(col("t")))
    val ref = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        (0 until 16).map(j => sum(shiftrightunsigned(col("h"), j)
          .bitwiseAND(lit(1L))).as(s"c$j")): _*)
      .collect().map { r =>
        val n = r.getLong(1)
        val sig = (0 until 16).foldLeft(0L) { (acc, j) =>
          if (2 * r.getLong(2 + j) > n) acc | (1L << j) else acc
        }
        r.getLong(0) -> sig
      }.toMap
    assert(got == ref)
  }

  test("simhash handles >= 65536-token documents (row-local, no packed-counter bound)") {
    import spark.implicits._
    val df = Seq(
      (1L, Array.fill(70000)("tok").mkString(" ")),
      (2L, "tok")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "text", "doc_id", bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a unanimous corpus of one token has that token's hash as signature,
    // regardless of repetition count
    assert(sigs(1L) == sigs(2L))
  }

  test("minhash LSH finds planted near-dups with the production banding") {
    import spark.implicits._
    val base = (0L until 40L).map(i =>
      (i, (0 until 30).map(j => s"w${(i * 7 + j * 3) % 50}").mkString(" ")))
    val corpus = (base ++ base.take(8).map { case (i, t) =>
      (i + 1000, t + " tail token") }).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(corpus, "text", "doc_id", n = 3,
      bands = 21, rowsPerBand = 3, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 8L).foreach(i => assert(pairs.contains((i, i + 1000)), s"missing pair $i"))
  }

  test("decontaminate drops benchmark-overlapping docs, keeps disjoint ones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim in benchmark
      (2L, "one two three four five six seven"),   // disjoint
      (3L, "alpha beta gamma delta nine ten"))     // partial overlap (< 0.8)
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, benchmark, "text", "doc_id",
      n = 3, maxOverlap = 0.8).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // tighter threshold also drops the partial overlap (2 of 4 shingles)
    val strict = Dedup.decontaminate(corpus, benchmark, "text", "doc_id",
      n = 3, maxOverlap = 0.5).collect().map(_.getLong(0)).toSet
    assert(strict == Set(2L))
  }

  test("decontaminate at maxOverlap == 0: zero-overlap docs survive, both variants agree") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim in benchmark
      (2L, "one two three four five six seven"))   // fully disjoint
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    // threshold 0 means "any overlap at all contaminates" — it must NOT
    // read as "every doc contaminates" (0 >= n*0 holds vacuously)
    val kept = Dedup.decontaminate(corpus, benchmark, "text", "doc_id",
      n = 3, maxOverlap = 0.0).collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), s"zero-overlap doc must survive, kept=$kept")
    val keptBloom = Dedup.decontaminateBloom(corpus, benchmark, "text", "doc_id",
      n = 3, maxOverlap = 0.0).collect().map(_.getLong(0)).toSet
    assert(keptBloom == kept)
  }

  test("decontaminateMapOnly: equals the join shape (null text kept), zero exchanges, codegen") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim in benchmark
      (2L, "one two three four five six seven"),   // disjoint
      (3L, "alpha beta gamma delta nine ten"),     // partial overlap
      (4L, null.asInstanceOf[String]),             // null text: never contaminated
      (5L, ""),                                    // empty text
      // Spark's trim strips spaces only: the leading tab / trailing
      // newline is a token boundary, so 2 of these docs' 3 shingles hit
      // (0.67 < 0.8), and "\n" is the 2-token doc " " (a hit), not ""
      (6L, "\tp q r s"),
      (7L, "p q r s\n"),
      (8L, "\n"),
      (9L, null.asInstanceOf[String]))             // null text: no shingle, not ""
      .toDF("doc_id", "text")
    // the empty benchmark doc's one shingle is "": it hits doc 5, never a null text
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "p q r s"), (102L, "\n"), (103L, ""))
      .toDF("doc_id", "text")
    for (t <- Seq(0.8, 0.5, 0.0)) {
      val exact = Dedup.decontaminate(corpus, benchmark, "text", "doc_id",
        n = 3, maxOverlap = t).collect().map(_.getLong(0)).toSet
      val mapOnly = Dedup.decontaminateMapOnly(corpus, benchmark, "text",
        "doc_id", n = 3, maxOverlap = t).collect().map(_.getLong(0)).toSet
      assert(mapOnly == exact, s"t=$t: $mapOnly vs $exact")
      assert(Set(4L, 9L).subsetOf(mapOnly), "null text must survive")
    }
    // the corpus side is MAP-ONLY: no exchange anywhere, codegen stage.
    // (parquet-backed — a LocalRelation corpus constant-folds the whole
    // filter at plan time and proves nothing)
    val dir = java.nio.file.Files.createTempDirectory("graft_d15p").toString
    corpus.write.parquet(s"$dir/c")
    val plan = Dedup.decontaminateMapOnly(spark.read.parquet(s"$dir/c"),
        benchmark, "text", "doc_id", n = 3, maxOverlap = 0.8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400))
    assert(plan.contains("*("), plan.take(400))
  }

  test("shingle_hashes matches shingleHashRows' distinct hash sets per doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (2L, "x y"), (3L, ""), (4L, "  "),
      (5L, "a b c a b c a b c"), (6L, "\tp q r s"), (7L, "p q r s\n"),
      (8L, "\n"))
      .toDF("doc_id", "text")
    val viaRows = Dedup.shingleHashRows(docs, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val viaExpr = docs.select(col("doc_id"),
        call_function("shingle_hashes", col("text"), lit(3)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(viaExpr == viaRows, s"$viaExpr vs $viaRows")
    // first-occurrence order is deterministic and duplicates collapse
    val rep = docs.filter(col("doc_id") === 5L).select(
      call_function("shingle_hashes", col("text"), lit(3))).head().getSeq[Long](0)
    assert(rep.length == 3, s"9 tokens, 7 raw shingles, 3 distinct: $rep")
  }

  test("decontaminateMapOnly runs unchanged on a STREAMING DataFrame") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_st_dec").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "alpha beta gamma delta nine ten"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$dir/in")
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val stream = spark.readStream.schema(corpus.schema).parquet(s"$dir/in")
    val q = Dedup.decontaminateMapOnly(stream, benchmark, "text", "doc_id",
        n = 3, maxOverlap = 0.8)
      .writeStream.format("memory").queryName("st_decon")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT doc_id FROM st_decon")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), got.toString)
  }

  test("maxDocsPerBand: hot buckets emit star edges; keep-one dedup still collapses") {
    import spark.implicits._
    // 10 identical docs (one hot cluster) + 30 distinct docs
    val dup = (0L until 10L).map(i => (i, "same text repeated in every copy here ok"))
    val rest = (100L until 130L).map(i =>
      (i, (0 until 12).map(j => s"u${i}w$j").mkString(" ")))
    val corpus = (dup ++ rest).toDF("doc_id", "text")
    val full = Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 21, 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.count { case (a, b) => a < 10 && b < 10 } == 45, "clique without cap")
    val star = Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 21, 3, 0.7,
      maxDocsPerBand = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == (1L until 10L).map(i => (0L, i)).toSet, s"got $star")
    // connectivity preserved: canonicalize keeps exactly one of the cluster
    val kept = Dedup.canonicalize(corpus,
      Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 21, 3, 0.7,
        maxDocsPerBand = 5), "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L) ++ (100L until 130L).toSet)
  }

  test("decontaminate plans a broadcast benchmark: corpus shingles never hash-exchange") {
    import spark.implicits._
    val corpus = (0L until 50L).map(i =>
      (i, (0 until 15).map(j => s"w${(i * 3 + j) % 70}").mkString(" ")))
      .toDF("doc_id", "text")
    val benchmark = corpus.filter(col("doc_id") < 3)
    val plan = Dedup.decontaminate(corpus, benchmark, "text", "doc_id", 3, 0.8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast probe in:\n$plan")
    // exactly 3 hash exchanges, none corpus-sized beyond the one owned
    // repartition: corpus shingleHashRows repartition(id), benchmark
    // repartition(id), and the benchmark-sized distinct(__h) feeding the
    // broadcast. The hits join, the size aggregate, and the anti-join
    // all reuse the corpus exchange or ride broadcasts.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx <= 3, s"expected <= 3 hash exchanges (1 corpus-sized + " +
      s"2 benchmark-sized), found $hashEx in:\n$plan")
  }

  test("dedupParagraphs keeps first occurrence, preserves order, drops blank paras") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique one\n\nSHARED FOOTER\n\nunique two"),
      (2L, "other text\n\nSHARED FOOTER"),           // footer deduped away
      (3L, "SHARED FOOTER"),                          // nothing left -> doc vanishes
      (4L, "solo\n\n\n\nafter blanks"))               // blank paras dropped, order kept
      .toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique one\n\nSHARED FOOTER\n\nunique two")
    assert(out(2L) == "other text")
    assert(!out.contains(3L), "a doc of only deduped paragraphs disappears")
    assert(out(4L) == "solo\n\nafter blanks")
  }

  test("dedupParagraphs plan is join-free: two aggregates, no self-join") {
    import spark.implicits._
    val docs = Seq((1L, "a\n\nb"), (2L, "b\n\nc")).toDF("doc_id", "text")
    val plan = Dedup.dedupParagraphs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"dedupParagraphs must be the min-struct aggregate shape (no corpus-sized join back):\n$plan")
  }

  test("simhashPairs: combination banding (3-of-6) finds the same pairs as 1-of-4") {
    import spark.implicits._
    val rng = new scala.util.Random(9)
    // templated docs: shared prefix + per-doc tail, plus near-identical twins
    val docs = ((0L until 120L).map { i =>
      (i, "the quick brown template prefix " +
        (0 until 10).map(j => s"w${rng.nextInt(50)}").mkString(" "))
    } ++ (0L until 30L).map { i =>
      (i + 1000, null.asInstanceOf[String]) // placeholder replaced below
    }).toMap
    val base = (0L until 120L).map(i => (i, docs(i)))
    val twins = (0L until 30L).map(i => (i + 1000, docs(i) + " zz"))
    val corpus = (base ++ twins).toDF("doc_id", "text")
    def pairs(bpk: Int) =
      Dedup.simhashPairs(corpus, "text", "doc_id", bits = 48, maxDist = 3,
        blocksPerKey = bpk)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // pigeonhole completeness: both banding schemes find EVERY pair
    // within the distance, so the outputs are identical
    assert(pairs(3) == pairs(1))
  }

  test("cosinePairsAuto: planted identical dups all found; output subset of brute force") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    val base = (0L until 300L).map(i => (i, Array.fill(16)(rng.nextGaussian())))
    val corpus = (base ++ base.take(20).map { case (i, v) => (i + 1000, v) })
      .toDF("vec_id", "embedding")
    val auto = Dedup.cosinePairsAuto(corpus, "embedding", "vec_id",
      threshold = 0.99, targetBucket = 16, tables = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.cosinePairs(corpus, "embedding", "vec_id",
      threshold = 0.99, lshPlanes = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors share every sketch -> all 20 planted pairs found
    (0L until 20L).foreach(i => assert(auto.contains((i, i + 1000)), s"missing $i"))
    assert(auto.subsetOf(brute), "exact verify must keep LSH output inside brute force")
  }

  test("normalizedDedup: Unicode text keeps its letters; empty keys never collapse") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Привет, мир!"),        // Cyrillic — normalizes to "привет мир"
      (2L, "привет  мир"),         // same normalized key -> collapses into 1
      (3L, "你好世界"),              // CJK — its own key, survives
      (4L, "!!!"),                 // empty normalized key
      (5L, "???"),                 // empty normalized key — must NOT merge with 4
      (6L, "🎉🎉"))                 // emoji-only — empty key, survives
      .toDF("doc_id", "text")
    val out = Dedup.normalizedDedup(docs, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L, 4L, 5L, 6L),
      s"expected the Cyrillic pair to collapse and every empty-key row to survive, got $out")
  }

  test("sourceOverlap: hand-checked pair Jaccard; disjoint pairs omitted") {
    import spark.implicits._
    // src a: shingles {1 2 3, 2 3 4} (from "1 2 3 4"); src b shares
    // exactly {2 3 4} of its {2 3 4, 3 4 5}; src c is disjoint
    val docs = Seq(
      (1L, "1 2 3 4", "a"),
      (2L, "2 3 4 5", "b"),
      (3L, "x y z", "c")).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs, "text", "source", n = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("a", "b")) == ((1L, math.round(1.0 / 3 * 1e6) / 1e6)))
    assert(!out.contains(("a", "c")) && !out.contains(("b", "c")),
      "zero-overlap pairs are omitted")
  }

  test("removeBoilerplateLines drops high-df lines everywhere, keeps rare ones, no windows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique a\nCOOKIE BANNER\nunique b"),
      (2L, "other\nCOOKIE BANNER\n  COOKIE BANNER  "), // trim-keyed: both hit
      (3L, "COOKIE BANNER"),                           // nothing left -> doc vanishes
      (4L, "solo\nCOOKIE BANNER\n\nafter blank"),      // blank line dropped, order kept
      (5L, "pair line\nunique c"),
      (6L, "pair line\nunique d"))                     // df=2 <= 2: pair line survives
      .toDF("doc_id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "text", "doc_id", maxDocs = 2)
    val m = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "unique a\nunique b")
    assert(m(2L) == "other")
    assert(!m.contains(3L), "a doc of only boilerplate disappears")
    assert(m(4L) == "solo\nafter blank")
    assert(m(5L) == "pair line\nunique c" && m(6L) == "pair line\nunique d")
    // contract vs dedupParagraphs: NO copy of the frequent line survives
    assert(!m.values.exists(_.contains("COOKIE BANNER")))
    // scale shape: no window operator anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }

  test("contaminationReport attributes overlap per suite") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val a = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val b = Seq((200L, "one two three nine ten eleven twelve")).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, Map("A" -> a, "B" -> b),
      "text", "doc_id", n = 3, minOverlap = 0.2)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rep((1L, "A")) == 1.0)
    assert(rep((2L, "B")) == 0.2) // 'one two three' = 1 of doc 2's 5 shingles
    assert(!rep.contains((1L, "B")) && !rep.contains((2L, "A")))
  }

  test("decontaminateBloom equals decontaminate (bloom is a prune, not a semantic)") {
    import spark.implicits._
    // 40 docs sharing vocab so the tiny bloom (high fp rate at
    // expectedShingles=10) must NOT change the result — false positives
    // only add rows to the exact verify join
    val corpus = (0L until 40L).map(i =>
      (i, (0 until 12).map(j => s"w${(i * 7 + j) % 60}").mkString(" ")))
      .toDF("doc_id", "text")
    val benchmark = corpus.filter(col("doc_id") < 5)
      .select((col("doc_id") + 900).as("doc_id"), col("text"))
    for (ov <- Seq(0.5, 0.8); items <- Seq(10L, 100000L)) {
      val exact = Dedup.decontaminate(corpus, benchmark, "text", "doc_id", 3, ov)
        .collect().map(_.getLong(0)).toSet
      val bloom = Dedup.decontaminateBloom(corpus, benchmark, "text", "doc_id",
        3, ov, expectedShingles = items).collect().map(_.getLong(0)).toSet
      assert(bloom == exact, s"mismatch at maxOverlap=$ov items=$items")
    }
    // empty benchmark: bloom aggregate yields null -> corpus unchanged
    val none = Dedup.decontaminateBloom(corpus, corpus.filter(lit(false)),
      "text", "doc_id", 3, 0.8).count()
    assert(none == 40L)
  }

  test("bloom_agg / bloom_might_contain are SQL-callable and codegen the probe") {
    // build the filter with bloom_agg, probe with the literal form the
    // decontaminateBloom hot path uses (the probe expression requires a
    // constant filter by contract)
    val bytes = spark.sql(
      """SELECT bloom_agg(h, 100L, 1000L) AS bf
         FROM (SELECT xxhash64(col) AS h FROM VALUES ('a'),('b') AS t(col))""")
      .head().getAs[Array[Byte]](0)
    val probed = spark.sql("SELECT xxhash64('a') AS h UNION ALL SELECT xxhash64('zzz')")
      .select(call_function("bloom_might_contain", lit(bytes), col("h")).as("hit"))
    assert(probed.collect().map(_.getBoolean(0)).toSeq == Seq(true, false))
  }

  test("bloom_might_contain probe runs INSIDE whole-stage codegen (no fallback)") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    (0L until 50L).foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val probe = spark.range(100).select(col("id"),
      call_function("bloom_might_contain", lit(bos.toByteArray), col("id")).as("hit"))
    // the starred prefix marks operators compiled into a WholeStageCodegen
    // stage — Spark's own BloomFilterMightContain fails janino compilation
    // on a literal filter and silently drops to the interpreter here
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    val rows = probe.collect()
    (0 until 50).foreach(i => assert(rows(i).getBoolean(1), s"inserted key $i missed"))
    // no false negatives by construction; most non-members must miss
    assert(rows.drop(50).count(!_.getBoolean(1)) > 30)
  }

  test("semdedupPairs: exact dups always found; high recall vs brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0L until 60L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
    // plant exact dups of vectors 0..9 under ids +100
    val corpus = (base ++ (0L until 10L).map(i => (i + 100L, base(i.toInt)._2)))
      .toDF("vec_id", "embedding")
    val sem = Dedup.semdedupPairs(corpus, "embedding", "vec_id",
      threshold = 0.999, nClusters = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 10L).foreach(i =>
      assert(sem.contains((i, i + 100L)), s"exact dup ($i,${i + 100}) missed"))
    // every reported pair is genuinely above threshold (exact verify):
    // compare against the brute-force generator
    val brute = Dedup.cosinePairs(corpus, "embedding", "vec_id", threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(brute), s"false positives: ${sem -- brute}")
  }

  test("cutSpans removes exactly the listed spans; span-free docs pass through") {
    import spark.implicits._
    val shared = (1 to 6).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared b1 b2 b3"),
      (2L, s"$shared c1 c2 c3 c4 c5 c6"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"))
      .toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "text", "doc_id", minTokens = 6)
    val cut = Dedup.cutSpans(docs, spans, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(1L) == "a1 a2 a3 b1 b2 b3")
    assert(cut(2L) == "c1 c2 c3 c4 c5 c6")
    assert(cut(3L) == "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10") // untouched
    // a doc that is ALL duplicated text vanishes
    val twins = Seq((7L, shared), (8L, shared)).toDF("doc_id", "text")
    val gone = Dedup.cutSpans(twins,
      Dedup.dupSpans(twins, "text", "doc_id", 6), "text", "doc_id").count()
    assert(gone == 0)
  }

  test("dupSpans finds repeated spans, merges overlaps, skips short docs") {
    import spark.implicits._
    val shared = (1 to 6).map(i => s"s$i").mkString(" ") // 6-token repeated block
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared b1 b2 b3"),     // span at pos 3..8
      (2L, s"$shared c1 c2 c3 c4 c5 c6"),     // span at pos 0..5
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"), // unique: no spans
      (4L, "x1 x2 x3"))                        // shorter than n: no shingles
      .toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "text", "doc_id", minTokens = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(spans == Set((1L, 3, 8), (2L, 0, 5)), s"got $spans")
    // within-doc repetition also counts (the block appears twice in ONE doc)
    val self = Seq((9L, s"$shared q1 q2 $shared")).toDF("doc_id", "text")
    val selfSpans = Dedup.dupSpans(self, "text", "doc_id", 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // hits at pos 0 and 8: gap 8 > 6, so the two occurrences stay separate
    assert(selfSpans == Set((9L, 0, 5), (9L, 8, 13)), s"got $selfSpans")
    // stats: doc 1 has 6 of 12 tokens duplicated; doc 3 none
    val stats = Dedup.dupSpanStats(docs, "text", "doc_id", 6)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(stats(1L) == ((6L, 0.5)), s"got ${stats(1L)}")
    assert(stats(3L)._1 == 0L && stats(4L)._1 == 0L)
  }

  test("redactPii scrubs emails, IPs, and phones but not plain text") {
    import spark.implicits._
    val out = Seq(
      "mail me at a.b+c@test-site.org today",
      "server 192.168.1.100 and backup 10.0.0.7",
      "call 555-123-4567 or 555 987 6543",
      "version 1.2 costs 12.50 dollars")
      .toDF("t").select(Text.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "server <IP> and backup <IP>")
    assert(out(2) == "call <PHONE> or <PHONE>")
    assert(out(3) == "version 1.2 costs 12.50 dollars") // untouched
  }

  test("piiStats counts match what redactPii rewrites") {
    import spark.implicits._
    val df = Seq("a@b.co and c@d.org at 10.0.0.1 call 555-123-4567",
      "no pii here 1.2 costs 12.50").toDF("t")
    val out = df.select(Text.piiStats(col("t")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    assert(out(0) == ((2, 1, 1)), s"got ${out(0)}")
    assert(out(1) == ((0, 0, 0)))
  }

  test("components: chains resolve transitively to the min id; canonicalize keeps one per cluster") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, NOT all directly linked), pair 10-11,
    // singleton 20 (no pairs — absent from components, kept by canonicalize)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val df = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val kept = Dedup.canonicalize(df, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L))
  }

  test("components: a chain far deeper than the round budget converges via pointer doubling") {
    import spark.implicits._
    // diameter-300 chain: plain min-propagation would need 300 rounds and
    // previously returned WRONG labels silently at maxIter=20 (r3 ADVICE);
    // doubling needs ~log2(300) ~ 9 rounds
    // localEdgeBudget = 0 forces the distributed loop (the default would
    // take the single-task union-find fast path at this size)
    val pairs = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs, localEdgeBudget = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comp.length == 301)
    assert(comp.forall(_._2 == 0L), s"unconverged labels: ${comp.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("components: single-task fast path and distributed loop agree; string ids work") {
    import spark.implicits._
    // mixed shapes: a chain, a triangle + duplicate/reversed edges, a pair
    val edges = Seq((5L, 6L), (6L, 7L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 1L), (9L, 8L)).toDF("id_a", "id_b")
    val local = Dedup.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.components(edges, localEdgeBudget = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 5L, 8L -> 8L, 9L -> 8L))
    // generic id type: comp = min(id) under SQL string ordering
    // (UTF-8 byte order: "\uff61" < "\ud83d\ude00", the reverse of UTF-16)
    val s = Seq(("b", "c"), ("c", "a"), ("x", "y"), ("\ud83d\ude00", "\uff61"))
      .toDF("id_a", "id_b")
    val sc = Dedup.components(s)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sc == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x",
      "\uff61" -> "\uff61", "\ud83d\ude00" -> "\uff61"))
    assert(Dedup.components(s, localEdgeBudget = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap == sc)
  }

  test("dedup leaves no persisted RDDs behind across back-to-back corpus runs") {
    import spark.implicits._
    val corpus = (0L until 60L).map(i =>
      (i, (0 until 20).map(j => s"w${(i * 5 + j) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
    // snapshot-based: other suites (and components' GC-managed
    // localCheckpoints) may hold entries; the pair generators themselves
    // must add NOTHING
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 21, 3, 0.7).count()
    Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.7).count()
    Dedup.minhashLshPairs(corpus, "text", "doc_id", 3, 21, 3, 0.7).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"pair generators leaked ${added.size} persistent RDDs")
  }

  test("jaccard pair-gen: fused small-input shape == window+ppjoin shape, " +
    "and the capped probe dispatches by occurrence count (r13 VERDICT #2)") {
    import spark.implicits._
    // planted structure: 30 base docs, near-dup copies of 10 of them
    // (one token appended), one exact dup, hot shared boilerplate
    val base = (0L until 30L).map(i =>
      (i, (0 until 15).map(j => s"w${(i * 7 + j * 3) % 60}").mkString(" ")))
    val nears = (0L until 10L).map(i => (100L + i, base(i.toInt)._2 + " zz"))
    val corpus = (base ++ nears :+ (200L, base(5)._2))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleHashRows(corpus, "text", "doc_id", 3)
      .withColumnRenamed("__h", "sh")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val fused = canon(Dedup.jaccardPairsFused(
      sh.repartition(col("id")), 0.6, 1000))
    val windowed = canon(Dedup.jaccardPairsFromShingles(
      sh.repartition(col("id")), 0.6, 1000))
    assert(fused.nonEmpty, "fixture planted no pairs")
    assert(fused == windowed)
    // the public entry agrees with both
    assert(canon(Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 3, 0.6)) == fused)
    // capped probe: exact under the limit, None over it (and None when
    // a single partition would exceed its share — conservative)
    val n = sh.count()
    assert(Dedup.cappedCount(sh, n + 10).contains(n))
    assert(Dedup.cappedCount(sh, n - 1).isEmpty)
    val big = spark.range(200000).toDF("x")
    assert(Dedup.cappedCount(big, 100000L).isEmpty)
    assert(Dedup.cappedCount(big, 300000L).contains(200000L))
  }

  test("keepBest: max-score wins per cluster, ties to lowest id, untouched pass") {
    import spark.implicits._
    val df = Seq(
      (1L, "short", 5L), (2L, "the longest copy", 16L), (3L, "midlen doc", 10L),
      (4L, "tied", 4L), (5L, "tied", 4L), // equal scores -> lowest id
      (9L, "untouched", 9L)).toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBest(df, pairs, "doc_id", col("score"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L, 9L))
  }
}
