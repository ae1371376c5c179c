package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DsirSpec extends SparkSpec {

  test("featureRows: unigrams + bigrams, buckets in range, empty docs absent") {
    import spark.implicits._
    val df = Seq((1L, "A b c"), (2L, "x"), (3L, "   ")).toDF("doc_id", "text")
    val rows = Dsir.featureRows(df, "text", "doc_id", buckets = 64).collect()
    // doc 1: 3 unigrams + 2 bigrams; doc 2: 1 unigram; doc 3: nothing
    assert(rows.count(_.getLong(0) == 1L) == 5)
    assert(rows.count(_.getLong(0) == 2L) == 1)
    assert(rows.count(_.getLong(0) == 3L) == 0)
    assert(rows.forall { r => val b = r.getLong(1); b >= 0 && b < 64 })
  }

  test("importanceWeights: in-domain doc outranks off-domain; empty absent") {
    import spark.implicits._
    val target = Seq((100L, "spark engine spark engine shuffle"),
      (101L, "spark shuffle partition engine")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "spark engine shuffle partition"), // shares target's n-grams
      (2L, "banana apple fruit salad bowl"),  // disjoint vocabulary
      (3L, "")).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.keySet == Set(1L, 2L)) // empty doc has no features
    assert(w(1L) > w(2L))
    // disjoint-vocab doc: every cell it touches has target count 0, so
    // each term contributes ln(1/(T+B)) - ln((rc+1)/(R+B)) < 0 for any
    // corpus where raw cells hold >= 1 and T < R + cell gap — here just
    // pin the sign, the oracle pins the values
    assert(w(2L) < 0.0)
  }

  test("scoreMapOnly: zero-exchange plan; agrees with the aggregate path; real stream") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val raw = docs.filter(col("source") =!= "src0").select("doc_id", "text")
    val tgt = docs.filter(col("source") === "src0").select("doc_id", "text")
    val table = Dsir.logRatioTable(raw, tgt, "text", "doc_id")
    assert(table.length == 512)
    val mapOnly = Dsir.scoreMapOnly(raw, "text", "doc_id", table)
    assert(!mapOnly.queryExecution.executedPlan.toString.contains("Exchange"),
      "map-only scoring must not shuffle")
    val agg = Dsir.importanceWeights(raw, tgt, "text", "doc_id")
      .select(col("doc_id"), col("logw"))
    val joined = mapOnly.join(agg, "doc_id")
      .select(abs(col("logw_raw") - col("logw")).as("d")).agg(max("d")).head()
    assert(joined.getDouble(0) < 1e-6, s"paths disagree by ${joined.getDouble(0)}")
    // the same expression scores an unbounded stream — stateless
    val dir = java.nio.file.Files.createTempDirectory("dsir_stream").toString
    raw.limit(20).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(raw.schema).parquet(s"$dir/in")
    val q = Dsir.scoreMapOnly(stream, "text", "doc_id", table)
      .writeStream.format("memory").queryName("st_dsir")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql("SELECT doc_id, logw_raw FROM st_dsir")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Dsir.scoreMapOnly(raw.limit(20), "text", "doc_id", table)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch, "stream and batch scores must be bit-identical")
  }

  test("scoreMapOnly tokenizes as featureRows: tab and newline edges, inner tabs") {
    import spark.implicits._
    val target = Seq((100L, "alpha beta gamma"), (101L, "beta\tgamma delta"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "\tAlpha beta gamma\n"),
      (2L, "\t\tbeta\tgamma"),
      (3L, "delta alpha\n\n"),
      (4L, "  beta gamma  ")).toDF("doc_id", "text")
    val table = Dsir.logRatioTable(raw, target, "text", "doc_id")
    val mapOnly = Dsir.scoreMapOnly(raw, "text", "doc_id", table)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val agg = Dsir.importanceWeights(raw, target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(mapOnly.keySet == agg.keySet)
    for ((id, w) <- agg)
      assert(math.abs(mapOnly(id) - w) < 1e-6, s"doc $id: ${mapOnly(id)} vs $w")
  }

  test("selectTopK: deterministic k rows, descending rounded weights") {
    import spark.implicits._
    val target = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val raw = (1L to 20L).map(i =>
      (i, if (i % 2 == 0) "alpha beta gamma" else "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val top = Dsir.selectTopK(raw, target, "text", "doc_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(top.length == 10)
    // identical even docs all tie at the top weight; ties break on id,
    // so the selection is exactly the 10 even ids
    assert(top.map(_._1).toSeq == (2L to 20L by 2).toSeq)
    assert(top.map(_._2).toSeq == top.map(_._2).sorted.reverse.toSeq)
  }
}
