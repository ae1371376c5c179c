package graft.streaming

import graft.SparkSpec
import graft.core.Tables

class StreamingSpec extends SparkSpec {

  /** File stream sources need a DIRECTORY; stage the events table (with
    * the nanos->micros ts conversion applied) as parquet once. */
  private lazy val eventsDir: String = {
    val d = tempDir("events_stream")
    Tables.events(spark, sf).write.mode("overwrite").parquet(d)
    d
  }

  test("tumbling counts: real file stream equals batch result") {
    val batchDf = Tables.events(spark, sf)
    val schema = batchDf.schema
    val expected = Streams.tumblingCounts(batchDf)
      .collect().map(_.toString).sorted

    val q = Streams.runFileStream(spark, eventsDir, schema,
      Streams.tumblingCounts(_), "tumbling_sink")
    q.awaitTermination(120000)
    val got = spark.table("tumbling_sink").collect().map(_.toString).sorted
    assert(got.sameElements(expected),
      s"stream rows ${got.length} vs batch ${expected.length}")
  }

  test("gopher rule gate is stateless: real document stream equals batch") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = tempDir("gopher_stream")
    docs.write.mode("overwrite").parquet(dir)
    val expected = docs
      .select(col("doc_id"), graft.ops.Text.gopherRules(col("text")).as("g"))
      .select("doc_id", "g.*").collect().map(_.toString).sorted
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = stream
      .select(col("doc_id"), graft.ops.Text.gopherRules(col("text")).as("g"))
      .select("doc_id", "g.*")
      .writeStream.format("memory").queryName("gopher_sink")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("gopher_sink").collect().map(_.toString).sorted
    assert(got.sameElements(expected), "streamed gopher panel must equal batch")
  }

  test("web map-only stretch is stateless: html/script/url chain streams") {
    import org.apache.spark.sql.functions._
    // the t46/t51/t45 stretch — html extraction, script counts, URL
    // canonicalization — on a REAL readStream: zero state, zero
    // shuffles, stream equals batch row for row
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val dir = tempDir("web_stream")
    docs.write.mode("overwrite").parquet(dir)
    def chain(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      graft.ops.Text.htmlToText(
        concat(lit("<p>"), col("text"), lit("</p><script>x</script>")))
        .as("extracted"),
      graft.ops.Text.dominantScript(col("text")).as("script"),
      graft.ops.Urls.canonicalizeUrl(
        concat(lit("HTTP://H"), col("doc_id"), lit(".COM:80/x#f"))).as("curl"))
    val expected = chain(docs).collect().map(_.toString).sorted
    val q = chain(spark.readStream.schema(docs.schema).parquet(dir))
      .writeStream.format("memory").queryName("web_sink")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("web_sink").collect().map(_.toString).sorted
    assert(got.sameElements(expected), "streamed web chain must equal batch")
  }

  test("native sketches aggregate on a real stream (complete mode) == batch") {
    import org.apache.spark.sql.functions._
    // the custom TypedImperativeAggregates (hll_distinct, kmv_minhashes)
    // run inside Structured Streaming's stateful aggregation unchanged:
    // register/bottom-k states merge across micro-batches exactly like
    // map-side partials, so the final estimate equals the batch run
    val docs = Tables.documents(spark, sf).select("source", "text")
    val dir = tempDir("sketch_stream")
    docs.write.mode("overwrite").parquet(dir)
    def sketch(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Lexicon.tokenRows(df, "text", "source")
        .groupBy("id")
        .agg(call_function("hll_distinct", col("term"), lit(9)).as("est"),
          call_function("kmv_minhashes", col("term"), lit(64)).as("mins"))
    val expected = sketch(docs).collect()
      .map(r => (r.getString(0), r.getDouble(1),
        r.getSeq[Long](2).mkString(","))).sorted
    val q = sketch(spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(dir))
      .writeStream.format("memory").queryName("sketch_sink")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sketch_sink").collect()
      .map(r => (r.getString(0), r.getDouble(1),
        r.getSeq[Long](2).mkString(","))).sorted
    assert(got.sameElements(expected),
      "streamed sketch states must merge to the batch result bit for bit")
  }

  test("session windows: real file stream equals batch result") {
    val batchDf = Tables.events(spark, sf)
    val expected = Streams.userSessions(batchDf).collect().map(_.toString).sorted
    val q = Streams.runFileStream(spark, eventsDir, batchDf.schema,
      Streams.userSessions(_), "session_sink")
    q.awaitTermination(120000)
    val got = spark.table("session_sink").collect().map(_.toString).sorted
    assert(got.sameElements(expected),
      s"stream rows ${got.length} vs batch ${expected.length}")
  }

  test("stream-static enrichment: real file stream x broadcast dim equals batch") {
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sf)
    val dim = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
    def enrich(df: org.apache.spark.sql.DataFrame) =
      Streams.enrichJoin(df, dim, "user_id", "c_custkey")
        .groupBy("event_type", "c_mktsegment").agg(count(lit(1)).as("n"))
    val expected = enrich(batch).collect().map(_.toString).sorted
    val q = Streams.runFileStream(spark, eventsDir, batch.schema,
      enrich, "enrich_sink")
    q.awaitTermination(120000)
    val got = spark.table("enrich_sink").collect().map(_.toString).sorted
    assert(got.sameElements(expected),
      s"stream rows ${got.length} vs batch ${expected.length}")
  }

  test("interval join: real stream-stream join equals the batch gap-bucket join") {
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sf)
    def views(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "view").select("event_id", "user_id", "ts")
    def buys(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    val expected = Streams.intervalJoin(views(batch), buys(batch),
        "user_id", "ts", gapSec = 3600)
      .select("l_event_id", "r_event_id").collect().map(_.toString).sorted
    assert(expected.nonEmpty, "fixture produced no within-1h pairs")
    val q = Streams.runFileStream(spark, eventsDir, batch.schema,
      df => Streams.intervalJoin(views(df), buys(df), "user_id", "ts",
          gapSec = 3600)
        .select("l_event_id", "r_event_id"),
      "ij_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(120000)
    val got = spark.table("ij_sink").collect().map(_.toString).sorted
    assert(got.sameElements(expected),
      s"stream pairs ${got.length} vs batch ${expected.length}")
  }

  test("streaming dedup: planted duplicate event_ids dropped within the watermark") {
    import org.apache.spark.sql.functions._
    val base = Tables.events(spark, sf).limit(2000)
    val doubled = base.unionByName(base) // every event twice
    val dir = tempDir("events_dup")
    doubled.write.mode("overwrite").parquet(dir)
    val distinctIds = base.select("event_id").distinct().count()
    val q = Streams.runFileStream(spark, dir, doubled.schema,
      Streams.dedupByKey(_, Seq("event_id")), "dedup_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(120000)
    val got = spark.table("dedup_sink")
    assert(got.count() == distinctIds,
      s"stream kept ${got.count()} rows, want $distinctIds")
    assert(got.groupBy("event_id").count().filter(col("count") > 1).count() == 0)
    // batch path of the same call site agrees on the kept key set
    assert(Streams.dedupByKey(doubled, Seq("event_id")).count() == distinctIds)
  }

  test("windowHotKeys: chained stateful aggregations on a real append " +
    "stream equal batch on every watermark-finalized window") {
    val batch = Streams.windowHotKeys(Tables.events(spark, sf), "user_id",
      minEvents = 20)
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    val q = Streams.runFileStream(spark, eventsDir,
      Tables.events(spark, sf).schema,
      Streams.windowHotKeys(_, "user_id", minEvents = 20), "hotkeys_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(180000)
    val got = spark.table("hotkeys_sink")
      .collect().map(r => r.getTimestamp(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got.nonEmpty, "no finalized windows emitted")
    got.foreach { case (w, v) =>
      assert(batch.get(w).contains(v), s"window $w: stream $v vs ${batch.get(w)}")
    }
    val horizon = got.keys.max
    val missing = batch.keys.filter(w => w.before(horizon))
      .filterNot(got.contains)
    assert(missing.isEmpty, s"finalized windows missing: $missing")
  }

  test("windowQuantiles: sketch contract holds on a real append stream " +
    "(estimates may differ from batch; n and the bound never)") {
    import org.apache.spark.sql.functions._
    // exact per-window sorted values, computed in batch: the ground
    // truth the STREAM's (order-dependent) estimates are audited
    // against — equality with batch estimates is NOT the contract,
    // the self-reported rank-error bound is
    val probs = Seq(0.5, 0.95)
    val exact = Tables.events(spark, sf).filter(col("value").isNotNull)
      .select(date_trunc("hour", col("ts")).as("w"),
        col("value").cast("double").as("x"))
      .collect().groupBy(_.getTimestamp(0))
      .map { case (w, rs) => w -> rs.map(_.getDouble(1)).sorted }
    val q = Streams.runFileStream(spark, eventsDir,
      Tables.events(spark, sf).schema,
      Streams.windowQuantiles(_, "value", probs, k = 16),
      "wq_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(180000)
    val got = spark.table("wq_sink").collect()
    assert(got.nonEmpty, "no finalized windows emitted")
    got.foreach { r =>
      val (w, n, err, p, est) = (r.getTimestamp(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4))
      val sorted = exact(w)
      assert(n == sorted.length.toLong, s"window $w: stream n=$n")
      val rk = math.max(1L, math.ceil(p * n).toLong)
      val lt = sorted.count(_ < est).toLong
      val le = sorted.count(_ <= est).toLong
      assert(lt + 1 <= rk + err && le >= rk - err,
        s"window $w p=$p est=$est err=$err violates the rank bound")
    }
  }

  test("windowQuantiles as a plain append-mode file stream equals batch " +
    "on every finalized window") {
    // no per-call switch: the transform sets its own watermark, which
    // append-mode streaming aggregation requires. sf0.001 windows hold
    // <= 6 events, below the sketch's k, so the estimates are exact
    val events = Tables.events(spark, sf)
    val batch = Streams.windowQuantiles(events).collect()
    val q = Streams.runFileStream(spark, eventsDir, events.schema,
      Streams.windowQuantiles(_), "wq_plain_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(180000)
    val got = spark.table("wq_plain_sink").collect()
    assert(got.nonEmpty, "no finalized windows emitted")
    val horizon = got.map(_.getTimestamp(0)).maxBy(_.getTime)
    val want = batch.filterNot(_.getTimestamp(0).after(horizon))
    assert(got.map(_.toString).sorted.sameElements(want.map(_.toString).sorted),
      s"stream ${got.length} rows vs batch ${want.length} up to $horizon")
  }

  test("windowBootstrapCi: chained weighted-sketch CI streams in append " +
    "mode; b_eff matches batch, constant column is exact on a real stream") {
    import org.apache.spark.sql.functions._
    val batch = Streams.windowBootstrapCi(Tables.events(spark, sf), b = 20,
        k = 16)
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val q = Streams.runFileStream(spark, eventsDir,
      Tables.events(spark, sf).schema,
      Streams.windowBootstrapCi(_, b = 20, k = 16),
      "wbci_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(180000)
    val got = spark.table("wbci_sink").collect()
    assert(got.nonEmpty, "no finalized windows emitted")
    got.foreach { r =>
      val (w, beff, lo, hi) = (r.getTimestamp(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))
      assert(batch.get(w).contains(beff), s"window $w b_eff $beff")
      assert(lo <= hi, s"window $w inverted CI [$lo, $hi]")
    }
    // degenerate exactness on a REAL stream: a constant value column
    // collapses every replicate median — and so the CI — to the
    // constant, independent of arrival order (the one bit-level
    // assertion an order-dependent sketch can make)
    val const = Tables.events(spark, sf).withColumn("value", lit(7.25))
    val dir2 = tempDir("wbci_const")
    const.write.mode("overwrite").parquet(dir2)
    val q2 = Streams.runFileStream(spark, dir2, const.schema,
      Streams.windowBootstrapCi(_, b = 20, k = 16),
      "wbci_const_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q2.awaitTermination(180000)
    val gc = spark.table("wbci_const_sink").collect()
    assert(gc.nonEmpty, "no finalized constant windows emitted")
    gc.foreach { r =>
      assert(r.getDouble(2) == 7.25 && r.getDouble(3) == 7.25,
        s"constant stream CI not exact: $r")
    }
  }

  test("windowQuantiles: sketch state survives a stream RESTART via the " +
    "state store (serialize/deserialize), windows emit exactly once") {
    import org.apache.spark.sql.functions._
    // split events BY TIME: days 1-14 arrive before the "crash", the
    // rest after — the restarted query must resume open-window sketch
    // buffers from the checkpoint, not from reprocessed input
    val ev = Tables.events(spark, sf)
    val root = tempDir("wq_restart")
    val (srcDir, outDir, cpDir) = (s"$root/src", s"$root/out", s"$root/cp")
    new java.io.File(srcDir).mkdirs()
    val cut = "2024-01-15"
    ev.filter(col("ts") < lit(cut)).coalesce(1)
      .write.parquet(s"$srcDir/_f1")
    def promote(name: String): Unit = {
      val part = new java.io.File(s"$srcDir/_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(srcDir, s"$name.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$srcDir/_$name"))
    }
    promote("f1")
    def runOnce(): Unit = {
      val q = Streams.windowQuantiles(
        spark.readStream.schema(ev.schema).parquet(srcDir),
        "value", Seq(0.5, 0.95), k = 16)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cpDir)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000)
    }
    runOnce()
    val phase1 = spark.read.parquet(outDir).count()
    assert(phase1 > 0, "no windows finalized before the restart")
    ev.filter(col("ts") >= lit(cut)).coalesce(1)
      .write.parquet(s"$srcDir/_f2")
    promote("f2")
    runOnce()
    val got = spark.read.parquet(outDir).collect()
    assert(got.length > phase1, "restart emitted no new windows")
    // exactly-once: every (window, percentile) appears once
    val keys = got.map(r => (r.getTimestamp(0), r.getDouble(3)))
    assert(keys.distinct.length == keys.length,
      "a window emitted twice across the restart")
    // windows straddling the crash: n must equal the BATCH count (the
    // resumed sketch buffer continued from its checkpointed state) and
    // the estimate must satisfy the rank contract vs batch-exact values
    val exact = ev.filter(col("value").isNotNull)
      .select(date_trunc("hour", col("ts")).as("w"),
        col("value").cast("double").as("x"))
      .collect().groupBy(_.getTimestamp(0))
      .map { case (w, rs) => w -> rs.map(_.getDouble(1)).sorted }
    got.foreach { r =>
      val (w, n, err, p, est) = (r.getTimestamp(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4))
      val sorted = exact(w)
      assert(n == sorted.length.toLong,
        s"window $w: n=$n vs batch ${sorted.length} — state lost or replayed")
      val rk = math.max(1L, math.ceil(p * n).toLong)
      val lt = sorted.count(_ < est).toLong
      val le = sorted.count(_ <= est).toLong
      assert(lt + 1 <= rk + err && le >= rk - err,
        s"window $w p=$p est=$est err=$err violates the rank bound after restart")
    }
  }

  test("windowDrift: chained stateful aggregations on a real append stream " +
    "equal batch on every watermark-finalized window") {
    import org.apache.spark.sql.functions._
    val ref = (col("band").cast("double") + lit(1.0)) / lit(55.0)
    val batch = Streams.windowDrift(Tables.events(spark, sf), ref)
      .collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val q = Streams.runFileStream(spark, eventsDir,
      Tables.events(spark, sf).schema,
      Streams.windowDrift(_, ref), "drift_sink",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(180000)
    val got = spark.table("drift_sink")
      .collect().map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // append mode emits a window only once the watermark passes it; the
    // final ~3h of event time stays in state at AvailableNow end-of-input
    assert(got.nonEmpty, "no finalized windows emitted")
    got.foreach { case (w, v) =>
      assert(batch.get(w).contains(v), s"window $w: stream $v vs ${batch.get(w)}")
    }
    // everything except the un-finalized tail must have emitted
    val horizon = got.keys.max
    val missing = batch.keys.filter(w => w.before(horizon)) .filterNot(got.contains)
    assert(missing.isEmpty, s"finalized windows missing from the stream: $missing")
  }
}
