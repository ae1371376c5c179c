package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Sustained streaming throughput + state-size headline (r12 VERDICT
  * task #2, carried from r11 #5): st1-st16 are correctness-proved but
  * no events/s, per-window state bytes, or micro-batch latency number
  * existed anywhere. This drives the three production pipelines with a
  * REAL bounded-rate multi-batch file stream (maxFilesPerTrigger=1,
  * files ordered by mod time = arrival order) and reads the numbers
  * from Spark's own StreamingQueryProgress:
  *
  *   - st16 windowBootstrapCi (watermark+append, TWO chained stateful
  *     aggregations): events/s sustained, per-trigger latency, and the
  *     state-store rows/bytes curve — the measured form of the
  *     "watermark-bounded state" claim (state must plateau at
  *     ~(open windows x B replicate sketches), not grow with history);
  *   - st15 windowQuantiles (one stateful agg): same readout;
  *   - st7 IngestDedup (foreachBatch vs persisted LSH index): docs/s +
  *     MB/s sustained and the on-disk index growth per batch (the
  *     state is the index, not the state store);
  *   - st11 CorpusPipeline (4-stage foreachBatch): docs/s + MB/s.
  *
  * It does not run through [[Profile.record]]: that ledger counts the
  * jobs of the caller's job group, and in spark-sql 4.1.2
  * `StreamExecution.runStream` calls `SparkContext.setJobGroup` with the
  * stream's run id on its own thread, so none of a stream's jobs would
  * be counted. The numbers come from `StreamingQueryProgress` instead.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "runMain graft.tools.ProfileStreamingThroughput [out.json]"
  */
object ProfileStreamingThroughput {

  private def dirBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else f.listFiles().map(c => dirBytes(c.getPath)).sum
  }

  /** Stage `df` as `k` single-file parquet batches with strictly
    * increasing mod times (file boundaries = micro-batch boundaries). */
  private def stageBatches(df: DataFrame, orderCol: String, k: Int,
                           srcDir: String): Unit = {
    new java.io.File(srcDir).mkdirs()
    val n = df.count()
    val staged = graft.ops.Ordinals.withGlobalRank(df, Seq(col(orderCol)), "__r")
      .withColumn("__b", ((col("__r") - 1) * k / math.max(1L, n)).cast("int"))
      .drop("__r")
    val now = System.currentTimeMillis()
    for (i <- 0 until k) {
      val name = f"b$i%03d"
      staged.filter(col("__b") === i).drop("__b")
        .coalesce(1).write.parquet(s"$srcDir/$name")
      val part = new java.io.File(s"$srcDir/$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$srcDir/$name"))
      dst.setLastModified(now - (k - i) * 10000L)
    }
  }

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** Run a started streaming query to completion and fold its progress
    * events into the throughput/latency/state readout. */
  private def harvest(name: String,
                      q: org.apache.spark.sql.streaming.StreamingQuery,
                      extra: Map[String, Any] = Map.empty): Profile.Record = {
    val t0 = System.nanoTime()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val ps = q.recentProgress.filter(_.numInputRows > 0)
    val rows = ps.map(_.numInputRows).sum
    val trigMs = ps.map(_.durationMs.get("triggerExecution").toDouble)
    val stateRows = ps.flatMap(_.stateOperators.map(_.numRowsTotal))
    val stateBytes = ps.flatMap(_.stateOperators.map(_.memoryUsedBytes))
    val m = Map(
      "batches" -> ps.length,
      "input_rows" -> rows,
      "wall_sec" -> math.round(wall * 100) / 100.0,
      "rows_per_sec_sustained" -> math.round(rows / wall),
      "trigger_ms_min" -> (if (trigMs.isEmpty) 0.0 else trigMs.min),
      "trigger_ms_med" -> med(trigMs.toSeq),
      "trigger_ms_max" -> (if (trigMs.isEmpty) 0.0 else trigMs.max),
      "state_rows_max" -> (if (stateRows.isEmpty) 0L else stateRows.max),
      "state_bytes_max" -> (if (stateBytes.isEmpty) 0L else stateBytes.max),
      "state_rows_last" -> (if (stateRows.isEmpty) 0L else stateRows.last),
      // full per-batch trigger latencies (batch order): the growth-trend
      // readout — for st7/st11 this IS the per-batch index-append
      // latency curve as the persisted index grows (r13 VERDICT #5)
      "trigger_ms_series" -> trigMs.map(math.round).toSeq
    ) ++ extra
    val sorted = ListMap.from(m.toSeq.sortBy(_._1))
    println(s"[stp] $name: ${Profile.toJson(sorted)}")
    sorted
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outPath = args.headOption.getOrElse("bench/streaming_throughput_r13.json")
    val spark = graft.core.Sessions.local("graft-stp", cpus)
    // recentProgress keeps only the LAST N entries (default 100): K/J
    // above that silently dropped early batches and understated sustained
    // throughput, so N is pinned above any staged batch count this
    // harness runs. A session SQL conf, read when each stream starts.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    import graft.streaming.{CorpusPipeline, IngestDedup, Streams}

    val root = java.nio.file.Files.createTempDirectory("graft_stp").toString
    val results = scala.collection.mutable.Map.empty[String, Profile.Record]

    // ---- event stream: K files ordered by ts so the watermark advances
    // (Tables.events's NTZ->TIMESTAMP normalization applied: watermarks
    // reject TIMESTAMP_NTZ)
    val events = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
    val evSrc = s"$root/events_src"
    val K = sys.env.getOrElse("SPARK_GRAFT_STP_K", "20").toInt
    stageBatches(events, "ts", K, evSrc)
    val evSchema = events.schema

    // st16: bootstrap CI — watermark + append, 2 chained stateful aggs
    results("st16_window_bootstrap_ci") = harvest("st16", {
      val s = spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", 1).parquet(evSrc)
      Streams.windowBootstrapCi(s, watermark = true).writeStream
        .format("memory").queryName("stp16").outputMode("append")
        .option("checkpointLocation", s"$root/cp16")
        .trigger(Trigger.AvailableNow()).start()
    })

    // st15: windowed sketch quantiles — 1 stateful agg
    results("st15_window_quantiles") = harvest("st15", {
      val s = spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", 1).parquet(evSrc)
      Streams.windowQuantiles(s, watermark = true).writeStream
        .format("memory").queryName("stp15").outputMode("append")
        .option("checkpointLocation", s"$root/cp15")
        .trigger(Trigger.AvailableNow()).start()
    })

    // ---- document stream for the dedup/corpus pipelines: J batches of
    // fresh docs + planted near-dups of history (same recipe as st7)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text")
    val half = docs.count() / 2
    val history = docs.filter(col("doc_id") < half)
    val incoming = docs.filter(col("doc_id") >= half) // novel
      .unionByName(history.limit((half / 4).toInt)    // near-dups: drop
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          concat(col("text"), lit(" extra token")).as("text")))
    val docSrc = s"$root/docs_src"
    val J = sys.env.getOrElse("SPARK_GRAFT_STP_J", "10").toInt
    stageBatches(incoming, "doc_id", J, docSrc)
    val docBytes = incoming.agg(sum(length(col("text")))).head.getLong(0)

    // st7: ingest dedup vs persisted index (state = the on-disk index)
    val ix7 = s"$root/ix7"
    graft.ops.LshIndex.save(graft.ops.LshIndex.build(history, "text",
      "doc_id", n = 3, bands = 21, rowsPerBand = 3), ix7)
    val ix7Before = dirBytes(ix7)
    results("st7_ingest_dedup") = harvest("st7",
      IngestDedup.start(spark, docSrc, docs.schema,
        ix7, s"$root/out7", s"$root/cp7", "text", "doc_id", 0.7),
      Map("index_bytes_before" -> ix7Before,
          "index_bytes_after" -> -1L, // filled below
          "payload_mb" -> docBytes / 1e6))
    results("st7_ingest_dedup") =
      results("st7_ingest_dedup").updated("index_bytes_after", dirBytes(ix7))

    // st11: the 4-stage corpus pipeline
    val ix11 = s"$root/ix11"
    graft.ops.LshIndex.save(graft.ops.LshIndex.build(history, "text",
      "doc_id", n = 3, bands = 21, rowsPerBand = 3), ix11)
    val bloom = graft.ops.Dedup.benchmarkBloom(
      docs.filter(col("doc_id") < 100), "text", "doc_id", n = 3,
      expectedShingles = 200000L)
    val cfg = CorpusPipeline.Config(indexPath = ix11, threshold = 0.7,
      bloom = bloom, n = 3, maxOverlap = 0.8, minQuality = 0.5,
      outDir = s"$root/out11", partitionCol = "lang")
    results("st11_corpus_pipeline") = harvest("st11",
      CorpusPipeline.start(spark, docSrc, docs.schema, cfg, s"$root/cp11"),
      Map("payload_mb" -> docBytes / 1e6))

    // one JSON line, bench-artifact style
    val json = Profile.toJson(ListMap[String, Any]("protocol" ->
      s"file stream maxFilesPerTrigger=1, $K event files / $J doc files, AvailableNow, $cpus cores, $sfDir") ++
      results.toSeq.sortBy(_._1))
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    spark.stop()
  }
}
