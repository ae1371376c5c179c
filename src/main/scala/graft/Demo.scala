package graft

import org.apache.spark.sql.functions._

import graft.core.{SchemaProfiler, Tables}
import graft.io.{MetaTracker, VersionedCsv}
import graft.ops._
import graft.pipeline.PipelineRunner
import graft.ml.{Compare, Inference, Models}

/** End-to-end demonstration of the reference's main value loop
  * (SURVEY §3.1-§3.3) through the library's public API:
  * import → profile → clean → impute → encode → balance → split →
  * train/evaluate → persist versioned data + model → single-row inference.
  * Runs on sf0.001 in ~1 min: `sbt "runMain graft.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val spark = graft.core.Sessions.local("graft-demo", cores = "4")

    // 1. ingest as v0 with provenance (S6)
    val tracker = new MetaTracker
    val v0 = VersionedCsv.saveVersioned(Tables.orders(spark, sf), out, "orders", tracker)
    val (df0, meta) = VersionedCsv.readVersioned(spark, v0)
    println(s"[demo] imported ${df0.count()} rows as v${meta.version}")

    // 2. profile (§1.3)
    SchemaProfiler.profile(df0).show(truncate = false)

    // 3. clean + impute + encode, provenance-tracked (§3.1)
    val runner = PipelineRunner(meta)
    val cleaned = runner.run(df0,
      Relational.TrimHeaders,
      Relational.MergeInterval("o_totalprice", 0, 1000, 1000),
      Imputation.FillMedian("o_totalprice"),
      Encoding.DateExpand("o_orderdate"),
      Encoding.LabelEncode("o_orderstatus"),
      Hashing.FeatureHash("o_orderpriority", 16))
    val v1 = VersionedCsv.saveVersioned(cleaned, out, "orders", meta)
    println(s"[demo] cleaned -> $v1")

    // 4. balance + paired split (§3.2)
    val numeric = cleaned.select("o_orderkey", "o_custkey", "o_totalprice",
      "o_orderstatus")
    val balanced = Smote.SmoteOp("o_orderstatus", k = 3, width = 0.25)(numeric)
    val (train, test) = Balancing.stratifiedSplit(balanced, "o_orderstatus", 0.2, 42L)
    VersionedCsv.savePair(train, test, out, "orders_balanced", new MetaTracker)
    println(s"[demo] balanced ${balanced.count()} rows -> train/test pair")

    // 5. model compare + final train + persist (§3.3)
    val results = Compare.run(train, test, "o_orderstatus",
      Models.Classification, Seq("logreg", "rf"))
    results.foreach(r => println(
      f"[demo] ${r.model}%-7s acc=${r.metrics("accuracy")}%.3f f1=${r.metrics("f1")}%.3f (${r.seconds}%.1fs)"))
    val best = results.maxBy(_.metrics("f1")).model
    val fin = Inference.finalTrain(train, test, "o_orderstatus", best,
      Models.Classification, Map.empty, "f1", out, "orders")
    println(s"[demo] final $best metrics: ${fin.metrics.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}")

    // 6. questionnaire inference on one answer row (M16)
    val features = Seq("o_orderkey", "o_custkey", "o_totalprice")
    val model = Inference.load(fin.modelPath)
    val pred = Inference.inferOne(spark, model,
      Map("o_orderkey" -> 1.0, "o_custkey" -> 100.0, "o_totalprice" -> 200000.0),
      features)
    println(s"[demo] single-row inference -> class $pred")
    spark.stop()
  }
}
