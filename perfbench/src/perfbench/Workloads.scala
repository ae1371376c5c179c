package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SchemaProfiler
import graft.io.VersionedCsv
import graft.ops.{Balancing, Encoding, Hashing, Imputation}
import graft.pipeline.{PipelineRunner, TableOp}

/** One timed unit of a pass: an engine query or one call of the prep loop.
  * `buildS` is the time in the call that builds the result (including jobs
  * the engine runs eagerly while building the plan), `execS` the time of
  * the action over it (the [[Digest]] of a query; 0 for a prep call). */
final case class Step(name: String, buildS: Double, execS: Double, cpuS: Double,
                      digest: Option[(Long, Long)], error: Option[String]) {
  def wallS: Double = buildS + execS
}

/** Process CPU (user + sys) of this JVM, in seconds. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def now(): Double = os.getProcessCpuTime / 1e9
}

/** The order-independent digest each op's timed action computes: the row
  * count and the wrapping sum of xxhash64 over every row, in the canonical
  * form tools/check.py compares (columns sorted by name, doubles rounded
  * to 9 digits). Unlike `.count()` it forces every output column. */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 9)
      when(r === 0.0, lit(0.0)).otherwise(r) // -0.0 and 0.0 hash apart
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  def of(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.sortBy(_.name).toSeq
      .map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(cols: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

object Steps {
  /** Runs step `name` of pass `pass`: `build`, then `exec` over what it
    * built, under the job group `<pass>:<name>` (so the tracer attributes
    * every job the step starts), with the clocks around the two calls only
    * and any throwable caught into the step's error. */
  def run[A](spark: SparkSession, pass: Int, name: String, tracer: Option[Tracer])(
      build: => A)(exec: A => Option[(Long, Long)]): (Step, Option[A]) = {
    val group = Group(pass, name)
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val (c0, t0, e0) = (Cpu.now(), System.nanoTime(), System.currentTimeMillis())
    try {
      val a = build
      val (t1, e1) = (System.nanoTime(), System.currentTimeMillis())
      val d = exec(a)
      val (t2, e2) = (System.nanoTime(), System.currentTimeMillis())
      tracer.foreach { t =>
        t.record(Span(group, s"pass$pass", name, "step", e0, e2))
        t.record(Span(s"$group/build", group, name, "build", e0, e1))
        t.record(Span(s"$group/exec", group, name, "exec", e1, e2))
      }
      (Step(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Cpu.now() - c0, d, None), Some(a))
    } catch {
      case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        (Step(name, (System.nanoTime() - t0) / 1e9, 0.0, Cpu.now() - c0, None, Some(msg)), None)
    } finally spark.sparkContext.clearJobGroup()
  }
}

/** The reference's versioned-CSV loop on `survey_v1.csv`, one step per
  * public call: read v1, profile it, impute and encode it, save v2, read v2
  * back, undersample and split it, save the train/test pair. Every pass
  * checks the loop's invariants outside its steps' clocks and job groups;
  * a broken invariant fails the step whose output it checks. */
object Prep {
  val Read = "io.VersionedCsv.read"
  val Profile = "core.SchemaProfiler.profile"
  val Build = "pipeline.PipelineRunner.build"
  val Save = "io.VersionedCsv.save"
  val ReadV2 = "io.VersionedCsv.read_v2"
  val Split = "ops.Balancing.split"
  val PairSave = "io.VersionedCsv.pair_save"
  val steps: Seq[String] = Seq(Read, Profile, Build, Save, ReadV2, Split, PairSave)

  val Label = "label"
  /** A median fill and two mode fills, then a one-hot and a hash encoding
    * of the mode-filled columns. */
  val ops: Seq[TableOp] = Seq(
    Imputation.FillMedian("num_1"), Imputation.FillMode("cat_0"), Imputation.FillMode("cat_2"),
    Encoding.OneHot("cat_0"), Hashing.FeatureHash("cat_2", 16))

  /** Imputed columns that survive the encoders. */
  private val imputed = Seq("num_1", "cat_2")

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(SchemaProfiler.isNumericField).map(_.name).toSeq

  /** Per-label row counts of a CSV the versioned sink wrote. */
  private def labelCounts(file: String): Map[String, Int] = {
    val src = Source.fromFile(file, "UTF-8")
    try {
      val lines = src.getLines().dropWhile(_.startsWith("#"))
      val i = lines.next().split(",").indexOf(Label)
      lines.map(_.split(",", -1)(i)).toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    } finally src.close()
  }

  def pass(spark: SparkSession, dir: String, out: String, pass: Int,
           tracer: Option[Tracer], seed: Long): Seq[Step] = {
    Main.deleteRecursive(new File(out))
    val steps = mutable.ArrayBuffer[Step]()
    def step[A](name: String)(body: => A): Option[A] = {
      val (s, a) = Steps.run(spark, pass, name, tracer)(body)(_ => None)
      steps += s
      a
    }
    def fail(name: String, msg: String): Unit = {
      val i = steps.indexWhere(_.name == name)
      steps(i) = steps(i).copy(error = Some(steps(i).error.fold(msg)(_ + "; " + msg)))
    }
    for {
      (v1, meta) <- step(Read)(VersionedCsv.readVersioned(spark, s"$dir/survey_v1.csv"))
      _ <- step(Profile)(SchemaProfiler.profile(v1).collect())
      history = meta.historyPairs
      cleaned <- step(Build)(PipelineRunner(meta).run(v1, ops: _*))
      v2Path <- step(Save)(VersionedCsv.saveVersioned(cleaned, out, "survey", meta))
      (v2, meta2) <- step(ReadV2)(VersionedCsv.readVersioned(spark, v2Path))
      readHistory = meta2.historyPairs
      (train, test) <- step(Split)(Balancing.stratifiedSplit(
        PipelineRunner(meta2).run(v2, Balancing.Undersample(Label, seed)), Label, 0.2, seed))
      (trainPath, testPath) <- step(PairSave)(
        VersionedCsv.savePair(train, test, out, "survey", meta2))
    } try {
      // two jobs: the written frame's row count and sums, and the same of
      // v2 together with its null counts and class sizes
      val num = numericCols(cleaned)
      val w = cleaned.agg(count(lit(1)), num.map(c => sum(col(c).cast(DoubleType))): _*).head()
      val r = v2.agg(count(lit(1)), num.map(c => sum(col(c).cast(DoubleType))) ++
        imputed.map(c => count(when(col(c).isNull, 1))) ++
        Seq(count(when(col(Label) === 0, 1)), count(when(col(Label) === 1, 1))): _*).head()
      val k = num.size
      val sumsDiffer = numericCols(v2) != num || (1 to k).exists { i =>
        math.abs(r.getDouble(i) - w.getDouble(i)) > 1e-9 * math.max(1.0, math.abs(w.getDouble(i)))
      }
      if (r.getLong(0) != w.getLong(0) || sumsDiffer)
        fail(ReadV2, s"read-back v2 (${r.getLong(0)} rows) differs from the written frame " +
          s"(${w.getLong(0)} rows) in its row count, numeric columns or sums")
      val withNulls = imputed.indices.filter(i => r.getLong(k + 1 + i) > 0).map(imputed)
      if (withNulls.nonEmpty) fail(Build, s"nulls left in ${withNulls.mkString(",")}")
      val grown = history :+ ((history.map(_._1).max + 1, ops.map(_.describe).mkString(", ")))
      if (readHistory != grown) fail(Save, s"META history $readHistory != $grown")
      // the pair files: each class at the minority size, train + test the
      // balanced rows, one version on both
      val minority = math.min(r.getLong(k + 1 + imputed.size), r.getLong(k + 2 + imputed.size))
      val (tr, te) = (labelCounts(trainPath), labelCounts(testPath))
      val classes = (tr.keySet ++ te.keySet).toSeq.sorted
        .map(c => c -> (tr.getOrElse(c, 0) + te.getOrElse(c, 0)))
      if (classes.size != 2 || classes.exists(_._2 != minority))
        fail(Split, s"class sizes in train + test ${classes.mkString(",")}, minority $minority")
      val (trainName, testName) = (new File(trainPath).getName, new File(testPath).getName)
      val pairVersion = readHistory.map(_._1).max + 1
      if (VersionedCsv.checkTrainTestVersions(trainName, testName) != Right(pairVersion))
        fail(PairSave, s"$trainName and $testName do not both carry version $pairVersion")
    } catch {
      case e: Exception => fail(PairSave, s"invariant check threw ${e.getClass.getName}: ${e.getMessage}")
    }
    steps.toSeq
  }

  /** Bytes of every CSV one pass wrote under `out`. */
  def bytesWritten(out: String): Long =
    Option(new File(out).listFiles).toSeq.flatten.filter(_.getName.endsWith(".csv")).map(_.length).sum
}

/** A workload: registered engine queries run one after another, then, on a
  * board with `prep`, the versioned-CSV loop. `ops` pairs each query with
  * the module that owns its operator, which names its per-layer metrics. */
final class Board(val name: String, val ops: Seq[(String, String)], val prep: Boolean) {
  private lazy val queries = graft.SparkEntry.queries

  def query(op: String): graft.queries.Q.QueryFn = queries(op)

  /** Runs every step once; each query's action is its [[Digest]]. With
    * `dump` the action writes the query's output to `<work>/dump/<op>` and
    * takes the digest of the written file instead. */
  def pass(spark: SparkSession, dir: String, work: String, pass: Int, tracer: Option[Tracer],
           seed: Long, dump: Boolean = false): Seq[Step] = {
    val qs = ops.map { case (_, op) =>
      val (step, _) = Steps.run(spark, pass, op, tracer)(queries(op)(spark, dir)) { df =>
        if (!dump) Some(Digest.of(df))
        else {
          val path = s"$work/dump/$op"
          df.write.mode("overwrite").parquet(path)
          Some(Digest.of(spark.read.parquet(path)))
        }
      }
      Main.freeSessionState(spark)
      step
    }
    val loop = if (prep) Prep.pass(spark, dir, s"$work/prep", pass, tracer, seed) else Nil
    Main.freeSessionState(spark)
    qs ++ loop
  }
}

object Board {
  val all: Map[String, Board] = Seq(
    new Board("tabular_board", Seq(
      "queries.Relational" -> "a6_distinct_stats",
      "queries.Join" -> "q13_semi_join",
      "ml.Ridge" -> "m23b_ridge_gram",
      "ops.Quantiles" -> "e8b_sketch_bin",
      "ops.Audit" -> "a47_bootstrap_ci",
      "streaming.Streams" -> "st13_window_drift"), prep = true),
    new Board("corpus_x5", Seq(
      "ops.Lexicon" -> "t31_bm25",
      "ops.Text" -> "t46_html_extract",
      "ops.Corpus" -> "t8_pack_sequences",
      "ops.Dedup" -> "d1_exact_dedup",
      "ops.WebGraph" -> "t48_host_rank"), prep = false),
  ).map(b => b.name -> b).toMap
}
