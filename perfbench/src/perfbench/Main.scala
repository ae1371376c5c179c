package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one JVM at `local[4]`, one client thread submitting
  * one step at a time (a closed loop). Sets up once (a session plus one
  * warm-up pass, measured from JVM start), then runs passes until `--seconds`
  * have elapsed and at least one untraced pass (and, with `--trace 1`, one
  * traced pass) is done. The warm-up writes each query's output to
  * `<work>/dump/<op>` and takes its digest from the written file; a query
  * whose digest `--expect` lacks is listed as unverified, for the oracle
  * check. Then it checks every step and writes every metric to `--out` as
  * JSON.
  *
  * With `--trace 1` every second pass runs with the [[Tracer]] attached;
  * end-to-end figures always come from the untraced passes, and the gap
  * between the two kinds of pass is reported as the tracing overhead.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *        --seed N --trace 0|1 --expect FILE --out FILE
  */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val s = graft.core.Sessions.tune(SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The engine's session hygiene between queries (as graft.Bench does
    * it), outside every timed region. */
  def freeSessionState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def deleteRecursive(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursive))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def firstLine(file: String): String = {
    val src = Source.fromFile(file)
    try src.getLines().next() finally src.close()
  }

  /** Host steal time in seconds, summed over every CPU (/proc/stat). */
  def stealS(): Double = {
    val f = firstLine("/proc/stat").trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100.0 else 0.0
  }

  def loadAvg1m(): Double = firstLine("/proc/loadavg").split("\\s+")(0).toDouble

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (dir, work) = (a("inputs"), a("work"))
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val board = Board.all.getOrElse(a("workload"), sys.error(s"unknown workload ${a("workload")}"))
    val verified: Map[String, (Long, Long)] = {
      val f = new File(a("expect"))
      if (!f.exists) Map.empty
      else {
        val src = Source.fromFile(f)
        try src.getLines().map(_.split("\t"))
          .collect { case Array(op, n, h) => op -> (n.toLong, h.toLong) }.toMap
        finally src.close()
      }
    }

    // --- set-up: from JVM start until the session is built and one
    // warm-up pass over the timed inputs is done; the warm-up writes every
    // query's output, for the oracle check
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val warm = board.pass(spark, dir, work, -1, None, seed, dump = true)
    val setupWallS = (System.currentTimeMillis() - jvmStart) / 1e3
    val setupS = Cpu.now()
    System.err.println(f"perfbench: set-up $setupWallS%.2f s wall, $setupS%.2f s CPU: " +
      warm.map(s => f"${s.name} ${s.wallS}%.2f").mkString(", "))

    // --- timed region
    val tracer = if (a("trace") == "1") Some(new Tracer) else None
    val passes = mutable.ArrayBuffer[(Seq[Step], Option[PassCounters])]()
    val steal0 = stealS()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minPasses = if (tracer.isDefined) 2 else 1
    while (passes.size < minPasses || elapsed < seconds) {
      val i = passes.size
      // a full collection before each pass, outside every clock, so that
      // collecting the old generation, which a few passes fill, never
      // lands in a timed pass
      System.gc()
      val traced = tracer.filter(_ => i % 2 == 1)
      traced.foreach(_.attach(spark.sparkContext))
      val p0 = System.currentTimeMillis()
      val steps = board.pass(spark, dir, work, i, traced, seed)
      val counters = traced.map { t =>
        t.record(Span(s"pass$i", "", board.name, "pass", p0, System.currentTimeMillis()))
        t.detach(spark.sparkContext)
      }
      passes += ((steps, counters))
      System.err.println(f"perfbench: pass $i%d: " +
        steps.map(s => f"${s.name} ${s.wallS}%.2f").mkString(", "))
    }
    val timedS = elapsed
    val steal = stealS() - steal0
    val load = loadAvg1m()
    val rssMb = peakRssMb()
    val bytesWritten = Prep.bytesWritten(s"$work/prep")

    spark.stop()

    // --- output checks: a step fails if it threw, broke an invariant, or
    // computed another digest than the verified (or the written) output's
    val unverified: Map[String, (Long, Long)] = board.ops.map(_._2).filterNot(verified.contains)
      .flatMap(op => warm.find(_.name == op).flatMap(_.digest).map(op -> _)).toMap
    val expected = verified ++ unverified
    def problem(s: Step): Option[String] = s.error.orElse(
      for (d <- s.digest; e <- expected.get(s.name) if d != e)
        yield s"digest $d != verified output's $e")
    val failures = mutable.LinkedHashSet[String]()
    var failed = 0
    for (s <- warm; p <- problem(s)) {
      failed += 1
      failures += s"${s.name} (warm-up): $p"
    }
    for ((steps, _) <- passes; s <- steps; p <- problem(s)) {
      failed += 1
      failures += s"${s.name}: $p"
    }

    // --- metrics
    val untraced = passes.collect { case (s, None) => s }.toSeq
    val traced = passes.collect { case (s, Some(c)) => (s, c) }.toSeq
    def stepMedian(ps: Seq[Seq[Step]], f: Step => Double): Map[String, Double] =
      ps.flatten.groupBy(_.name).map { case (n, ss) => n -> median(ss.map(f)) }
    val wallS = stepMedian(untraced, _.wallS).values.sum
    val cpuS = stepMedian(untraced, _.cpuS).values.sum
    // setup_s and cpu_s are CPU seconds, which the host's steal time does
    // not enter; the wall figures are reported beside them
    val e2e = Map("setup_s" -> setupS, "cpu_s" -> cpuS, "peak_rss_mb" -> rssMb,
      "setup_wall_s" -> setupWallS, "wall_s" -> wallS)
    val box = Map(
      "box.steal_s" -> steal / passes.size,
      "box.loadavg_1m" -> load,
      "box.cpu_util" -> cpuS / (wallS * Cores))

    val layer = mutable.LinkedHashMap[String, Double]()
    if (traced.nonEmpty) {
      val tSteps = traced.map(_._1)
      val build = stepMedian(tSteps, _.buildS)
      val exec = stepMedian(tSteps, _.execS)
      for ((m, op) <- board.ops) {
        val cs = traced.map(_._2.byStep.getOrElse(op, new Counters))
        layer(s"$m.$op.build_s") = build(op)
        layer(s"$m.$op.exec_s") = exec(op)
        layer(s"$m.$op.jobs") = median(cs.map(_.jobs.toDouble))
        layer(s"$m.$op.task_cpu_s") = median(cs.map(_.taskCpuNs / 1e9))
      }
      if (board.prep) {
        val wall = stepMedian(tSteps, _.wallS)
        for (st <- Prep.steps) layer(s"${st}_s") = wall(st)
        layer("pipeline.PipelineRunner.jobs") =
          median(traced.map(_._2.byStep.get(Prep.Build).fold(0.0)(_.jobs.toDouble)))
        layer("io.VersionedCsv.bytes_written_mb") = bytesWritten / 1e6
      }
      val n = traced.size.toDouble
      val tot = new Counters
      for ((_, c) <- traced; o <- c.byStep.values) tot.add(o)
      layer("spark.jobs") = tot.jobs / n
      layer("spark.stages") = tot.stages / n
      layer("spark.tasks") = tot.tasks / n
      layer("spark.task_cpu_s") = tot.taskCpuNs / 1e9 / n
      layer("spark.gc_s") = tot.gcMs / 1e3 / n
      layer("spark.input_mb") = tot.inputBytes / 1e6 / n
      layer("spark.shuffle_write_mb") = tot.shuffleWriteBytes / 1e6 / n
      layer("spark.spill_mb") = tot.spillBytes / 1e6 / n
      layer("spark.max_task_skew") = traced.map(_._2.maxTaskSkew).max
      layer("spark.codegen_fallbacks") = traced.map(_._2.codegenFallbacks).sum / n
      layer("core.Materialize.frames") = traced.map(_._2.persistedRdds).sum / n
      layer ++= box
      layer("bench.trace_overhead_frac") =
        stepMedian(tSteps, _.wallS).values.sum / stepMedian(untraced, _.wallS).values.sum - 1.0
      val w = new PrintWriter(s"$work/spans.jsonl")
      try tracer.get.spans.foreach { s =>
        w.println(s"""{"id":${q(s.id)},"parent":${q(s.parent)},"name":${q(s.name)},""" +
          s""""phase":${q(s.phase)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
      } finally w.close()
    }

    def arr(xs: Iterable[Double]) = xs.mkString("[", ",", "]")
    def pair(d: (Long, Long)) = s"[${d._1},${d._2}]"
    val taskCpu = traced.flatMap(_._2.byStep.toSeq).groupBy(_._1)
      .map { case (st, cs) => st -> median(cs.map(_._2.taskCpuNs / 1e9)) }
    val json = new StringBuilder("{")
    json ++= s""""workload":${q(board.name)},"attempted":${warm.size + passes.map(_._1.size).sum},"""
    json ++= s""""failed":$failed,"failures":${failures.map(q).mkString("[", ",", "]")},"""
    json ++= s""""passes":${passes.size},"traced_passes":${traced.size},"timed_s":$timedS,"""
    json ++= s""""pass_wall_s":${arr(passes.map(_._1.map(_.wallS).sum))},"""
    json ++= s""""pass_cpu_s":${arr(passes.map(_._1.map(_.cpuS).sum))},"""
    json ++= s""""step_wall_s":${obj(stepMedian(untraced, _.wallS))},"step_task_cpu_s":${obj(taskCpu)},"""
    json ++= s""""e2e":${obj(e2e)},"box":${obj(box)},"layer":${obj(layer.toMap)},"""
    json ++= s""""unverified":${unverified.map { case (op, d) =>
      s"""${q(op)}:{"digest":${pair(d)},"oracle":${graft.SparkEntry.oracleSql.get(op).map(q).getOrElse("null")}}"""
    }.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(a("out")), json.toString.getBytes("UTF-8"))
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${q(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }.mkString("{", ",", "}")
}
