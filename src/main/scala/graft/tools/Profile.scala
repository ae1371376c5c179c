package graft.tools

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.{Bench, SparkEntry}

/** Run ledger of declared queries, built from Spark's own job and SQL
  * metrics: one JSONL record per query and rep on stdout. Each query
  * runs a warm rep, then a measured rep, each under a job group named
  * after the query, so the jobs it runs while its DataFrame is built
  * count too. The action is `.count()`. `record` is also the runner that
  * [[graft.Bench]] times its board with. A record holds wall and
  * build seconds; `compiles`, the classes Spark's codegen compiled
  * during the rep (build and action; a JVM-wide counter, so only
  * meaningful while one query runs at a time); jobs, stages and tasks;
  * executor run, CPU and GC seconds; shuffle read/write and spill MB;
  * and `/proc/loadavg`. A rep that re-runs a query already run in the
  * session compiles 0 classes unless the codegen cache evicted them.
  * Flags add detail to the measured record:
  *   --stages  one row per completed stage attempt
  *   --ops     per-operator SQL metrics of every execution the query ran
  *   --plan    the initial formatted plan and the final AQE plan
  * Without query names it profiles the Bench headline set. The scale
  * dir defaults to SPARK_GRAFT_SF_DIR, the core count to
  * SPARK_GRAFT_CPUS (else every available core). Usage:
  *   sbt "runMain graft.tools.Profile [sfDir] [query ...] [--plan|--stages|--ops]"
  */
object Profile {
  type Record = ListMap[String, Any]

  private val usage =
    "usage: Profile [sfDir] [query ...] [--plan|--stages|--ops]"
  private val flags = Set("--plan", "--stages", "--ops")
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def toJson(r: Record): String = json.writeValueAsString(r)

  /** Job ids and completed stage attempts of one job group. Read only
    * after the listener bus has been drained. */
  private final class GroupLedger(group: String) extends SparkListener {
    val jobIds = mutable.ArrayBuffer[Int]()
    val stages = mutable.ArrayBuffer[StageInfo]()
    private val stageIds = mutable.Set[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobIds += e.jobId
        stageIds ++= e.stageIds
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageIds(e.stageInfo.stageId)) stages += e.stageInfo
    }
  }

  private def r3(x: Double): Double = math.rint(x * 1e3) / 1e3
  private def mb(bytes: Long): Double = r3(bytes / 1048576.0)

  /** Spark's task metrics, aggregated per stage attempt, summed. */
  private def counters(ss: Seq[StageInfo]): Record = {
    val m = ss.flatMap(s => Option(s.taskMetrics))
    ListMap(
      "tasks" -> ss.map(_.numTasks.toLong).sum,
      "run_s" -> r3(m.map(_.executorRunTime).sum / 1e3),
      "cpu_s" -> r3(m.map(_.executorCpuTime).sum / 1e9),
      "gc_s" -> r3(m.map(_.jvmGCTime).sum / 1e3),
      "shuffle_read_mb" -> mb(m.map(_.shuffleReadMetrics.totalBytesRead).sum),
      "shuffle_write_mb" -> mb(m.map(_.shuffleWriteMetrics.bytesWritten).sum),
      "spill_mb" -> mb(m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).sum))
  }

  private def stageRow(s: StageInfo): Record = {
    val wall = for (end <- s.completionTime; start <- s.submissionTime)
      yield r3((end - start) / 1e3)
    ListMap("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "name" -> s.name, "wall_s" -> wall.getOrElse(-1.0)) ++ counters(Seq(s))
  }

  /** Per-operator SQL metrics of the executions that ran any of `jobIds`,
    * as Spark formats them (total, then min/median/max over tasks). */
  private def opRows(spark: SparkSession, jobIds: Set[Int]): Seq[Record] = {
    val store = GraftBridge.sqlStatus(spark)
    for {
      exec <- store.executionsList() if exec.jobs.keys.exists(jobIds)
      values = store.executionMetrics(exec.executionId)
      node <- store.planGraph(exec.executionId).allNodes.toSeq
      metrics = node.metrics.flatMap(m =>
        values.get(m.accumulatorId).map(m.name -> _.split("\n").last))
      if metrics.nonEmpty
    } yield ListMap("execution" -> exec.executionId, "node" -> node.id,
      "op" -> node.name, "metrics" -> ListMap.from(metrics))
  }

  private def loadavg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case NonFatal(_) => Nil }

  /** Runs `name` once, under a job group named after it, and returns its
    * ledger record. `detail` holds any of "stages", "ops", "plan". The
    * listener bus is drained before the counters are read, so the
    * record holds every event of the query's jobs. */
  def record(spark: SparkSession, sfDir: String, name: String, rep: String,
             detail: Set[String] = Set.empty): Record = {
    val sc = spark.sparkContext
    val ledger = new GroupLedger(name)
    sc.addSparkListener(ledger)
    sc.setJobGroup(name, s"profile $name $rep")
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val (buildS, wallS, compiles, plans) = try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val buildS = (System.nanoTime() - t0) / 1e9
      val counted = df.groupBy().count()
      val initial =
        if (detail("plan")) counted.queryExecution.explainString(FormattedMode) else ""
      counted.collect()
      // stopped before the listener-bus drain below, which is the
      // profiler's own wait, not the query's
      val wallS = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      val plans = if (!detail("plan")) ListMap.empty[String, String] else {
        val fin = counted.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        ListMap("plan_initial" -> initial, "plan_final" -> fin.treeString)
      }
      (buildS, wallS, compiles, plans)
    } finally {
      sc.clearJobGroup()
      GraftBridge.drain(sc)
      sc.removeSparkListener(ledger)
    }
    val (jobIds, stages) = ledger.synchronized((ledger.jobIds.toSet, ledger.stages.toSeq))
    ListMap[String, Any]("query" -> name, "rep" -> rep, "wall_s" -> r3(wallS),
      "build_s" -> r3(buildS), "compiles" -> compiles, "jobs" -> jobIds.size,
      "stages" -> stages.size) ++ counters(stages) ++
      ListMap("loadavg" -> loadavg()) ++
      (if (detail("stages")) ListMap("stage_rows" -> stages.map(stageRow)) else Nil) ++
      (if (detail("ops")) ListMap("ops" -> opRows(spark, jobIds)) else Nil) ++
      plans
  }

  /** Session hygiene between reps, outside every timed region: every
    * finished query leaves its cached frames and localCheckpoint blocks
    * in the storage pool until driver GC collects their handles, where
    * they compete with the next rep's execution memory. Not result
    * caching: the next rep re-executes everything from its input. */
  private def freeSessionState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** One rep of `name`: its `record`, or on any failure a record naming
    * the error, handed to `emit` as one JSON line; then the session
    * hygiene. Returns the record. */
  def runRep(spark: SparkSession, sfDir: String, name: String, rep: String,
             emit: String => Unit, detail: Set[String] = Set.empty): Record = {
    val rec = try record(spark, sfDir, name, rep, detail) catch {
      case e: Throwable => ListMap[String, Any]("query" -> name, "rep" -> rep,
        "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
    emit(toJson(rec))
    freeSessionState(spark)
    rec
  }

  def main(args: Array[String]): Unit = {
    val (given, rest) = args.toSeq.partition(_.startsWith("--"))
    require(given.forall(flags), s"unknown flag in ${given.mkString(" ")}; $usage")
    val all = SparkEntry.queries
    val (sfDir, names) = rest.headOption.filterNot(all.contains) match {
      case Some(dir) => (dir, rest.tail)
      case None => (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage)), rest)
    }
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(" ")}; $usage")
    val spark = graft.core.Sessions.local("graft-profile", sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
    val detail = given.map(_.stripPrefix("--")).toSet
    for (name <- if (names.isEmpty) Bench.headline else names;
         rep <- Seq("warm", "measured"))
      runRep(spark, sfDir, name, rep, println,
        if (rep == "measured") detail else Set.empty)
    spark.stop()
  }
}
