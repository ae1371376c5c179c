package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.StorageLevel

/** Engine counters of the jobs one job group ran. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, gcMs, inputBytes, shuffleWriteBytes, spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** What one traced pass left in the listener. */
final case class PassCounters(byStep: Map[String, Counters], maxTaskSkew: Double,
                              persistedRdds: Int, codegenFallbacks: Long)

/** One interval of the trace: a pass, a step, a phase of a step, or an
  * engine job. `parent` is the id of the span that caused it. */
final case class Span(id: String, parent: String, name: String, phase: String,
                      startMs: Long, endMs: Long)

/** Job-group key of a step in a pass: `<pass>:<step>`. */
object Group {
  def apply(pass: Int, step: String): String = s"$pass:$step"
  def step(group: String): String = group.substring(group.indexOf(':') + 1)
}

/** Listener of the traced passes. Jobs are attributed to steps through the
  * job group the benchmark sets around each step, which also covers the
  * jobs a query function runs while it builds its DataFrame. Read only
  * after [[org.apache.spark.perfbench.Drain]]. */
final class Tracer extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  private val taskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private var byStep = mutable.Map[String, Counters]()
  private var skew = 0.0
  private var persisted = mutable.Set[Int]()
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val codegen = new CodegenCounter

  /** Records a span from any thread. */
  def record(s: Span): Unit = synchronized { spanBuf += s }
  def spans: Seq[Span] = synchronized { spanBuf.toList }

  private def c(group: String) = byStep.getOrElseUpdate(Group.step(group), new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        e.stageIds.foreach(stageGroup(_) = g)
        jobStart(e.jobId) = (g, e.time)
        c(g).jobs += 1
        for (si <- e.stageInfos; r <- si.rddInfos if r.storageLevel != StorageLevel.NONE)
          persisted += r.id
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      spanBuf += Span(s"$g/job${e.jobId}", g, Group.step(g), "job", t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageGroup.get(si.stageId).foreach { g =>
      c(g).stages += 1
      taskMs.remove((si.stageId, si.attemptNumber())).foreach { ds =>
        if (ds.size >= 2) {
          val s = ds.sorted
          val med = s(s.size / 2).toDouble
          if (med > 0) skew = math.max(skew, s.last / med)
        }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val o = c(g)
      o.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.taskCpuNs += m.executorCpuTime
        o.gcMs += m.jvmGCTime
        o.inputBytes += m.inputMetrics.bytesRead
        o.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .+=(e.taskInfo.duration)
    }
  }

  def attach(sc: SparkContext): Unit = { sc.addSparkListener(this); codegen.on() }

  /** Drains the bus, detaches, and returns the pass's counters. */
  def detach(sc: SparkContext): PassCounters = {
    org.apache.spark.perfbench.Drain(sc)
    sc.removeSparkListener(this)
    synchronized {
      val out = PassCounters(byStep.toMap, skew, persisted.size, codegen.off())
      byStep = mutable.Map(); skew = 0.0; persisted = mutable.Set()
      stageGroup.clear(); taskMs.clear()
      out
    }
  }
}

/** Counts the engine's "whole-stage codegen disabled" log events while on. */
final class CodegenCounter extends AbstractAppender(
    "perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  private val n = new AtomicLong
  @volatile private var counting = false
  private val loggerName = "org.apache.spark.sql.execution.WholeStageCodegenExec"

  override def append(e: LogEvent): Unit = if (counting) {
    val m = e.getMessage.getFormattedMessage
    if (m.contains("Whole-stage codegen disabled") ||
        m.contains("whole-stage codegen was disabled")) n.incrementAndGet()
  }

  def on(): Unit = {
    if (!isStarted) {
      start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
      ctx.updateLoggers()
      // the too-long-method fall-back is logged at INFO
      Configurator.setLevel(loggerName, Level.INFO)
    }
    n.set(0); counting = true
  }

  def off(): Long = { counting = false; n.get }
}
