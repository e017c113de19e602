package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution, so harness
  * spans and Spark's epoch-millisecond event times share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

/** A span the harness records around a call into one of the repo's
  * modules (or around a whole operation). Times in epoch ns. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long)

/** Spans of the harness plus Spark's own counters, collected only while
  * an operation is traced. Everything stays in memory; [[writeSpans]]
  * dumps it once the run has ended. Spark events are attributed to the
  * operation (and layer call) whose wall-clock interval contains the
  * job's start, so jobs launched from operator-internal thread pools are
  * attributed too. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val spans = ArrayBuffer[Span]()
  private var nextId = 1
  private var curOp = -1
  private var curParent = 0

  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val qes = ArrayBuffer[QeRec]()
  private val compiles = ArrayBuffer[(Long, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      jobs += JobRec(e.jobId, e.time, -1L, e.stageIds, desc)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.synchronized {
        tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorCpuTime, m.executorRunTime, m.executorDeserializeTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.recordsWritten + m.shuffleReadMetrics.recordsRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val end = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.endTimeMs).max
      var scanFiles = 0L
      var writeFiles = 0L
      collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }.foreach {
        case w: DataWritingCommandExec =>
          writeFiles += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case p if p.nodeName.contains("Scan") =>
          scanFiles += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
      qes.synchronized {
        qes += QeRec(end, ms("analysis"), ms("optimization"), ms("planning"),
          scanFiles, writeFiles)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Janino compiles are reported only through CodeGenerator's INFO
    * line "Code generated in <ms> ms"; a log appender taps it. */
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val tap = new AbstractAppender("graftbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      val at = msg.indexOf("Code generated in ")
      if (at >= 0) {
        val ms = msg.substring(at + 18).takeWhile(c => c.isDigit || c == '.')
        if (ms.nonEmpty) compiles.synchronized { compiles += ((Clock.nowNs, ms.toDouble)) }
      }
    }
  }
  tap.start()

  private def setCodegenTap(on: Boolean): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (on) {
      val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
      lc.addAppender(tap, Level.INFO, null)
      cfg.addLogger(codegenLogger, lc)
    } else cfg.removeLogger(codegenLogger)
    ctx.updateLoggers()
  }

  /** Attach every probe for one traced operation. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    setCodegenTap(true)
  }

  /** Drain the listener bus, then detach, so no event of the traced
    * operation is lost and untraced operations pay for no probe. */
  def detach(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    setCodegenTap(false)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }


  /** Time one operation; layer calls made inside it nest under it. */
  def op[T](opId: Int, name: String)(body: => T): (T, Span) = {
    curOp = opId
    val id = nextId
    nextId += 1
    curParent = id
    val s = Clock.nowNs
    val r = body
    val sp = Span(id, name, 0, opId, s, Clock.nowNs)
    spans += sp
    curParent = 0
    (r, sp)
  }

  /** Time one call into a module; its Spark jobs carry the span's name
    * as their job description. */
  def layer[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobDescription(s"op=$curOp $name")
    val s = Clock.nowNs
    try body
    finally {
      spans += Span(nextId, name, curParent, curOp, s, Clock.nowNs)
      nextId += 1
      sc.setJobDescription(null)
    }
  }

  /** Spark-side counters for the interval of one traced operation. */
  def counters(opSpan: Span): Counters = {
    val (s, e) = (opSpan.startNs / 1000000L, opSpan.endNs / 1000000L + 1)
    val opJobs = jobs.synchronized(jobs.filter(j => j.startMs >= s && j.startMs <= e).toSeq)
    val stageIds = opJobs.flatMap(_.stageIds).toSet
    val opStages = stages.synchronized(stages.filter(st => stageIds(st.id)).toSeq)
    val opTasks = tasks.synchronized(tasks.filter(t => stageIds(t.stageId)).toSeq)
    val opQes = qes.synchronized(qes.filter(q => q.endMs >= s && q.endMs <= e).toSeq)
    val opCompiles = compiles.synchronized(
      compiles.filter { case (t, _) => t >= opSpan.startNs && t <= opSpan.endNs }.toSeq)
    val idleMs = opStages.map { st =>
      val runMs = opTasks.filter(_.stageId == st.id).map(t => t.finishMs - t.launchMs).sum
      math.max(0L, (st.completionMs - st.submissionMs) * cores - runMs)
    }.sum
    Counters(
      jobs = opJobs.size, stages = opStages.size, tasks = opTasks.size,
      cpuS = opTasks.map(_.cpuNs).sum / 1e9,
      runS = opTasks.map(_.runMs).sum / 1e3,
      deserS = opTasks.map(_.deserMs).sum / 1e3,
      gcS = opTasks.map(_.gcMs).sum / 1e3,
      idleCoreS = idleMs / 1e3,
      shuffleWrite = opTasks.map(_.shuffleWrite).sum,
      shuffleRead = opTasks.map(_.shuffleRead).sum,
      shuffleRecords = opTasks.map(_.shuffleRecords).sum,
      spill = opTasks.map(_.spill).sum,
      inputBytes = opTasks.map(_.inputBytes).sum,
      inputRecords = opTasks.map(_.inputRecords).sum,
      outputBytes = opTasks.map(_.outputBytes).sum,
      scanFiles = opQes.map(_.scanFiles).sum,
      writeFiles = opQes.map(_.writeFiles).sum,
      analysisS = opQes.map(_.analysisMs).sum / 1e3,
      optimizationS = opQes.map(_.optimizationMs).sum / 1e3,
      planningS = opQes.map(_.planningMs).sum / 1e3,
      compiles = opCompiles.size,
      compileS = opCompiles.map(_._2).sum / 1e3)
  }

  /** Every span as one JSON line: the harness's workload → op → layer
    * spans plus, for each traced layer call, its Spark jobs and their
    * stages. Self time is the span's duration minus the part of it its
    * children cover. */
  def writeSpans(path: String, workload: String, startNs: Long, endNs: Long): Unit = {
    val all = ArrayBuffer[Span]()
    all += Span(0, workload, -1, -1, startNs, endNs)
    all ++= spans
    var id = nextId
    val layers = spans.filter(sp => sp.parent != 0)
    val jobSnapshot = jobs.synchronized(jobs.toSeq)
    val stageSnapshot = stages.synchronized(stages.toSeq)
    jobSnapshot.foreach { j =>
      val owner = layers.find(l => j.startMs >= l.startNs / 1000000L &&
        j.startMs <= l.endNs / 1000000L + 1)
      owner.foreach { l =>
        val js = Span(id, s"job ${j.id}: ${Option(j.desc).getOrElse("")}", l.id, l.op,
          j.startMs * 1000000L, math.max(j.startMs, j.endMs) * 1000000L)
        id += 1
        all += js
        stageSnapshot.filter(st => j.stageIds.contains(st.id)).foreach { st =>
          all += Span(id, s"stage ${st.id}", js.id, l.op,
            st.submissionMs * 1000000L, st.completionMs * 1000000L)
          id += 1
        }
      }
    }
    val children = all.groupBy(_.parent)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { sp =>
      val kids = children.getOrElse(sp.id, Nil).map(c =>
        (math.max(c.startNs, sp.startNs), math.min(c.endNs, sp.endNs))).filter(c => c._2 > c._1)
      val self = (sp.endNs - sp.startNs) - coveredNs(kids.toSeq)
      out.println(Json.obj(Seq("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
        "op" -> sp.op, "start_ns" -> sp.startNs, "end_ns" -> sp.endNs,
        "self_s" -> self / 1e9)))
    } finally out.close()
  }
}

object Tracer {
  final case class JobRec(id: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int],
      desc: String)
  final case class StageRec(id: Int, submissionMs: Long, completionMs: Long)
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
      runMs: Long, deserMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      shuffleRecords: Long, spill: Long, inputBytes: Long, inputRecords: Long,
      outputBytes: Long)
  final case class QeRec(endMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, scanFiles: Long, writeFiles: Long)

  /** Length of the union of [start, end) intervals. */
  def coveredNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}

final case class Counters(jobs: Int, stages: Int, tasks: Int, cpuS: Double, runS: Double,
    deserS: Double, gcS: Double, idleCoreS: Double, shuffleWrite: Long, shuffleRead: Long,
    shuffleRecords: Long, spill: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long, scanFiles: Long, writeFiles: Long, analysisS: Double,
    optimizationS: Double, planningS: Double, compiles: Int, compileS: Double)
