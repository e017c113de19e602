package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM: build the session, run the cold
  * cycle and then warm operations as a closed loop with one client until
  * the window closes, check every output, and write a result file for
  * the runner (perfbench/run.py) to turn into metrics.
  *
  * Usage: graftbench.BenchMain --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --inputs <dir> --work <dir> --out <file> [--inject-fault]
  */
object BenchMain {

  /** local[4]: the core count the workload sizes were chosen for. */
  val Cores = 4

  final case class OpRec(i: Int, label: String, traced: Boolean, durS: Double,
      gcS: Double, ok: Boolean, phases: Map[String, Double], resultRows: Long,
      counters: Option[Counters])

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val inject = args.contains("--inject-fault")
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceMode = opts("trace") == "1"
    val (inputs, work, out) = (opts("inputs"), opts("work"), opts("out"))

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(Cores, "graftbench")
    val sessionBuildS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = workload match {
      case "knn_classify" => new KnnClassify(spark, inputs, work)
      case "query_floor" => new QueryFloor(spark, inputs, work, seed)
      case "ann_index" => new AnnIndex(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = if (traceMode) Some(new Tracer(spark, Cores)) else None

    val ops = ArrayBuffer[OpRec]()
    val tablesLoadS = ArrayBuffer[Double]()
    val runStartNs = Clock.nowNs
    def runOp(i: Int): Unit = {
      // a traced run traces the cold cycle and every other warm op; the
      // untraced ones in between give the tracing overhead
      val traced = tracer.isDefined && (i < wl.coldOps || (i - wl.coldOps) % 2 == 1)
      val tr = if (traced) tracer else None
      spark.catalog.clearCache()
      (wl, tr) match {
        case (q: QueryFloor, Some(t)) if i >= wl.coldOps =>
          tablesLoadS += t.op(i, "tables.load probe")(q.tablesLoad(t))._1
        case _ =>
      }
      val gc0 = gcSeconds()
      val s = System.nanoTime()
      tr.foreach(_.attach())
      val res = try {
        val (out, span) = tr match {
          case Some(t) => t.op(i, wl.label(i))(wl.op(i, tr))
          case None => (wl.op(i, None), null)
        }
        tr.foreach(_.detach())
        Right((out, Option(span)))
      } catch {
        case e: Throwable =>
          tr.foreach(t => scala.util.Try(t.detach()))
          System.err.println(s"[graftbench] op $i (${wl.label(i)}) failed: $e")
          e.printStackTrace()
          Left(e)
      }
      val durS = (System.nanoTime() - s) / 1e9
      val gcS = gcSeconds() - gc0
      ops += (res match {
        case Right((o, span)) =>
          OpRec(i, wl.label(i), traced, durS, gcS, ok = true, o.phases, o.resultRows,
            for (t <- tr; sp <- span) yield t.counters(sp))
        case Left(_) =>
          OpRec(i, wl.label(i), traced, durS, gcS, ok = false, Map.empty, 0L, None)
      })
    }

    var i = 0
    while (i < wl.coldOps) { runOp(i); i += 1 }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var warm = 0
    while (System.nanoTime() < deadline || warm < wl.minWarmOps || warm % wl.coldOps != 0) {
      runOp(i); i += 1; warm += 1
    }
    val runEndNs = Clock.nowNs
    val rss = peakRssMb()

    // oracles, outside the measured window
    val (bad, details) = try wl.verify(i, inject) catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] verification failed: $e")
        e.printStackTrace()
        ((0 until i).toSet, Map.empty[String, Any])
    }
    tracer.foreach(_.writeSpans(s"$work/spans.jsonl", workload, runStartNs, runEndNs))

    def countersJson(c: Counters): Map[String, Any] = Map(
      "sched.jobs" -> c.jobs, "sched.stages" -> c.stages, "sched.tasks" -> c.tasks,
      "exec.cpu_s" -> c.cpuS, "exec.run_s" -> c.runS, "exec.deser_s" -> c.deserS,
      "exec.gc_s" -> c.gcS, "sched.idle_core_s" -> c.idleCoreS,
      "shuffle.write_bytes" -> c.shuffleWrite, "shuffle.read_bytes" -> c.shuffleRead,
      "shuffle.records" -> c.shuffleRecords, "spill_bytes" -> c.spill,
      "scan.input_bytes" -> c.inputBytes, "scan.input_records" -> c.inputRecords,
      "scan.files" -> c.scanFiles, "write.bytes" -> c.outputBytes,
      "write.files" -> c.writeFiles, "plan.analysis_s" -> c.analysisS,
      "plan.optimization_s" -> c.optimizationS, "plan.planning_s" -> c.planningS,
      "codegen.compiles" -> c.compiles, "codegen.compile_s" -> c.compileS)
    val result = Json.obj(Seq(
      "workload" -> workload,
      "main_epoch_ms" -> mainEpochMs,
      "session_build_s" -> sessionBuildS,
      "cold_ops" -> wl.coldOps,
      "peak_rss_mb" -> rss,
      "tables_load_s" -> tablesLoadS.toSeq,
      "failed_ops" -> bad.toSeq.sorted,
      "details" -> details,
      "ops" -> ops.map(o => Map(
        "i" -> o.i, "label" -> o.label, "traced" -> o.traced, "dur_s" -> o.durS,
        "gc_s" -> o.gcS, "ok" -> o.ok, "phases" -> o.phases, "result_rows" -> o.resultRows,
        "counters" -> o.counters.map(countersJson).orNull)).toSeq))
    java.nio.file.Files.write(java.nio.file.Paths.get(out), result.getBytes("UTF-8"))
    spark.stop()
  }
}
