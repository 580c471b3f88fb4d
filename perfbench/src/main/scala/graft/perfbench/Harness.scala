package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The closed-loop client: runs one op call at a time, times it, counts
  * failures, and — once tracing is on — attributes every Spark job,
  * stage, task and planned query of the call to the phase it ran in.
  */
final class Harness(val spark: SparkSession) {
  private val sc = spark.sparkContext
  private var recorder: Option[Recorder] = None
  private var callId = 0L
  private var phaseWindows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var cacheAtDrain = (0, 0L)
  private var buildAnalysisMs = 0L

  /** Every timed op call, in order. */
  val calls = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  /** Wall seconds, process CPU seconds and GC ms spent in untimed checks
    * inside the timed window. */
  var pausedS = 0.0
  var pausedCpuS = 0.0
  var pausedGcMs = 0L

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def processCpuS: Double = osBean.getProcessCpuTime / 1e9
  def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

  def tracing: Boolean = recorder.isDefined

  def spans: Seq[Map[String, Any]] = recorder.map(_.spans).getOrElse(Seq.empty)

  def startTracing(): Recorder = {
    val r = new Recorder(sc)
    sc.addSparkListener(r)
    spark.listenerManager.register(r)
    recorder = Some(r)
    r
  }

  /** Run `body` as one op call named `op`; returns whether it succeeded. */
  def call(op: String)(body: => Unit): Boolean = {
    callId += 1
    phaseWindows = mutable.ArrayBuffer.empty
    cacheAtDrain = (0, 0L)
    buildAnalysisMs = 0L
    recorder.foreach(_.take())
    val t0 = System.nanoTime()
    val err =
      try {
        recorder match {
          case Some(r) => r.span(op, callId)(body)
          case None => body
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val rec = mutable.LinkedHashMap[String, Any](
      "op" -> op, "wall_s" -> wall, "ok" -> err.isEmpty,
      "traced" -> tracing)
    err.foreach { e =>
      System.err.println(s"[perfbench] op $op failed: $e")
      rec("error") = e.take(500)
    }
    recorder.foreach(r => rec ++= breakdown(r))
    calls += rec
    err.isEmpty
  }

  /** Time `body` as a named phase of the current call. */
  def phase[T](name: String)(body: => T): T = recorder match {
    case None => body
    case Some(r) =>
      sc.setLocalProperty(Recorder.PhaseKey, name)
      val t0 = System.currentTimeMillis()
      try r.span(name, callId)(body)
      finally {
        phaseWindows += ((name, t0, System.currentTimeMillis()))
        sc.setLocalProperty(Recorder.PhaseKey, null)
      }
  }

  /** Release the caches operators registered, noting what they held. */
  def drainCaches(): Unit = phase("drain") {
    if (tracing) cacheAtDrain = (graft.CacheRegistry.liveCount,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    graft.CacheRegistry.drain()
  }

  /** Fully execute `df` without collecting it (the noop sink runs every
    * operator of the physical plan). */
  def drainRows(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build, plan, execute and drain one DataFrame-returning op; `sink`
    * consumes the result (the noop sink unless the call is a check). */
  def query(op: String, sink: DataFrame => Unit = drainRows)(build: => DataFrame): Boolean =
    call(op) {
      val df = phase("build")(build)
      // the result frame is analyzed when it is built; its own tracker
      // holds that analysis, which no action reports to the listener
      if (tracing) buildAnalysisMs += df.queryExecution.tracker.phases
        .get("analysis").map(_.durationMs).getOrElse(0L)
      phase("exec")(sink(df))
      drainCaches()
    }

  /** Run an untimed check inside the timed window; its wall, CPU and GC
    * time are kept out of the window's totals. */
  def untimed[T](body: => T): T = {
    val (t0, cpu0, gc0) = (System.nanoTime(), processCpuS, gcMs)
    try body
    finally {
      pausedS += (System.nanoTime() - t0) / 1e9
      pausedCpuS += processCpuS - cpu0
      pausedGcMs += gcMs - gc0
    }
  }

  private def breakdown(r: Recorder): Map[String, Any] = {
    val (stages, jobs, qes) = r.take()
    def within(ms: Long, phase: String => Boolean) = phaseWindows.exists {
      case (n, a, b) => phase(n) && ms >= a && ms <= b
    }
    val execQes = qes.filter(q => within(q.startMs, n => n == "exec" || n.endsWith(".exec")))
    def phaseSum(k: String) = execQes.map(_.phases.getOrElse(k, 0L)).sum
    Map(
      "phase_ms" -> phaseWindows.groupMapReduce(_._1)(w => w._3 - w._2)(_ + _),
      "catalyst" -> Map(
        "analysis_ms" -> (phaseSum("analysis") + buildAnalysisMs),
        "optimization_ms" -> phaseSum("optimization"),
        "planning_ms" -> phaseSum("planning"),
        "rule_runs" -> qes.map(_.ruleRuns).sum,
        "rule_effective" -> qes.map(_.ruleEffective).sum,
        "graft_rule_fires" -> qes.map(_.graftFires).sum,
        "queries" -> qes.size),
      "jobs" -> jobs.groupMapReduce(identity)(_ => 1)(_ + _),
      "stages" -> stages.map { s =>
        Map("phase" -> s.phase, "submitted_ms" -> s.submitted,
          "completed_ms" -> s.completed, "tasks" -> s.tasks,
          "task_ms" -> s.taskMs, "max_task_ms" -> s.maxTaskMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "input_bytes" -> s.inBytes,
          "shuffle_write_bytes" -> s.shW, "shuffle_read_bytes" -> s.shR,
          "spill_bytes" -> s.spill, "peak_exec_mem_bytes" -> s.peakMem)
      },
      "cache" -> Map("tracked" -> cacheAtDrain._1, "stored_bytes" -> cacheAtDrain._2))
  }

  /** Median wall of `reps` runs of `body`, plus the jobs one run starts. */
  def probe(name: String, reps: Int)(body: => Unit): (Double, Double) = {
    val r = recorder.get
    r.take()
    sc.setLocalProperty(Recorder.PhaseKey, name)
    val walls = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      r.span(name, -2L)(body)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    sc.setLocalProperty(Recorder.PhaseKey, null)
    (walls(walls.size / 2), r.take()._2.size.toDouble / reps)
  }
}
