package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the traced run. The client runs one op call at a time, so
  * everything recorded between two [[take]]s belongs to one call; each job
  * and stage is further attributed to the phase named by the
  * `perfbench.phase` local property the harness sets around each layer
  * call. Catalyst phase times and rule statistics come from each finished
  * query's `QueryPlanningTracker`. Spans are kept in memory and written at
  * exit.
  */
final class Recorder(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Recorder._

  /** One stage attempt's aggregated task metrics. */
  final class StageRec(val phase: String) {
    var submitted = 0L; var completed = 0L
    var tasks = 0; var taskMs = 0L; var maxTaskMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var inBytes = 0L; var shW = 0L; var shR = 0L
    var spill = 0L; var peakMem = 0L
  }
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  private def phaseOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += phaseOf(e.properties)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val r = new StageRec(phaseOf(e.properties))
      r.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stages((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = r
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach {
        r => r.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      if (m != null) {
        r.tasks += 1
        r.taskMs += m.executorRunTime
        r.maxTaskMs = math.max(r.maxTaskMs, m.executorRunTime)
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.inBytes += m.inputMetrics.bytesRead
        r.shW += m.shuffleWriteMetrics.bytesWritten
        r.shR += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val t = qe.tracker
    val phases = t.phases.map { case (k, v) => k -> v.durationMs }
    val rules = t.rules
    qes += QeRec(
      t.phases.values.map(_.startTimeMs).minOption.getOrElse(0L), phases,
      rules.values.map(_.numInvocations).sum,
      rules.values.map(_.numEffectiveInvocations).sum,
      rules.collect { case (k, v) if k.startsWith("graft.") =>
        v.numEffectiveInvocations }.sum)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  /** Drain the listener bus, then hand back (and forget) everything
    * recorded since the last call. */
  def take(): (Seq[StageRec], Seq[String], Seq[QeRec]) = {
    org.apache.spark.sql.graftshim.Shim.drainListenerBus(sc)
    synchronized {
      val out = (stages.values.toSeq, jobs.toSeq, qes.toSeq)
      stages.clear(); jobs.clear(); qes.clear()
      out
    }
  }

  // -- spans ---------------------------------------------------------
  private val spanLog = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var stack = List.empty[Int]

  /** Time `body` as a span under the innermost open span. */
  def span[T](name: String, call: Long)(body: => T): T = {
    val id = spanLog.size
    val parent = stack.headOption.getOrElse(-1)
    spanLog += Map.empty
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spanLog(id) = Map("id" -> id, "name" -> name, "parent" -> parent,
        "call" -> call, "start_ns" -> t0, "end_ns" -> System.nanoTime())
    }
  }

  def spans: Seq[Map[String, Any]] = spanLog.toSeq
}

object Recorder {
  val PhaseKey = "perfbench.phase"

  /** One finished query's planning record. */
  final case class QeRec(startMs: Long, phases: Map[String, Long],
      ruleRuns: Long, ruleEffective: Long, graftFires: Long)
}
