package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties the harness sets around each operation; Spark copies
  * them into every job and stage that operation starts. */
object Props {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
}

/** Task metrics summed per stage attempt. Only the listener thread writes. */
final class StageRec(val stageId: Int, val attempt: Int, val op: String, val phase: String) {
  var submitMs = 0L
  var completeMs = 0L
  var failed = false
  var tasks = 0L
  var failedTasks = 0L
  var emptyTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var peakMemBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "stage" -> stageId, "attempt" -> attempt, "op" -> op, "phase" -> phase,
    "submit_ms" -> submitMs, "complete_ms" -> completeMs, "failed" -> failed,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "empty_tasks" -> emptyTasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "deser_ms" -> deserMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "fetch_wait_ms" -> fetchWaitMs, "spill_disk_bytes" -> spillDiskBytes,
    "peak_mem_bytes" -> peakMemBytes, "input_bytes" -> inputBytes,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes)
}

/** Records job and stage spans, with their task metrics, for the traced run.
  * Events arrive on Spark's listener-bus thread; the harness reads the
  * collected records only after draining the bus. */
final class TraceListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  private def prop(p: java.util.Properties, key: String): String =
    Option(p).flatMap(x => Option(x.getProperty(key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "op" -> prop(e.properties, Props.Op),
      "phase" -> prop(e.properties, Props.Phase), "start_ms" -> e.time,
      "end_ms" -> e.time, "stage_ids" -> e.stageIds, "ok" -> false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val r = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
      new StageRec(i.stageId, i.attemptNumber(), prop(e.properties, Props.Op),
        prop(e.properties, Props.Phase)))
    r.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { r =>
      r.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
      r.failed = i.failureReason.isDefined
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { r =>
      r.tasks += 1
      if (!e.taskInfo.successful) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) r.emptyTasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.deserMs += m.executorDeserializeTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.shuffleReadBytes += sr.localBytesRead + sr.remoteBytesRead
        r.fetchWaitMs += sr.fetchWaitTime
        r.spillDiskBytes += m.diskBytesSpilled
        r.peakMemBytes = math.max(r.peakMemBytes, m.peakExecutionMemory)
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized { jobs.values.map(_.toMap).toSeq }
  def stageRecords: Seq[Map[String, Any]] = synchronized { stages.values.map(_.toMap).toSeq }
}

/** Planning phase times of every executed `QueryExecution`. The callback
  * carries no local properties, so the harness assigns what has arrived to
  * the operation that just ended, after draining the bus. */
final class PlanListener extends QueryExecutionListener {
  private val pending = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    pending.add(Map("func" -> funcName, "ok" -> ok,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, ok = false)

  def takeAll(): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    var x = pending.poll()
    while (x != null) { out += x; x = pending.poll() }
    out.toSeq
  }
}
