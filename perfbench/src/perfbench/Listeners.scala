package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Micro-batch progress of every streaming query. `StreamingQueryProgress`
  * events of every `newSession()` clone are posted to the SparkContext's
  * shared listener bus, so this one light listener sees them all. It runs
  * in traced and untraced runs alike. */
final class ProgressListener extends SparkListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized { buf += p.progress }
    case _ =>
  }
  /** Every progress report since the last call. */
  def take(): Seq[StreamingQueryProgress] = synchronized {
    val out = buf.toList; buf.clear(); out
  }
}

final case class JobRec(id: Int, start: Long, end: Long, gate: String, stageIds: Seq[Int])
final case class StageRec(id: Int, attempt: Int, submit: Long, end: Long)

/** Execution-layer recorder, attached only during traced passes: job and
  * stage intervals (for spans), task totals, and the RDDs stages read
  * from or wrote to a storage level. */
final class TraceListener extends SparkListener {
  private val jobStarts = mutable.Map.empty[Int, JobStartRec]
  private final case class JobStartRec(start: Long, gate: String, stageIds: Seq[Int])
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val persisted = mutable.Set.empty[Int]
  private val t = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def reset(): Unit = synchronized {
    jobStarts.clear(); jobs.clear(); stages.clear(); stageSubmit.clear()
    persisted.clear(); t.clear()
  }

  private def notePersisted(info: StageInfo): Unit =
    info.rddInfos.foreach(r => if (r.storageLevel.isValid) persisted += r.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val gate = Option(e.properties).map(_.getProperty(Runner.GateProperty)).orNull
    jobStarts(e.jobId) = JobStartRec(e.time, gate, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += JobRec(e.jobId, s.start, e.time, s.gate, s.stageIds))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
    notePersisted(i)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val submit = stageSubmit.getOrElse((i.stageId, i.attemptNumber()),
      i.submissionTime.getOrElse(0L))
    stages += StageRec(i.stageId, i.attemptNumber(), submit,
      i.completionTime.getOrElse(System.currentTimeMillis()))
    notePersisted(i)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    t("tasks") += 1
    if (info.failed) t("failed_tasks") += 1
    val submit = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), info.launchTime)
    t("task_wait_ms") += math.max(0L, info.launchTime - submit)
    val m = e.taskMetrics
    if (m != null) {
      t("task_run_ms") += m.executorRunTime
      t("task_gc_ms") += m.jvmGCTime
      t("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      t("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      t("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** (jobs, stages, persisted RDD count, task totals) since `reset`. */
  def snapshot(): (Seq[JobRec], Seq[StageRec], Int, Map[String, Double]) = synchronized {
    (jobs.toList, stages.toList, persisted.size, t.toMap.withDefaultValue(0.0))
  }
}

/** Catalyst phase times of every executed query. Registered through the
  * static conf `spark.sql.queryExecutionListeners`, so every
  * `newSession()` clone (including the ones `StreamOps.tuned` makes)
  * instantiates one; all of them report into [[Catalyst]]. */
final class CatalystListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Catalyst.record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Catalyst.record(qe)
}

object Catalyst {
  @volatile var enabled = false
  private val t = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def record(qe: QueryExecution): Unit = if (enabled) synchronized {
    t("executions") += 1
    val phases = qe.tracker.phases
    for (p <- Seq("analysis", "optimization", "planning"))
      t(s"${p}_ms") += phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
  }

  /** Totals since the last call. */
  def take(): Map[String, Double] = synchronized {
    val out = Seq("executions", "analysis_ms", "optimization_ms", "planning_ms")
      .map(k => k -> t(k)).toMap
    t.clear(); out
  }
}
