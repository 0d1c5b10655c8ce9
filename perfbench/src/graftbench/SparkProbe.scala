package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Per-stage totals over its tasks. */
final class StageStats {
  var attempts = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
  var recordsWritten = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

final class JobStats(val jobId: Int, val group: String, val start: Long,
    val stageIds: Seq[Int], val details: String) {
  var end = 0L
  def module: String = CallSite.module(details)
}

final case class BatchStats(runId: String, batchId: Long, start: Long,
    triggerMs: Long, addBatchMs: Long, planningMs: Long, commitMs: Long,
    inputRows: Long)

/** Spark and Structured Streaming listener for traced runs: records
  * every job (with the job group the benchmark set for its op and the
  * call site that submitted it), every stage's task totals, and every
  * micro-batch's progress. Registered only when tracing.
  */
final class SparkProbe extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  val stages = mutable.HashMap.empty[Int, StageStats]
  /** SQL execution id -> call site of the action that started it */
  private val sqlDetails = mutable.HashMap.empty[Long, String]
  val batches = mutable.ArrayBuffer.empty[BatchStats]
  /** stream run id -> job group of the op or probe that started it */
  val streamGroup = mutable.HashMap.empty[String, String]
  @volatile var activeGroup: String = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val raw = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    // streaming jobs run under the query's own group (its run id)
    val group = streamGroup.getOrElse(raw, raw)
    // AQE submits query stages from a pool thread, whose stack holds no
    // caller frame; the SQL execution's call site names the action
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).flatMap(sqlDetails.get).getOrElse("")
    val details = e.stageInfos.sortBy(_.stageId).headOption
      .map(_.details).getOrElse("") + "\n" + exec
    jobs(e.jobId) = new JobStats(e.jobId, group, Clock.fromMillis(e.time),
      e.stageIds, details)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlDetails(s.executionId) = s.details }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = Clock.fromMillis(e.time))
  }

  private def stage(id: Int): StageStats = stages.getOrElseUpdate(id, new StageStats)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).attempts += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.taskRunMs += m.executorRunTime
      s.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.inputBytes += m.inputMetrics.bytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      SparkProbe.this.synchronized { streamGroup(e.runId.toString) = activeGroup }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkProbe.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val start = Clock.fromMillis(java.time.Instant.parse(p.timestamp).toEpochMilli)
        batches += BatchStats(p.runId.toString, p.batchId, start,
          d("triggerExecution"), d("addBatch"), d("queryPlanning"),
          d("walCommit") + d("commitOffsets"), p.numInputRows)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  /** Jobs of one job group (an op or a probe), finished ones only. */
  def jobsOf(group: String): Seq[JobStats] = synchronized {
    jobs.values.filter(j => j.group == group && j.end > 0L).toSeq
  }

  def stagesOf(js: Seq[JobStats]): Seq[StageStats] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  def batchesOf(group: String): Seq[BatchStats] = synchronized {
    batches.filter(b => streamGroup.get(b.runId).contains(group)).toSeq
  }
}
