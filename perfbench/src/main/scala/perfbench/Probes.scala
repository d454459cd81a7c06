package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch, from `StreamingQueryProgress`. Times are epoch ms. */
final case class Batch(startMs: Double, rows: Long, phasesMs: Map[String, Long],
                       stateRows: Long, stateBytes: Long, droppedRows: Long) {
  def triggerMs: Long = phasesMs.getOrElse("triggerExecution", 0L)
  def endMs: Double = startMs + triggerMs
}

/** Collects the progress of every micro-batch of the sessions it is
  * attached to. Needed with tracing off too: the end-to-end replay speed
  * and trigger latency come from here. */
final class StreamProbe extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    batches.add(Batch(
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsDroppedByWatermark).sum))
  }
  def in(fromMs: Double, toMs: Double): Seq[Batch] =
    batches.asScala.filter(b => b.startMs >= fromMs && b.startMs <= toMs).toSeq
}

final case class JobRec(id: Int, startMs: Long, callSite: String) {
  @volatile var endMs: Long = -1L
}
final case class StageRec(id: Int, jobId: Int, startMs: Long, endMs: Long, taskMs: Seq[Long])
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, shuffleBytes: Long,
                         spillBytes: Long)
final case class SqlRec(timeMs: Long, description: String, fallbacks: Int, resolved: Boolean)

/** Scheduler, executor and plan events of every job, registered only for
  * the traced passes and the direct calls of a traced run. Executed plans
  * are walked on each SQL-execution start; an execution that has already
  * ended by then is counted as unresolved. */
final class JobProbe extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val sqls = new ConcurrentLinkedQueue[SqlRec]
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    val j = JobRec(e.jobId, e.time, site)
    e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    jobById.put(e.jobId, j)
    jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]).add(i.duration)
    tasks.add(TaskRec(i.launchTime, i.finishTime,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(t => t.shuffleReadMetrics.totalBytesRead + t.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val ts = Option(stageTasks.remove(s.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    stages.add(StageRec(s.stageId, stageJob.getOrDefault(s.stageId, -1),
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L), ts))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      val qe = SQLExecution.getQueryExecution(x.executionId)
      val n = if (qe == null) 0 else JobProbe.fallbacks(qe.executedPlan)
      sqls.add(SqlRec(x.time, Option(x.description).getOrElse(""), n, qe != null))
    case _ =>
  }
}

object JobProbe {
  /** Expressions in `plan` (subqueries included) that Spark evaluates
    * interpreted, because they implement `CodegenFallback`. An adaptive
    * plan is walked in its input form, which does not depend on how far
    * the execution has got. */
  def fallbacks(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => fallbacks(a.inputPlan)
    case p =>
      p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum +
        p.children.map(fallbacks).sum + p.subqueries.map(fallbacks).sum
  }
}
