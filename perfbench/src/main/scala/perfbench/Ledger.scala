package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Span and counter recorder for the traced run, registered from outside
  * graft as one `SparkListener` plus one `QueryExecutionListener` per
  * session.
  *
  * The bench sets the local property [[Ledger.SpanKey]] to the id of the
  * current construct or execute span before calling into graft; every job
  * submitted under it carries the id, and stages and tasks are attributed
  * through their job. Untagged work (the untraced passes) is
  * dropped on arrival, so the listeners cost almost nothing there.
  *
  * Events arrive on the listener bus thread. Read the ledger only after the
  * session's `SparkContext` has stopped: stopping drains the bus. */
final class Ledger extends SparkListener with QueryExecutionListener {
  import Ledger._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.Map.empty[Long, Counters]
  val executions = mutable.ArrayBuffer.empty[ExecRec]

  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long)]

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { span =>
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach { st => stageSpan(st) = span; stageJob(st) = e.jobId }
    }
  }

  /** Job and stage ids restart with every SparkContext, and the cold
    * workloads start one per pass. */
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = synchronized {
    stageSpan.clear()
    stageJob.clear()
    jobSpan.clear()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      jobs += JobRec(e.jobId, span, start, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { span =>
      stages += StageRec(info.stageId, info.attemptNumber(), span,
        stageJob.getOrElse(info.stageId, -1), info.numTasks,
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = tasks.getOrElseUpdate(span, new Counters)
      val sr = m.shuffleReadMetrics
      c.tasks += 1
      c.durationMs += e.taskInfo.duration
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.resultBytes += m.resultSize
      c.bytesRead += m.inputMetrics.bytesRead
      c.rowsRead += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
      c.fetchWaitMs += sr.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** SQL executions carry no local properties here, so they are kept
    * with their planning start time and attributed to the construct or
    * execute span whose interval contains it. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def secs(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val at = phases.get("planning").orElse(phases.get("optimization"))
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val rec = ExecRec(at, secs("analysis"), secs("optimization"), secs("planning"),
      joinRows(qe.executedPlan), outputRows(qe.executedPlan))
    synchronized { executions += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Ledger {
  val SpanKey = "perfbench.span"

  final case class JobRec(id: Int, span: Long, start: Long, end: Long)
  final case class StageRec(id: Int, attempt: Int, span: Long, job: Int, numTasks: Int,
      start: Long, end: Long)
  final case class ExecRec(atMs: Long, analysisS: Double, optimizationS: Double,
      planningS: Double, joinRows: Long, outputRows: Long)

  final class Counters {
    var tasks, durationMs, runMs, cpuNs, gcMs, resultBytes, bytesRead, rowsRead,
      bytesWritten, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  }

  /** Children of a node, looking through adaptive query stages. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children ++ other.subqueries
  }

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Output rows of every join operator in an executed plan. */
  def joinRows(plan: SparkPlan): Long = {
    val own = plan match {
      case j: BaseJoinExec => rows(j).getOrElse(0L)
      case _ => 0L
    }
    own + kids(plan).map(joinRows).sum
  }

  /** Rows the plan delivers: the row count of the topmost node that keeps
    * one, below the write and any single-child nodes that keep none. */
  def outputRows(plan: SparkPlan): Long = rows(plan).filter(_ > 0)
    .getOrElse(kids(plan) match {
      case Seq(only) => outputRows(only)
      case _ => 0L
    })
}
