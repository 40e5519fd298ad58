package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job and the task metrics of every stage it ran. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs = startMs
  var stages, tasks, failures = 0
  var taskMs, cpuNs, gcMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, peakMem = 0L
  var readRecs, readBytes, writeRecs, writeBytes = 0L
}

/** One executed query plan: its planning phases and final-plan shape. */
final case class PlanRec(phases: Seq[(String, Long, Long)],
    exchanges: Int, broadcasts: Int, smj: Int)

/** Everything the benchmark measures about the engine, taken from
  * outside it: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for plans, and CodegenMetrics deltas.
  * Records accumulate until [[take]]; callers [[drain]] the listener bus
  * first, so a window's records are complete when taken.
  */
final class Telemetry(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobOfStage = mutable.Map[Int, JobRec]()
  private val firstLaunch = mutable.Map[(Int, Int), Long]()
  private val plans = mutable.ArrayBuffer[PlanRec]()

  def drain(): Unit = sc.listenerBus.waitUntilEmpty(120000L)

  /** Jobs and plans recorded since the last take. */
  def take(): (Seq[JobRec], Seq[PlanRec]) = synchronized {
    val out = (jobs.toList, plans.toList)
    jobs.clear(); plans.clear()
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    jobs += j
    e.stageIds.foreach(jobOfStage(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    for (j <- jobOfStage.get(si.stageId)) {
      j.stages += 1
      for (sub <- si.submissionTime; first <- firstLaunch.get(key))
        j.schedWaitMs += math.max(0L, first - sub)
    }
    firstLaunch.remove(key)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val launch = e.taskInfo.launchTime
    firstLaunch(key) = firstLaunch.get(key).fold(launch)(math.min(_, launch))
    for (j <- jobOfStage.get(e.stageId)) {
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failures += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        j.readRecs += m.inputMetrics.recordsRead
        j.readBytes += m.inputMetrics.bytesRead
        j.writeRecs += m.outputMetrics.recordsWritten
        j.writeBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val nodes = Telemetry.finalPlanNodes(qe.executedPlan)
    val rec = PlanRec(phases,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      nodes.count(_.isInstanceOf[SortMergeJoinExec]))
    synchronized { plans += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Telemetry {
  /** Every node of the executed final plan, descending through adaptive
    * wrappers, query stages and subqueries. */
  def finalPlanNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => finalPlanNodes(a.executedPlan)
    case s: QueryStageExec => finalPlanNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(finalPlanNodes)
  }

  /** (compiles, compile ms) so far in this JVM.  The histogram keeps
    * every sample until it holds 1028; past that the sum is estimated
    * from the mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    (n, if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n)
  }
}
