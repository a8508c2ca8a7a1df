package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A job as the scheduler reported it. `group` is the job-group local
  * property the harness sets around each anchor and query; jobs launched
  * from threads that did not inherit it (anchor builders' pool threads,
  * streaming execution threads) carry another group or none. */
final case class JobRec(id: Int, group: Option[String], startMs: Long,
    var endMs: Long, stageIds: Seq[Int])

/** Totals over one completed stage attempt, from its aggregated task
  * metrics. */
final case class StageRec(id: Int, attempt: Int, submitMs: Long, endMs: Long,
    tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long,
    inputRecords: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

/** What Catalyst and AQE did for one timed noop write. */
final case class ActionRec(analysisMs: Long, optimizationMs: Long,
    planningMs: Long, planChars: Long, coalesced: Int, skewSplits: Int,
    broadcasts: Int)

/** One micro-batch of a streaming twin. */
final case class BatchRec(runId: String, atMs: Long, inputRows: Long, addBatchMs: Long,
    triggerMs: Long, walCommitMs: Long, stateRows: Long, stateBytes: Long)

/** Listens to the scheduler, the SQL execution bus and the streaming bus
  * while `enabled`, keeping every record in memory. It lives under
  * `org.apache.spark` only to drain the listener bus ([[drain]]), so that
  * a pass's records are complete when the pass is summarized. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val actions = new ConcurrentLinkedQueue[ActionRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      val j = JobRec(e.jobId, group, e.time, -1L, e.stageIds)
      openJobs.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = openJobs.remove(e.jobId)
      if (j != null) j.endMs = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled && e.stageInfo.taskMetrics != null) {
        val i = e.stageInfo
        val m = i.taskMetrics
        stages.add(StageRec(i.stageId, i.attemptNumber(),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled && isNoopWrite(qe)) actions.add(summarize(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches.add(BatchRec(p.runId.toString, System.currentTimeMillis, p.numInputRows,
          d("addBatch"), d("triggerExecution"), d("walCommit") + d("commitOffsets"),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** The timed action is the only write to the noop sink the program sees;
    * the registry's own eager work runs other actions. */
  private def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table.name == "noop-table"
    case _ => false
  }

  private def summarize(qe: QueryExecution): ActionRec = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    var coalesced, skew, bhjFinal, bhjInitial = 0
    def walk(p: SparkPlan, initial: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec =>
        walk(a.executedPlan, initial = false)
        walk(a.initialPlan, initial = true)
      case s: QueryStageExec => walk(s.plan, initial)
      case r: AQEShuffleReadExec =>
        if (!initial) {
          if (r.isCoalescedRead) coalesced += 1
          if (r.hasSkewedPartition) skew += 1
        }
        r.children.foreach(walk(_, initial))
      case other =>
        if (other.isInstanceOf[BroadcastHashJoinExec]) {
          if (initial) bhjInitial += 1 else bhjFinal += 1
        }
        other.children.foreach(walk(_, initial))
        other.subqueries.foreach(walk(_, initial))
    }
    walk(qe.executedPlan, initial = false)
    ActionRec(ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING),
      qe.optimizedPlan.toString.length.toLong, coalesced, skew,
      math.max(0, bhjFinal - bhjInitial))
  }

  /** Take everything recorded so far, oldest first. */
  def takeAll[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  def jobsSnapshot: Seq[JobRec] = jobs.asScala.toSeq
}
