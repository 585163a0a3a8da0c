package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own events, as plain records. Times are epoch milliseconds,
  * the clock Spark stamps its listener events with.
  */
object Events {
  final case class Job(id: Int, start: Long, stages: Seq[Int],
                       callSite: String)
  final case class Stage(id: Int, submitted: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                        cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
                        fetchWaitMs: Long, spill: Long, peakMem: Long,
                        input: Long, ok: Boolean)
  final case class Qe(start: Long, analysisMs: Long, optimizationMs: Long,
                      planningMs: Long, exchanges: Int, cacheScans: Int,
                      fileScans: Int)
  /** One benchmark operation: public calls from `start`, the consuming
    * action from `actionStart` to `end`.
    */
  final case class OpWindow(id: Int, start: Long, actionStart: Long,
                            end: Long)
}

/** Collects listener events in memory while tracing is on. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Events._
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  @volatile var on = false

  /** Long-form call site of each SQL execution, by execution id. */
  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if on =>
      sqlSites.put(s.executionId.toString, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    // the final stage's details carry the job's long-form call site; a job
    // Spark submits from its own pool (a broadcast, a subquery) has no
    // engine frame there, so it takes the call site of its SQL execution
    val own = e.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).getOrElse("")
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlSites.get(id)))
    val site =
      if (Trace.innermostGraftFrame(own).startsWith("spark:")) exec.getOrElse(own)
      else own
    jobs.add(Job(e.jobId, e.time, e.stageIds, site))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (on) stages.add(Stage(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      m.map(f).getOrElse(0L)
    tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
      g(_.executorRunTime), g(_.executorCpuTime),
      g(_.shuffleWriteMetrics.bytesWritten),
      g(t => t.shuffleReadMetrics.localBytesRead +
        t.shuffleReadMetrics.remoteBytesRead),
      g(_.shuffleReadMetrics.fetchWaitTime),
      g(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      g(_.peakExecutionMemory), g(_.inputMetrics.bytesRead),
      i.successful))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = if (on) record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = if (on) record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis())
    val (ex, cache, file) = PlanShape.counts(qe.executedPlan)
    qes.add(Qe(start, ms("analysis"), ms("optimization"), ms("planning"),
      ex, cache, file))
  }

  def snapshot: (Seq[Job], Seq[Stage], Seq[Task], Seq[Qe]) =
    (jobs.asScala.toSeq, stages.asScala.toSeq, tasks.asScala.toSeq,
     qes.asScala.toSeq)
}

/** Exchange and scan counts of a final physical plan, looking inside
  * adaptive query stages.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  def counts(plan: SparkPlan): (Int, Int, Int) = {
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val ex = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.length
    val cache = collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }
      .length
    val file = collectWithSubqueries(p) { case s: FileSourceScanExec => s }
      .length
    (ex, cache, file)
  }
}
