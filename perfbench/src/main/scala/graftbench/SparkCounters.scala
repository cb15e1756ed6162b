package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it. `op` is the benchmark op id the
  * submitting thread carried (see [[SparkCounters.OpProperty]]), when any;
  * `callSite` is the stack of the code that submitted it, as Spark records
  * it, and `execution` the SQL execution it ran for, when any. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, op: Option[String],
    stageIds: Seq[Int], callSite: String = "", execution: Option[Long] = None)

/** One SQL execution: the call site of the action that started it and its
  * physical plan as text. */
final case class SqlExec(callSite: String, plan: String)

/** Task metrics of one completed stage, summed over its tasks. */
final case class StageRec(tasks: Int, runMs: Long, cpuNs: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, outputBytes: Long)

/** Everything the listeners saw between two [[SparkCounters.drain]] calls. */
final case class Counters(jobs: Seq[JobRec], stages: Map[Int, StageRec],
    plan: Map[String, Long], executions: Map[Long, SqlExec] = Map.empty) {

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)

  def forOp(op: String): Counters = copy(jobs = jobs.filter(_.op.contains(op)))

  /** The `spark.*` figures of these jobs, summed (not yet per op). */
  def sparkTotals: Map[String, Double] = {
    val ss = stagesOf(jobs)
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks.toLong).sum.toDouble,
      "spark.task_s" -> ss.map(_.runMs).sum / 1e3,
      "spark.cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleReadBytes).sum / 1e6,
      "spark.spill_mb" -> ss.map(_.spillBytes).sum / 1e6,
      "spark.output_mb" -> ss.map(_.outputBytes).sum / 1e6)
  }

  def jobIntervals: Seq[(Long, Long)] = jobs.map(j => (j.startMs, j.endMs))

  /** The call site of the action a job ran for: that of its SQL execution,
    * which is taken on the action's thread, else the job's own. A job an
    * execution submits from one of Spark's own threads (a broadcast, say)
    * has no user frames of its own. */
  def callSite(j: JobRec): String =
    j.execution.flatMap(executions.get).map(_.callSite).getOrElse(j.callSite)

  def planOf(j: JobRec): String = j.execution.flatMap(executions.get).map(_.plan).getOrElse("")
}

/** Spark's public listener interfaces, registered by the benchmark only in
  * traced runs: a [[SparkListener]] for jobs, stages and task metrics and a
  * [[QueryExecutionListener]] for the executed plans. */
final class SparkCounters private (spark: SparkSession) {
  import SparkCounters._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val plan = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, SqlExec]()
  @volatile private var sentinelSeen: Option[String] = None

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val sentinel = props.flatMap(p => Option(p.getProperty(SentinelProperty)))
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      if (sentinel.isEmpty)
        jobStarts.put(e.jobId, JobRec(e.jobId, e.time, e.time, prop(OpProperty), e.stageIds,
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""),
          prop("spark.sql.execution.id").map(_.toLong)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)) match {
        case Some(j) => jobs.add(j.copy(endMs = e.time))
        case None => sentinelSeen = Some(e.jobId.toString)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, SqlExec(s.details, s.physicalPlanDescription))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stages.put(e.stageInfo.stageId, StageRec(
        e.stageInfo.numTasks, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      PlanWalk.counts(qe.executedPlan).foreach { case (k, v) => add(k, v) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def add(k: String, v: Long): Unit =
    plan.merge(k, java.lang.Long.valueOf(v), (a, b) => java.lang.Long.valueOf(a + b))

  private def register(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Waits until the listeners have seen every event posted so far, then
    * returns and resets what they collected. Events arrive asynchronously;
    * a one-task sentinel job posted after them is delivered after them. It
    * is an RDD job, so it runs no SQL execution the plan counts would see.
    * Throws when the sentinel does not arrive, since the counts would then
    * come out short. */
  def drain(): Counters = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SentinelProperty)
    sc.setLocalProperty(SentinelProperty, "1")
    sentinelSeen = None
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SentinelProperty, prev)
    val deadline = System.currentTimeMillis() + 30000
    while (sentinelSeen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
    if (sentinelSeen.isEmpty)
      throw new IllegalStateException("Spark listener events not delivered within 30 s")
    val out = Counters(
      Iterator.continually(jobs.poll()).takeWhile(_ != null).toList.sortBy(_.id),
      stages.asScala.toMap,
      plan.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      executions.asScala.toMap)
    stages.clear()
    plan.clear()
    executions.clear()
    out
  }
}

object SparkCounters {
  /** Local property that tags the jobs a thread submits with an op id. */
  val OpProperty = "graftbench.op"
  private val SentinelProperty = "graftbench.sentinel"

  def attach(spark: SparkSession): SparkCounters = new SparkCounters(spark).register()

  /** Runs `body` with its jobs tagged as op `op`. Threads started inside
    * inherit the tag (Spark's local properties are inheritable). */
  def tagged[T](spark: SparkSession, op: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, op)
    try body finally sc.setLocalProperty(OpProperty, prev)
  }
}

/** Shuffle exchanges and scanned rows of an executed plan, looking
  * through adaptive query stages. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def counts(plan: SparkPlan): Map[String, Long] = {
    var exchanges, scanRows = 0L
    foreach(plan) {
      case _: ShuffleExchangeLike => exchanges += 1
      case s: InMemoryTableScanExec =>
        scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
    Map("plan.executions" -> 1L, "plan.exchanges" -> exchanges, "plan.scan_rows" -> scanRows)
  }
}
