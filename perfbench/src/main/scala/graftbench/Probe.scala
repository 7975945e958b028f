package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts at the layer boundaries, read through Spark's public listener APIs:
 * tasks, stages and jobs from the scheduler bus, and the SQL metrics of each
 * executed plan from the query-execution listener. Every job carries the label
 * of the benchmark operation that issued it (a local property), so counts are
 * attributed to operations without timing inside the program. */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val stageLabel = mutable.Map.empty[Int, String]
  private val stageExec = mutable.Map.empty[Int, Long]
  private val execLabel = mutable.Map.empty[Long, String]
  private val jobRecs = ArrayBuffer.empty[String]
  private val stageRecs = ArrayBuffer.empty[String]
  private val taskRecs = ArrayBuffer.empty[TaskRec]
  private val planRecs = ArrayBuffer.empty[(Long, PlanRec)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val label = props.flatMap(p => Option(p.getProperty(LabelKey))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    exec.foreach(id => execLabel.getOrElseUpdate(id, label))
    e.stageIds.foreach { s => stageLabel(s) = label; stageExec(s) = exec.getOrElse(-1L) }
    jobRecs += label
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageRecs += stageLabel.getOrElse(e.stageInfo.stageId, "")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      taskRecs += TaskRec(stageLabel.getOrElse(e.stageId, ""), stageExec.getOrElse(e.stageId, -1L),
        e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.executorRunTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
        sr.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val rec = planRec(qe.executedPlan)
    synchronized { planRecs += ((qe.id, rec)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def jobs(p: String => Boolean): Int = synchronized(jobRecs.count(p))
  def stages(p: String => Boolean): Int = synchronized(stageRecs.count(p))
  def tasks(p: String => Boolean): Seq[TaskRec] = synchronized(taskRecs.filter(t => p(t.label)).toSeq)
  def plans(p: String => Boolean): Seq[PlanRec] = synchronized {
    planRecs.collect { case (id, r) if p(execLabel.getOrElse(id, "")) => r }.toSeq
  }
}

object Probe {
  val LabelKey = "graftbench.label"

  final case class TaskRec(label: String, execId: Long, launchMs: Long, finishMs: Long, cpuNs: Long,
      runMs: Long, inBytes: Long, inRecords: Long, shuffleWrite: Long, shuffleRead: Long,
      fetchWaitMs: Long, spill: Long)

  final case class PlanRec(broadcastBytes: Long, broadcastBuildMs: Long, fallbacks: Int)

  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  /** Every node of an executed plan, through adaptive query stages; a reused
   * exchange is counted where it was first built. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case _: ReusedExchangeExec => Seq(p)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def planRec(plan: SparkPlan): PlanRec = {
    val ns = nodes(plan)
    val bc = ns.collect { case b: BroadcastExchangeExec => b }
    def metric(b: SparkPlan, k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
    PlanRec(bc.map(metric(_, "dataSize")).sum, bc.map(metric(_, "buildTime")).sum,
      ns.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum)
  }

  /** Milliseconds of [t0, t1] during which no task of `ts` was running. */
  def idleMs(t0: Long, t1: Long, ts: Seq[TaskRec]): Long = {
    val iv = ts.map(t => (math.max(t0, t.launchMs), math.min(t1, t.finishMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    math.max(0L, (t1 - t0) - covered)
  }
}
