package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observers. Jobs and stages are keyed by the
  * `perfbench.call` local property that the loop sets before each call,
  * so each is attributed to the call that caused it, whichever thread
  * submitted it. Query executions reach the listener on the bus thread,
  * where no local property is visible; they take `current`, which is
  * exact because calls run one at a time and the loop drains the bus
  * before it moves to the next call. Records stay in memory and are
  * written once at the end.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageCall = mutable.Map.empty[Int, String]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val queries = mutable.ArrayBuffer.empty[Query]
  @volatile var current: String = ""

  private def callOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(CallKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val call = callOf(e.properties)
    e.stageIds.foreach(stageCall(_) = call)
    jobs += Job(e.jobId, call, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val call = Option(e.properties).map(callOf).filter(_.nonEmpty)
      .getOrElse(stageCall.getOrElse(e.stageInfo.stageId, ""))
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stages(key) = Stage(e.stageInfo.stageId, call)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      Stage(e.stageId, stageCall.getOrElse(e.stageId, "")))
    val info = e.taskInfo
    st.tasks += 1
    st.runMs += m.executorRunTime
    st.cpuNs += m.executorCpuTime
    st.gcMs += m.jvmGCTime
    st.schedMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime)
    st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    st.input += m.inputMetrics.bytesRead
    st.output += m.outputMetrics.bytesWritten
    val recordsIn = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    val recordsOut = m.outputMetrics.recordsWritten +
      m.shuffleWriteMetrics.recordsWritten
    if (recordsIn == 0 && recordsOut == 0) st.emptyTasks += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val call = current
    val phases = qe.tracker.phases
    def phaseMs(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val nodes = PlanWalk.collectWithSubqueries(plan) { case p: SparkPlan => p }
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val bnlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
    val scanFiles = nodes.filter(_.nodeName.contains("Scan"))
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val q = Query(call, phaseMs("analysis"), phaseMs("optimization"),
      phaseMs("planning"), exchanges, bnlj, scanFiles)
    synchronized { queries += q }
  }

  def snapshot(): (Seq[Job], Seq[Stage], Seq[Query]) = synchronized {
    (jobs.toList, stages.values.toList, queries.toList)
  }
}

object Probe {
  val CallKey = "perfbench.call"

  final case class Job(id: Int, call: String, startMs: Long, endMs: Long,
                       stageIds: Seq[Int])

  final case class Stage(id: Int, call: String) {
    var tasks = 0L
    var emptyTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
  }

  final case class Query(call: String, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long, exchanges: Int, bnlj: Int,
                         scanFiles: Long)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
