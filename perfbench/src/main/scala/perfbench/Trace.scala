package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One time base for spans and listener events: seconds since the runner
  * started, from the monotonic clock. Listener events carry wall-clock
  * milliseconds; `fromEpochMs` maps them onto the same axis (±1 ms).
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - nano0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - epoch0) / 1e3
}

/** A timed interval at a layer boundary. `op` is the operation (query or
  * pipeline run) it belongs to; `parent` is the enclosing span's id, -1 for
  * a root.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, end: Double) {
  def dur: Double = end - start
  def contains(t: Double): Boolean = t >= start && t <= end
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val all = ArrayBuffer.empty[Span]

  def span[T](name: String, parent: Int, op: Int)(body: Int => T): T = {
    val id = all.size
    val start = Clock.now
    all += Span(id, name, parent, op, start, start)
    try body(id) finally all(id) = all(id).copy(end = Clock.now)
  }

  def apply(id: Int): Span = all(id)
  def toSeq: Seq[Span] = all.toSeq
}

final case class JobRec(id: Int, submit: Double, end: Double, execId: Long, callSite: String)
final case class StageRec(numTasks: Int, submit: Double, end: Double)
final case class TaskRec(launch: Double, finish: Double, run: Double,
    cpu: Double, gc: Double, deser: Double, schedDelay: Double, shuffleWrite: Long,
    shuffleRead: Long, fetchWait: Double, spill: Long, input: Long, output: Long)
final case class ExecRec(id: Long, description: String)
final case class PlanRec(optimizeS: Double, optimizeStart: Double,
    physicalS: Double, exchanges: Int, broadcastJoins: Int, shuffledJoins: Int)

/** The benchmark's own view of the engine: a SparkListener for jobs,
  * stages, tasks and SQL executions, plus a QueryExecutionListener for
  * planning time and the final (post-AQE) physical plan of every executed
  * query. Registered only for traced passes.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = ArrayBuffer.empty[(Int, Double, Long, String)]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Double]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val execs = ArrayBuffer.empty[ExecRec]
  val plans = ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).headOption.map(_.name)).getOrElse("")
    jobStarts += ((e.jobId, Clock.fromEpochMs(e.time), execId, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = Clock.fromEpochMs(e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val submit = s.submissionTime.map(Clock.fromEpochMs).getOrElse(Double.NaN)
    val end = s.completionTime.map(Clock.fromEpochMs).getOrElse(submit)
    stages += StageRec(s.numTasks, submit, end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val dur = (i.finishTime - i.launchTime).toDouble
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0.0, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      val sr = m.shuffleReadMetrics
      tasks += TaskRec(Clock.fromEpochMs(i.launchTime),
        Clock.fromEpochMs(i.finishTime), m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.executorDeserializeTime / 1e3, delay / 1e3,
        m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
        sr.fetchWaitTime / 1e3, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs += ExecRec(s.executionId, s.description)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def secs(name: String) = phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    val optStart = phases.get("optimization").map(p => Clock.fromEpochMs(p.startTimeMs))
      .getOrElse(Clock.now)
    val c = PlanCounts.of(qe.executedPlan)
    synchronized {
      plans += PlanRec(secs("optimization"), optStart, secs("planning"),
        c.exchanges, c.broadcastJoins, c.shuffledJoins)
    }
  }

  def jobs: Seq[JobRec] = synchronized {
    jobStarts.toSeq.map { case (id, submit, execId, site) =>
      JobRec(id, submit, jobEnds.getOrElse(id, submit), execId, site)
    }
  }
}

/** Exchange and join-strategy counts of a physical plan, walking through
  * AQE wrappers and query stages so the final, re-optimized plan is what is
  * counted once the query has run.
  */
final case class PlanCounts(exchanges: Int, broadcastJoins: Int, shuffledJoins: Int)

object PlanCounts {
  def of(plan: SparkPlan): PlanCounts = {
    var ex, bj, sj = 0
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case _: ReusedExchangeExec =>
        case x =>
          x match {
            case _: ShuffleExchangeLike | _: BroadcastExchangeLike => ex += 1
            case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => bj += 1
            case _: SortMergeJoinExec | _: ShuffledHashJoinExec => sj += 1
            case _ =>
          }
          x.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    visit(plan)
    PlanCounts(ex, bj, sj)
  }
}
