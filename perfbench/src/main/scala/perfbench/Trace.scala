package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side work of one operation, summed over its tasks. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedWaitMs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var pregelJobs = 0L; val pregelRounds = mutable.Set.empty[Int]
}

/** One finished job: its operation (job group), the harness span it ran
  * in, its description and its driver-side interval. */
final case class JobRec(op: String, span: String, desc: String,
                        startMs: Long, endMs: Long)

/** One completed stage of an operation. */
final case class StageRec(op: String, stageId: Int, tasks: Int, startMs: Long, endMs: Long)

/** One executed query (from the QueryExecutionListener): planning phase
  * times and whether the physical plan holds one of the repo's execs. */
final case class QeRec(func: String, analysisMs: Double, optimizationMs: Double,
                       planningMs: Double, graftExec: Boolean)

/** Listener for the traced run. Jobs, stages and tasks are attributed by
  * the job group the harness sets per operation (one group per op id) and
  * the `perfbench.span` local property per span; query executions carry
  * no group, so they are attributed by draining the bus at each span
  * boundary ([[drain]]) — the harness is a single closed-loop client, so
  * everything posted between two drains belongs to the span in between. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val SpanProp = "perfbench.span"
  private val jobGroup = mutable.Map.empty[Int, (String, String, String, Long)]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  val exec = mutable.Map.empty[String, ExecTotals]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val pendingQe = mutable.ArrayBuffer.empty[QeRec]

  private def totals(op: String) = exec.getOrElseUpdate(op, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val op = prop("spark.jobGroup.id")
    val desc = prop("spark.job.description")
    jobGroup(e.jobId) = (op, prop(SpanProp), desc, e.time)
    e.stageIds.foreach(s => stageOp(s) = op)
    if (op.nonEmpty) {
      val t = totals(op)
      t.jobs += 1
      t.stages += e.stageInfos.count(_.numTasks > 0)
      if (desc.startsWith("pregel:")) {
        t.pregelJobs += 1
        "round-(\\d+)".r.findFirstMatchIn(desc).foreach(m => t.pregelRounds += m.group(1).toInt)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (op, span, desc, start) =>
      if (op.nonEmpty) jobs += JobRec(op, span, desc, start, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val op = stageOp.getOrElse(i.stageId, "")
    if (op.nonEmpty) stages += StageRec(op, i.stageId, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, "")
    if (op.nonEmpty) {
      val t = totals(op)
      t.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) t.failedTasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
        t.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def phaseMs(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
      .getOrElse(0.0)

  private def record(func: String, qe: QueryExecution): Unit = {
    val graft = try find(qe.executedPlan)(_.getClass.getName.startsWith("pystreamsspark.")).isDefined
    catch { case _: Throwable => false }
    val r = QeRec(func, phaseMs(qe, "analysis"), phaseMs(qe, "optimization"),
      phaseMs(qe, "planning"), graft)
    synchronized { pendingQe += r }
  }

  override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit =
    record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    record(func, qe)

  /** Wait until every event posted so far has been delivered, then hand
    * over the query executions seen since the previous drain. */
  def drain(): Seq[QeRec] = {
    BusShim.waitUntilEmpty(sc)
    synchronized { val r = pendingQe.toList; pendingQe.clear(); r }
  }

  def jobsOf(op: String): Seq[JobRec] = synchronized { jobs.filter(_.op == op).toList }
  def stagesOf(op: String): Seq[StageRec] = synchronized { stages.filter(_.op == op).toList }
}

object Tracer {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) { if (curB >= 0) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }
}
