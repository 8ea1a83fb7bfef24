package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds so the
  * benchmark's own spans and Spark's job/stage events share a clock.
  * `op` is the operation's key (`<lap>:<name>`); `parent` is -1 for an
  * operation span. */
final case class Span(id: Long, parent: Long, op: String, level: String,
    name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Double] = Map.empty)

/** Spans and counters of the traced run, kept in memory until the run
  * ends. Operation, phase (build/plan/exec) and AL spans come from the
  * benchmark's code; job and stage spans come from a SparkListener, and
  * write-command metrics from a QueryExecutionListener. Jobs find their
  * operation and parent phase span through local properties set on the
  * driver thread, which Spark copies into every job it submits. Write
  * metrics go to `currentOp`: the runner drains the bus before and after
  * each traced operation, so no write lands outside its operation. */
final class Tracer(epochMs: Long, epochNs: Long)
    extends SparkListener with QueryExecutionListener {

  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private final class Job(val id: Int, val op: String, val parent: Long,
      val start: Long, val stageIds: Seq[Int]) { var end = -1L }
  private final class StageAgg(val op: String, val jobId: Int) {
    var submitted = -1L; var completed = -1L
    var tasks = 0L; var failures = 0L; var runMs = 0L; var cpuNs = 0L
    var schedMs = 0L; var shufRead = 0L; var shufWrite = 0L
    var spill = 0L; var input = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val stageOwner = mutable.HashMap.empty[Int, (String, Int)]
  private val writes = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  @volatile var currentOp: String = ""

  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def newId(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  /** Time `body` as a span and return its result. */
  def span[T](id: Long, parent: Long, op: String, level: String,
      name: String)(body: => T): T = {
    val t0 = nowMs
    try body finally add(Span(id, parent, op, level, name, t0, nowMs))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    if (op.nonEmpty) {
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new Job(e.jobId, op, parent, e.time, e.stageIds)
      e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (op, e.jobId)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def agg(stageId: Int, attempt: Int): Option[StageAgg] =
    stageOwner.get(stageId).map { case (op, job) =>
      stages.getOrElseUpdate((stageId, attempt), new StageAgg(op, job))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      agg(i.stageId, i.attemptNumber()).foreach { a =>
        a.submitted = i.submissionTime.getOrElse(-1L)
        a.completed = i.completionTime.getOrElse(-1L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    agg(e.stageId, e.stageAttemptId).foreach { a =>
      a.tasks += 1
      if (!e.taskInfo.successful) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        // the Spark UI's scheduler delay: task wall time not spent
        // deserializing, running, serializing or fetching the result
        val gettingResult =
          if (e.taskInfo.gettingResultTime > 0)
            e.taskInfo.finishTime - e.taskInfo.gettingResultTime
          else 0L
        a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          gettingResult)
      }
    }
  }

  private def writesIn(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case a: AdaptiveSparkPlanExec => writesIn(a.executedPlan)
    case q: QueryStageExec => writesIn(q.plan)
    case c: CommandResultExec => writesIn(c.commandPhysicalPlan)
    case other => other.children.flatMap(writesIn)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ws = writesIn(qe.executedPlan)
    if (ws.nonEmpty && currentOp.nonEmpty) {
      def m(k: String): Long =
        ws.map(_.cmd.metrics.get(k).map(_.value).getOrElse(0L)).sum
      synchronized {
        writes += ((currentOp, m("numFiles"), m("numOutputRows"),
          m("numOutputBytes")))
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Every span recorded so far: the benchmark's own spans, then one
    * span per job and per stage attempt with its counters. */
  def allSpans: Seq[Span] = synchronized {
    val submitted = stages.toSeq.groupMap(_._1._1)(_._2.submitted)
    // a stage a job lists but does not submit while it runs was skipped:
    // its shuffle output already existed from an earlier job
    val jobSpans = jobs.values.toSeq.map { j =>
      val end = math.max(j.end, j.start)
      val skipped = j.stageIds.count(s => !submitted.getOrElse(s, Nil)
        .exists(t => t >= j.start && t <= end))
      Span(-j.id.toLong - 1, j.parent, j.op, "job", s"job ${j.id}",
        j.start.toDouble, end.toDouble,
        Map("stages_skipped" -> skipped.toDouble))
    }
    val stageSpans = stages.toSeq.map { case ((sid, att), a) =>
      Span(-1000000L - sid * 16L - att, -a.jobId.toLong - 1, a.op, "stage",
        s"stage $sid.$att", a.submitted.toDouble,
        math.max(a.completed, a.submitted).toDouble,
        Map("tasks" -> a.tasks.toDouble, "task_failures" -> a.failures.toDouble,
          "executor_run_s" -> a.runMs / 1e3, "executor_cpu_s" -> a.cpuNs / 1e9,
          "sched_delay_s" -> a.schedMs / 1e3,
          "shuffle_read_mb" -> a.shufRead / 1048576.0,
          "shuffle_write_mb" -> a.shufWrite / 1048576.0,
          "spill_mb" -> a.spill / 1048576.0,
          "input_mb" -> a.input / 1048576.0))
    }
    spans.toSeq ++ jobSpans ++ stageSpans
  }

  /** Write-command metrics per operation key: (files, rows, bytes). */
  def writesByOp: Map[String, (Long, Long, Long)] = synchronized {
    writes.toSeq.groupBy(_._1).map { case (op, ws) =>
      op -> ((ws.map(_._2).sum, ws.map(_._3).sum, ws.map(_._4).sum))
    }
  }
}
