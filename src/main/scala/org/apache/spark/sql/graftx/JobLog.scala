package org.apache.spark.sql.graftx

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** The jobs and tasks one block of driver code fires: job-budget
  * assertions in the specs, per-task skew and stage profiles in the
  * studies. The listener bus delivers events asynchronously; it is
  * drained before and after the block (`listenerBus` is private to the
  * `org.apache.spark` package, hence the package of this helper), so
  * the log holds exactly the block's jobs and tasks. Nothing installs
  * it by default: only a caller that asks pays for the listener. */
object JobLog {

  /** @param site the result stage's call site (`parquet at X.scala:N`)
    * @param inSqlExecution run under a SQL execution id: a Dataset
    *   action or write; false for driver-side helper jobs such as
    *   parquet schema inference
    * @param stages the job's stages, skipped ones included: 1 for a job
    *   that reads no shuffle */
  final case class Job(site: String, inSqlExecution: Boolean, stages: Int)

  /** One finished task: its stage, executor run time and the shuffle
    * bytes it read (local and remote). */
  final case class Task(stage: Int, runMs: Long, shuffleReadBytes: Long)

  def record[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    val (a, jobs, _) = trace(sc)(body)
    (a, jobs)
  }

  def trace[A](sc: SparkContext)(body: => A): (A, Seq[Job], Seq[Task]) = {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val tasks = new ConcurrentLinkedQueue[Task]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("")
        val sql = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(Job(site, sql.isDefined, js.stageInfos.size))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          tasks.add(Task(te.stageId, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead))
        }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.asScala.toList, tasks.asScala.toList)
    } finally sc.removeSparkListener(listener)
  }
}
