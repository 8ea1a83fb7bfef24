package org.apache.spark.graftspec

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The jobs one block of driver code fires, for job-budget assertions.
  * The listener bus delivers events asynchronously; it is drained
  * before and after the block (`listenerBus` is private to the
  * `org.apache.spark` package, hence the package of this helper), so
  * the log holds exactly the block's jobs. */
object JobLog {

  /** @param site the result stage's call site (`parquet at X.scala:N`)
    * @param inSqlExecution run under a SQL execution id: a Dataset
    *   action or write; false for driver-side helper jobs such as
    *   parquet schema inference
    * @param stages the job's stages, skipped ones included: 1 for a job
    *   that reads no shuffle */
  final case class Job(site: String, inSqlExecution: Boolean, stages: Int)

  def record[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name).getOrElse("")
        val sql = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        jobs.add(Job(site, sql.isDefined, js.stageInfos.size))
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, jobs.asScala.toList)
    } finally sc.removeSparkListener(listener)
  }
}
