package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.JobLog
import org.json4s.JsonDSL._

import graft.Study
import graft.Study.{obj, secs}

/** Per-stage profile of one declared query: runs it through the noop
  * sink twice (cold, then warm under a [[JobLog]] trace) and reports,
  * for the warm lap, its jobs and each stage's task count, summed and
  * maximum task run time and shuffle bytes read, heaviest stage first.
  * Usage: runMain graft.Study ProfileQ <out.json> <sfDir> <query>
  */
object ProfileQ {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(sfDir, name) = args.take(2)
    def lap(): Double = secs {
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    val cold = lap()
    val (warm, jobs, tasks) = JobLog.trace(spark.sparkContext)(lap())
    val stages = tasks.groupBy(_.stage).toSeq.map { case (id, ts) =>
      (id, ts.size, ts.map(_.runMs).sum, ts.map(_.runMs).max,
        ts.map(_.shuffleReadBytes).sum)
    }.sortBy(-_._3)
    println(f"[profq] $name cold $cold%.3f warm $warm%.3f, " +
      s"${jobs.size} jobs, ${stages.size} stages run")
    Study.Json(obj("query" -> name, "cold_sec" -> cold, "warm_sec" -> warm,
      "jobs" -> jobs.map(j => obj("site" -> j.site, "stages" -> j.stages)),
      "stages" -> stages.map { case (id, n, sum, max, read) =>
        obj("stage" -> id, "tasks" -> n, "task_ms_sum" -> sum,
          "task_ms_max" -> max, "shuffle_read_bytes" -> read)
      }))
  }
}
