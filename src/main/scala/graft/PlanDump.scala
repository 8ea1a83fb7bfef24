package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `.explain("formatted")` for every declared query (or a
  * comma-separated subset) as `<outDir>/<name>_<tag>.txt` — the
  * before/after evidence for an optimization round (plans/r16,
  * plans/r17). Plans only, no execution; on the runner's session the
  * plans match what Bench runs at the same SPARK_GRAFT_CPUS. Usage:
  *   runMain graft.Study PlanDump <outDir> <sfDir> <tag> [q1,q2,…|all]
  */
object PlanDump {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(sfDir, tag) = args.take(2)
    val only = args.lift(2).filter(a => a.nonEmpty && a != "all")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    Study.TextFiles(names.flatMap { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        println(s"[plandump] $n ok")
        Some(s"${n}_$tag.txt" -> txt)
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
        None
      }
    })
  }
}
