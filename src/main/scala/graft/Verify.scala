package graft
import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the bench's session: correctness runs under the config it measures
    val spark = Study.session()
    new java.io.File(outDir).mkdirs()
    // Fixture preflight (round-5 lesson): an empty/missing table must
    // abort the whole run loudly, not let its queries fail one by one
    // and silently shrink the correctness artifact.
    val counts = Tables.preflight(spark, sfDir)
    System.err.println("[verify] preflight row counts: " +
      counts.map { case (n, c) => s"$n=$c" }.mkString(", "))
    // optional comma-separated subset for fast local iteration (the
    // Bench convention); the driver's full runs leave it unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    def json(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json(JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })))
    // full-surface manifest: lets the checker fail when the correctness
    // artifact is missing entries (the round-5 events gap was silent
    // because nothing compared "what ran" against "what should run").
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      json(JArray(SparkEntry.queries.keys.toList.sorted
        .filter(n => only.forall(_.contains(n))).map(JString(_)))))
    spark.stop()
    if (failures.nonEmpty) {
      // Artifacts for the queries that DID succeed are all written; the
      // nonzero exit makes the partial coverage impossible to miss.
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} FAILED: " +
        failures.mkString(", "))
      sys.exit(3)
    }
  }
}
