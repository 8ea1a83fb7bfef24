package graft

import java.nio.file.Files

import org.apache.spark.sql.graftx.JobLog
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.preflight`: row counts from parquet footers, no Spark job,
  * and the missing/empty refusals. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): String =
    Files.createTempDirectory("tables-spec").toFile.getAbsolutePath

  test("preflight fires no Spark job once the table schemas are known") {
    // a table's first read infers its schema (a Spark job) in `apply`;
    // the preflight itself must add nothing to that
    Tables.all.foreach(Tables(spark, sf, _))
    val (_, jobs) = JobLog.record(spark.sparkContext) {
      Tables.preflight(spark, sf)
    }
    assert(jobs.isEmpty, jobs.mkString("\n"))
  }

  test("footer counts equal a full count for every fixture table") {
    val counts = Tables.preflight(spark, sf).toMap
    assert(counts.keySet === Tables.all.toSet)
    Tables.all.foreach { n =>
      assert(counts(n) === spark.read.parquet(s"$sf/$n.parquet").count(), n)
    }
  }

  test("a multi-part table directory with _SUCCESS counts every part") {
    val dir = tmpDir()
    spark.range(0, 1000, 1, 3).write.parquet(s"$dir/t.parquet")
    assert(new java.io.File(s"$dir/t.parquet/_SUCCESS").exists())
    assert(new java.io.File(s"$dir/t.parquet").listFiles()
      .count(_.getName.startsWith("part-")) === 3)
    assert(Tables.preflight(spark, dir, Seq("t")) === Seq("t" -> 1000L))
  }

  test("missing and empty tables are refused") {
    val dir = tmpDir()
    val missing = intercept[RuntimeException](
      Tables.preflight(spark, dir, Seq("absent")))
    assert(missing.getMessage.contains("missing fixture table(s)"))
    assert(missing.getMessage.contains("absent"))
    spark.range(0).write.parquet(s"$dir/empty.parquet")
    val empty = intercept[RuntimeException](
      Tables.preflight(spark, dir, Seq("empty")))
    assert(empty.getMessage.contains("fixture table empty"))
    assert(empty.getMessage.contains("EMPTY"))
  }
}
