package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graftx.JobLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** The shared copy-on-write commit path of the versioned lake.
  *
  * Job and file budget of every DML operation on one fixed shape: 1000 rows in 4 contiguous-id files, predicate
  * `id < 10` (one touched file), `local[4]`, 4 shuffle partitions.
  * Each operation runs on a fresh table; the guard pins the Spark jobs
  * it fires and the data files its commit adds, so a change to the
  * shared commit path that adds a pass or a file shows up here. Replace
  * has an upper bound: its window check and insert count are one
  * aggregate and its tag pin is lazy (5 jobs: source pin, the
  * two-job aggregate, data write, change-feed write). */
class VersionedCowCommitSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def table(): String = {
    val t = tempDir("graftv-budget-").toString
    Versioned.commit(spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") % 7).as("v")), t)
    assert(Versioned.snapshot(t).files.size === 4)
    t
  }

  private def tenRows: DataFrame = {
    import spark.implicits._
    (0L until 10L).map(i => (i, -1L)).toDF("id", "v")
  }

  private def withDv[A](f: => A): A = {
    spark.conf.set("spark.graft.dv.enabled", "true")
    try f finally spark.conf.unset("spark.graft.dv.enabled")
  }

  private val pred = col("id") < 10L

  /** (name, operation, jobs fired, data files added) */
  private val ops: Seq[(String, String => Int, Int, Int)] = Seq(
    ("cow delete", t => Versioned.deleteWhere(spark, t, pred), 2, 1),
    ("cow update", t => Versioned.updateWhere(spark, t, pred,
      Map("v" -> lit(-1L))), 2, 1),
    ("replace", t => Versioned.replaceWhere(tenRows, t, pred), 6, 1),
    ("dv delete", t => withDv(Versioned.deleteWhere(spark, t, pred)), 6, 0),
    ("dv update", t => withDv(Versioned.updateWhere(spark, t, pred,
      Map("v" -> lit(-1L)))), 7, 1),
    ("merge", t => Versioned.merge(tenRows, t, "id"), 13, 1),
    ("optimize", t => Versioned.optimize(spark, t), 2, 1))

  ops.foreach { case (name, op, nJobs, nAdded) =>
    val bound = if (name == "replace") "at most" else "exactly"
    test(s"DML budget: $name fires $bound $nJobs jobs and adds " +
      s"$nAdded data file(s)") {
      val t = table()
      val before = Versioned.snapshot(t).files.toSet
      val (v, jobs) = JobLog.record(spark.sparkContext)(op(t))
      assert(v === 2)
      val added = Versioned.snapshot(t).files.filterNot(before)
      info(s"$name: ${jobs.size} jobs, ${added.size} files added")
      if (name == "replace") assert(jobs.size <= nJobs, jobs.mkString("\n"))
      else assert(jobs.size === nJobs, jobs.mkString("\n"))
      assert(added.size === nAdded, added.mkString("\n"))
    }
  }

  /** Row counts of the live data files, from the files themselves. */
  private def liveRowCounts(t: String): Seq[Long] =
    Versioned.snapshot(t).files.map(f => spark.read.parquet(s"$t/$f").count())

  private val none = col("id") > 5000L

  Seq[(String, String => Int)](
    ("deleteWhere", t => Versioned.deleteWhere(spark, t, none)),
    ("updateWhere", t => Versioned.updateWhere(spark, t, none,
      Map("v" -> lit(-1L)))),
    ("replaceWhere", t => Versioned.replaceWhere(tenRows.limit(0), t, none))
  ).foreach { case (name, op) =>
    test(s"zero-row files: a $name that matches nothing references no " +
      "empty data file") {
      val t = table()
      val before = Versioned.snapshot(t).files
      assert(op(t) === 2)
      assert(Versioned.snapshot(t).files === before)
      assert(liveRowCounts(t).sum === 1000L)
      assert(Versioned.readChanges(spark, t, 1, 2).count() === 0L)
    }
  }

  test("zero-row files: a delete that matches nothing builds no bloom " +
    "sidecar for its unreferenced data file") {
    spark.conf.set(BloomFilters.ColumnsConf, "id")
    try {
      val t = table()
      val (v, jobs) = JobLog.record(spark.sparkContext)(
        Versioned.deleteWhere(spark, t, none))
      assert(v === 2)
      assert(!jobs.exists(_.site.contains("BloomFilters")), jobs.mkString("\n"))
      val live = Versioned.snapshot(t).files
      val sidecars = Files.list(java.nio.file.Paths.get(t, "_bloom"))
      try assert(sidecars.iterator().asScala.map(p => s"_bloom/${p.getFileName}")
        .toSet === live.map(BloomFilters.sidecarRel).toSet)
      finally sidecars.close()
    } finally spark.conf.unset(BloomFilters.ColumnsConf)
  }

  test("zero-row files: a delete of every row leaves an empty live set, " +
    "and history still shows its change feed") {
    val t = table()
    assert(Versioned.deleteWhere(spark, t, col("id") >= 0L) === 2)
    assert(Versioned.snapshot(t).files.isEmpty)
    assert(Versioned.read(spark, t).count() === 0L)
    assert(spark.read.format("graftv").load(t).count() === 0L)
    val h = Versioned.history(spark, t).collect().last
    assert(h.getString(1) === "delete" && h.getBoolean(5))
    assert(Versioned.readChanges(spark, t, 1, 2)
      .where(col("_change_type") === "delete").count() === 1000L)
    // the rewrite left no stray file behind either
    val dataDirs = java.nio.file.Files.list(java.nio.file.Paths.get(t, "data"))
    try assert(dataDirs.iterator().asScala.flatMap(d =>
      Option(d.toFile.list()).toSeq.flatten).count(_.endsWith(".parquet")) === 4)
    finally dataDirs.close()
  }
}
