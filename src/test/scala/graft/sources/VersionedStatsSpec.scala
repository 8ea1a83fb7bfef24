package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Scan-reported statistics (round 16): the manifest records
  * per-file byte size and row count as reserved pseudo-stats
  * (`__graft_bytes`/`__graft_rows`) and the DSv2 scan reports a
  * POST-PRUNING estimate via `SupportsReportStatistics` — without it
  * a DSv2 relation carries `defaultSizeInBytes` (effectively ∞) and
  * a join against a graftv table can never auto-broadcast. */
class VersionedStatsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String =
    tempDir("r16-stats-").toString

  test("commits record size/row pseudo-stats per file") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((0 until 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(2), t)
    val snap = Versioned.snapshot(t)
    assert(snap.files.nonEmpty)
    snap.files.foreach { f =>
      val st = snap.stats(f)
      val sz = st(Versioned.SizeStatKey)
        .asInstanceOf[Versioned.LongStat]
      val rw = st(Versioned.RowsStatKey)
        .asInstanceOf[Versioned.LongStat]
      assert(sz.lo === sz.hi && sz.lo ===
        java.nio.file.Files.size(java.nio.file.Paths.get(t, f)))
      assert(rw.lo === rw.hi && rw.lo > 0)
    }
    assert(snap.files.map(f => snap.stats(f)(Versioned.RowsStatKey)
      .asInstanceOf[Versioned.LongStat].lo).sum === 100L)
  }

  test("DSv2 relation reports log sizes: logical stats are real, " +
      "not the ∞ default") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((0 until 1000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(2), t)
    val df = spark.read.format("graftv").load(t)
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val onDisk = Versioned.snapshot(t).files.map(f =>
      java.nio.file.Files.size(java.nio.file.Paths.get(t, f))).sum
    assert(size === BigInt(onDisk),
      s"expected $onDisk from the log, got $size")
  }

  test("pushed range filters shrink the estimate (file pruning " +
      "reflected before execution)") {
    import spark.implicits._
    val t = tmp()
    // two files with DISJOINT id ranges — a range predicate prunes one
    Versioned.commit((0 until 500).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    Versioned.commit((1000 until 1500).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    val full = spark.read.format("graftv").load(t)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val pruned = spark.read.format("graftv").load(t)
      .where(col("id") < 100L)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(pruned < full, s"pruned $pruned !< full $full")
  }

  test("a small graftv dimension auto-broadcasts in a join") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((0 until 100).map(i => (i.toLong, s"name$i"))
      .toDF("id", "name").repartition(1), t)
    val dim = spark.read.format("graftv").load(t)
    val fact = spark.range(0, 100000)
      .select(pmod(col("id"), lit(100L)).as("id"),
        (col("id") * 2).as("m"))
    val joined = fact.join(dim, "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected auto-broadcast of the graftv side, plan:\n$plan")
    assert(joined.count() === 100000L)
  }

  test("metadata-only COUNT(*): answered from the log, no data file " +
      "opened") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((0 until 300).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(3), t)
    // DV-delete a slice: the count must subtract mask ordinals
    spark.conf.set("spark.graft.dv.enabled", "true")
    try Versioned.deleteWhere(spark, t, col("id") % 10 === 3L)
    finally spark.conf.unset("spark.graft.dv.enabled")
    // corrupt EVERY data file in place: an unfiltered count still
    // answers (log-only), proving zero data files were opened; a
    // filtered count must decline the pushdown and fail loudly
    val snap = Versioned.snapshot(t)
    snap.files.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(t, f),
        "garbage".getBytes("UTF-8"))
    }
    val df = spark.read.format("graftv").load(t)
    assert(df.count() === 270L)
    assert(df.agg(count(lit(1))).head().getLong(0) === 270L)
    intercept[Throwable] { df.where(col("id") > 100L).count() }
    intercept[Throwable] { df.agg(count(col("v"))).head() }
  }

  test("metadata MIN/MAX on integral columns; strings and DV'd " +
      "tables stay scan-side") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((0 until 200).map(i => (i.toLong + 7, s"v$i"))
      .toDF("id", "v").repartition(2), t)
    val df = spark.read.format("graftv").load(t)
    // corrupt the data: the integral extrema still answer from the log
    Versioned.snapshot(t).files.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(t, f),
        "garbage".getBytes("UTF-8"))
    }
    val r = df.agg(count(lit(1)).as("n"), min(col("id")).as("lo"),
      max(col("id")).as("hi")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ===
      ((200L, 7L, 206L)))
    // a STRING extremum must decline (truncated stats) → scan → fails
    intercept[Throwable] { df.agg(max(col("v"))).head() }
    // a DV'd table must decline MIN/MAX (a masked row could be the
    // extremum) — fresh table, DV-delete the current max, then ask
    val t2 = tmp()
    Versioned.commit((0 until 50).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), t2)
    spark.conf.set("spark.graft.dv.enabled", "true")
    try Versioned.deleteWhere(spark, t2, col("id") === 49L)
    finally spark.conf.unset("spark.graft.dv.enabled")
    assert(Versioned.snapshot(t2).dvs.nonEmpty, "test needs a DV")
    val r2 = spark.read.format("graftv").load(t2)
      .agg(max(col("id")).as("hi"), count(lit(1)).as("n")).head()
    assert((r2.getLong(0), r2.getLong(1)) === ((48L, 49L)))
  }

  test("COUNT(*) time travel counts that version; SQL door too") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((0 until 40).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    Versioned.commit((40 until 100).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    Versioned.deleteWhere(spark, t, col("id") < 10L)
    assert(spark.read.format("graftv").option("versionAsOf", 1)
      .load(t).count() === 40L)
    assert(spark.read.format("graftv").option("versionAsOf", 2)
      .load(t).count() === 100L)
    assert(spark.read.format("graftv").load(t).count() === 90L)
    spark.sql("DROP TABLE IF EXISTS r16_count_tbl")
    spark.sql(s"CREATE TABLE r16_count_tbl USING graftv LOCATION '$t'")
    try assert(spark.sql("SELECT count(*) AS n FROM r16_count_tbl")
      .head().getLong(0) === 90L)
    finally spark.sql("DROP TABLE IF EXISTS r16_count_tbl")
  }

  test("empty table estimates zero; a time-travel read estimates " +
      "that version's bytes") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((0 until 10).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    Versioned.commit((10 until 2000).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), t)
    val v1 = spark.read.format("graftv").option("versionAsOf", 1)
      .load(t).queryExecution.optimizedPlan.stats.sizeInBytes
    val v2 = spark.read.format("graftv").load(t)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(v1 < v2, s"v1 $v1 !< head $v2")
  }
}
