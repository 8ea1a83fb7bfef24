package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round-13 maintenance-surface extras (Delta statement parity):
  * `VACUUM … DRY RUN` (report, touch nothing) and
  * `RESTORE … TO TIMESTAMP AS OF` (the read-side monotone-stamp
  * lookup, session-zone literals, driving a rollback).
  */
class MaintenanceExtrasSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  test("VACUUM DRY RUN reports the reclaim set without deleting") {
    import spark.implicits._
    val t = tempDir("graft-dryrun-").toString
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), t, "overwrite") // v2
    // library dry run with the grace waived: v1's files are
    // unreferenced from the retained horizon — reported, NOT deleted
    val would = Versioned.vacuum(t, retainVersions = 1, graceMs = 0L,
      dryRun = true)
    assert(would.nonEmpty)
    would.foreach(f => assert(
      Files.exists(java.nio.file.Paths.get(t, f)), f))
    // the real pass then reclaims exactly that set
    val did = Versioned.vacuum(t, retainVersions = 1, graceMs = 0L)
    assert(did === would)
    did.foreach(f => assert(
      !Files.exists(java.nio.file.Paths.get(t, f)), f))

    // SQL form (default grace spares young files → 0, dry_run=true)
    val row = spark.sql(s"VACUUM graftv.`$t` RETAIN 1 VERSIONS DRY RUN")
      .head()
    assert(row.getInt(0) >= 0)
    assert(row.getBoolean(1))
  }

  test("OPTIMIZE WHERE compacts only the files the predicate can " +
    "touch; the rest carry by reference; no match is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t = tempDir("graft-optwhere-").toString
    // four key-disjoint files: ids 0-9 / 10-19 / 20-29 / 30-39
    (0 until 4).foreach { b =>
      Versioned.commit((b * 10L until b * 10L + 10L).map(i => (i, i))
        .toDF("id", "v").coalesce(1), t)
    }
    assert(Versioned.snapshot(t).files.size === 4)
    // scope to the 0-19 range: 2 files rewrite into 1, 2 carry
    val v = Versioned.optimize(spark, t, numFiles = 1,
      where = Some(col("id") < 20L))
    assert(v === 5)
    val snap = Versioned.snapshot(t)
    assert(snap.files.size === 3) // 1 compacted + 2 carried
    assert(Versioned.read(spark, t).count() === 40L) // rows intact
    // the carried files are the SAME physical files (by reference)
    val before = Versioned.snapshot(t, Some(4)).files.toSet
    assert(snap.files.count(before.contains) === 2)
    // no file intersects -> no-op, no phantom version
    assert(Versioned.optimize(spark, t,
      where = Some(col("id") > 1000L)) === 5)
    assert(Versioned.versions(t).max === 5)
    // an unanalyzable predicate is a loud error, not a silent full
    // compaction
    val e = intercept[IllegalArgumentException] {
      Versioned.optimize(spark, t,
        where = Some(org.apache.spark.sql.functions
          .length(col("id").cast("string")) > 1))
    }
    assert(e.getMessage.contains("stats-analyzable"))
    // SQL form
    val v2 = spark.sql(
      s"OPTIMIZE graftv.`$t` WHERE id >= 20 INTO 1 FILES")
      .head().getInt(0)
    assert(v2 === 6)
    assert(Versioned.snapshot(t).files.size === 2)
    assert(Versioned.read(spark, t).count() === 40L)
  }

  test("RESTORE TO TIMESTAMP AS OF rolls back through the monotone " +
    "stamp lookup") {
    import spark.implicits._
    val t = tempDir("graft-restts-").toString
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Thread.sleep(30) // real stamp gap (time-travel spec discipline)
    val midMs = System.currentTimeMillis()
    Thread.sleep(30)
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t) // v2
    assert(Versioned.read(spark, t).count() === 2L)
    // an instant between the commits resolves to v1; RESTORE is
    // non-destructive (v3 = v1's live set)
    val iso = java.time.Instant.ofEpochMilli(midMs).toString
    val v = spark.sql(s"RESTORE graftv.`$t` TO TIMESTAMP AS OF '$iso'")
      .head().getInt(0)
    assert(v === 3)
    assert(Versioned.read(spark, t).count() === 1L)
    assert(Versioned.versions(t) === Seq(1, 2, 3))
    // an instant before the first commit is a loud error
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"RESTORE graftv.`$t` TO TIMESTAMP AS OF '1999-01-01'")
    }
    assert(e.getMessage.contains("predates"))
  }
}
