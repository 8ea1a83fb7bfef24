package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round-13 #8: the EXACT vacuum-vs-in-flight-writer window, pinned.
  *
  * Contract (SCALING.md §cross-process writers): a writer's staging
  * files (`data/c-*`, `_changes/c-*`) are unreferenced until its
  * manifest publishes, so they are only protected from a concurrent
  * vacuum by the mtime grace window. Three laws follow:
  *
  *  1. vacuum DURING a write whose age < graceMs reclaims nothing of
  *     it — the publish lands and the table reads clean;
  *  2. if an operator mis-sizes graceMs below the write's
  *     write-to-publish duration, the loser is the WRITE, loudly —
  *     the publish refuses to reference reclaimed files (never a
  *     manifest pointing at nothing), and the table stays intact at
  *     its prior version;
  *  3. the same guard covers the COW seam (merge/delete/update/
  *     optimize rewrites and their CDC files).
  */
class VacuumGraceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmpTable(): String =
    tempDir("graft-vacgrace-").toString

  test("law 1: vacuum lands inside the write-to-publish window; " +
    "default grace spares the staged files and the publish succeeds") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    var reclaimed: Seq[String] = null
    Versioned.beforePublish = () => {
      reclaimed = Versioned.vacuum(t, retainVersions = 1) // default grace
    }
    val v = Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t)
    assert(v === 2)
    assert(reclaimed.isEmpty) // nothing younger than grace is touched
    assert(Versioned.read(spark, t).count() === 2L)
  }

  test("law 2: graceMs below the write duration loses the WRITE, " +
    "loudly — never a manifest referencing reclaimed files") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.beforePublish = () => {
      // an operator who waived the grace while a writer is mid-flight
      Versioned.vacuum(t, retainVersions = 1, graceMs = 0L)
    }
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t)
    }
    assert(e.getMessage.contains("graceMs"))
    // the table is INTACT at its prior version: no phantom manifest
    assert(Versioned.versions(t) === Seq(1))
    assert(Versioned.read(spark, t).as[(Long, String)].collect()
      .toSet === Set((1L, "a")))
  }

  test("law 3: the COW seam is guarded the same way (delete rewrite " +
    "+ its CDC files)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1
    Versioned.beforePublish = () => {
      Versioned.vacuum(t, retainVersions = 1, graceMs = 0L); ()
    }
    val e = intercept[IllegalArgumentException] {
      Versioned.deleteWhere(spark, t, org.apache.spark.sql.functions
        .col("id") === 1L)
    }
    assert(e.getMessage.contains("graceMs"))
    assert(Versioned.versions(t) === Seq(1))
    assert(Versioned.read(spark, t).count() === 2L)
  }
}
