package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round 14 (beyond the task list): SHALLOW CLONE — Delta's
  * zero-copy table clone re-derived for the local tier. A clone's v1
  * hard-links the source snapshot's immutable data files (same
  * inodes, no bytes move) under a fresh, fully independent log:
  * divergence, vacuum, and txn ledgers never cross the boundary. */
class VersionedCloneSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String = {
    val d = tempDir("graftv-clone-")
    Files.delete(d)
    d.toString
  }

  private def ino(p: String): Any =
    Files.getAttribute(Paths.get(p), "unix:ino")

  test("clone is zero-copy (same inodes), state-equal, and carries " +
    "schema, stats, constraints, and column mapping") {
    import spark.implicits._
    val src = tmp()
    Versioned.commit(Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("id", "v", "note"), src) // v1
    Versioned.renameColumn(src, "v", "score") // v2: mapping present
    Versioned.addConstraint(spark, src, "nonneg", "score >= 0") // v3
    val dst = tmp()
    assert(Versioned.cloneTable(spark, src, dst) === 1)
    // same rows, logical names preserved through the carried mapping
    val out = Versioned.read(spark, dst)
    assert(out.schema.fieldNames.toSeq === Seq("id", "score", "note"))
    assert(out.orderBy("id").as[(Long, Long, String)].collect().toSeq ===
      Seq((1L, 10L, "a"), (2L, 20L, "b")))
    // ZERO-COPY: every cloned file shares the source file's inode
    val snap = Versioned.snapshot(dst)
    snap.files.foreach { f =>
      assert(ino(s"$src/$f") === ino(s"$dst/$f"),
        s"$f was copied, not linked")
    }
    // stats carried: the manifest prunes without re-stat-ing
    assert(snap.stats.nonEmpty)
    // constraints carried: a violating append fails loudly on the
    // CLONE (and the source's ledger/constraints are its own)
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq((9L, -5L, "x")).toDF("id", "score", "note"),
        dst)
    }
    assert(e.getMessage.contains("nonneg"))
    // clone into an existing table is loud
    intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, src, dst)
    }
  }

  test("clone and source diverge independently; vacuum never crosses " +
    "the boundary") {
    import spark.implicits._
    val src = tmp()
    Versioned.commit((0L until 100L).map(i => (i, i * 10L))
      .toDF("id", "v"), src)
    val dst = tmp()
    Versioned.cloneTable(spark, src, dst)
    // diverge both sides
    Versioned.deleteWhere(spark, dst, col("id") < 50L) // clone v2 (COW)
    Versioned.commit(Seq((1000L, 1L)).toDF("id", "v"), src) // src v2
    assert(Versioned.read(spark, dst).count() === 50)
    assert(Versioned.read(spark, src).count() === 101)
    // the clone's CDF starts at ITS v1 (the clone commit = inserts) —
    // read BEFORE the retain-1 vacuum below destroys v1's horizon
    val chg = Versioned.readChanges(spark, dst, 0, 1)
    assert(chg.where(col("_change_type") === "insert").count() === 100)
    // vacuum the CLONE hard (its COW de-referenced the linked file):
    // the link goes, the source's path — same inode, different name —
    // must keep reading
    Versioned.vacuum(dst, retainVersions = 1, graceMs = 0)
    assert(Versioned.read(spark, src).count() === 101)
    assert(Versioned.read(spark, dst).count() === 50)
    // and vacuuming the source never touches the clone
    Versioned.vacuum(src, retainVersions = 1, graceMs = 0)
    assert(Versioned.read(spark, dst).count() === 50)
  }

  test("VERSION AS OF clones a historical snapshot") {
    import spark.implicits._
    val src = tmp()
    Versioned.commit(Seq((1L, 10L)).toDF("id", "v"), src) // v1
    Versioned.commit(Seq((2L, 20L)).toDF("id", "v"), src) // v2
    Versioned.deleteWhere(spark, src, col("id") === 1L) // v3
    val dst = tmp()
    Versioned.cloneTable(spark, src, dst, asOf = Some(2))
    assert(Versioned.read(spark, dst).orderBy("id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L)))
  }

  test("SQL: CREATE TABLE name SHALLOW CLONE src registers a " +
    "queryable catalog table; graftv.`path` targets skip the catalog") {
    import spark.implicits._
    val src = tmp()
    spark.sql("DROP TABLE IF EXISTS g_clone_src")
    spark.sql("DROP TABLE IF EXISTS g_clone_t")
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .write.format("graftv").mode("append").save(src)
      spark.sql(s"CREATE TABLE g_clone_src (id BIGINT, s STRING) " +
        s"USING graftv LOCATION '$src'")
      val dst = tmp()
      val row = spark.sql(s"CREATE TABLE g_clone_t SHALLOW CLONE " +
        s"g_clone_src LOCATION '$dst'").head()
      assert(row.getInt(0) === 1 && row.getInt(1) >= 1)
      assert(spark.sql("SELECT count(*) FROM g_clone_t")
        .head().getLong(0) === 2L)
      // divergence through SQL stays on the clone
      spark.sql("INSERT INTO g_clone_t VALUES (3, 'c')")
      assert(spark.sql("SELECT count(*) FROM g_clone_t")
        .head().getLong(0) === 3L)
      assert(spark.sql("SELECT count(*) FROM g_clone_src")
        .head().getLong(0) === 2L)
      // path-form target: no catalog entry, table born at the path
      val dst2 = tmp()
      spark.sql(s"CREATE TABLE graftv.`$dst2` SHALLOW CLONE g_clone_src")
      assert(Versioned.read(spark, dst2).count() === 2)
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_clone_t")
      spark.sql("DROP TABLE IF EXISTS g_clone_src")
    }
  }
}
