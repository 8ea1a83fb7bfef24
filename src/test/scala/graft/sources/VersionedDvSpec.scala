package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Deletion vectors (round 15, VERDICT r14 #1): merge-on-read point
  * DML. A sub-crossover DELETE/UPDATE commits per-file ordinal
  * sidecars instead of rewriting file bytes; scans mask; OPTIMIZE
  * purges; time travel, CDF, restore, clone and vacuum all compose. */
class VersionedDvSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String =
    tempDir("graftv-dv-").toString

  private def withDv[A](f: => A): A = {
    spark.conf.set("spark.graft.dv.enabled", "true")
    try f finally spark.conf.unset("spark.graft.dv.enabled")
  }

  test("point delete is a sidecar, not a rewrite: file set unchanged, " +
    "reads mask, time travel sees the old rows") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 100L).map(i => (i, s"r$i"))
      .toDF("id", "s"), t) // v1
    val before = Versioned.snapshot(t).files.toSet
    withDv { Versioned.deleteWhere(spark, t, col("id") === 7L ||
      col("id") === 42L) } // v2
    val snap = Versioned.snapshot(t)
    assert(snap.files.toSet === before, "DV delete rewrote data files")
    assert(snap.dvs.nonEmpty && snap.dvs.keySet.subsetOf(before),
      s"expected sidecars on existing files only, got ${snap.dvs}")
    val out = Versioned.read(spark, t)
    assert(out.count() === 98L)
    assert(out.where(col("id").isin(7L, 42L)).count() === 0L)
    assert(out.agg(sum("id")).as[Long].head() ===
      (1L to 100L).sum - 7L - 42L)
    // time travel: v1 still reads every row
    assert(Versioned.read(spark, t, Some(1)).count() === 100L)
    // DSv2 door: masked count + masked values + pushed filter
    val ds = spark.read.format("graftv").load(t)
    assert(ds.count() === 98L) // zero-column count path
    assert(ds.where(col("id") === 7L).count() === 0L)
    assert(ds.where(col("id") <= 10L).count() === 9L)
    assert(ds.agg(sum("id")).as[Long].head() ===
      (1L to 100L).sum - 49L)
  }

  test("a second delete on the same file merges ordinals into a " +
    "fresh sidecar; CDF emits each delete's own rows only") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 50L).map(i => (i, i * 10L))
      .toDF("id", "v"), t) // v1
    withDv {
      Versioned.deleteWhere(spark, t, col("id") <= 3L) // v2
      Versioned.deleteWhere(spark, t, col("id").isin(10L, 11L)) // v3
    }
    val out = Versioned.read(spark, t)
    assert(out.count() === 45L)
    assert(out.where(col("id").isin(1L, 2L, 3L, 10L, 11L)).count() === 0L)
    assert(Versioned.read(spark, t, Some(2)).count() === 47L)
    // CDF: v2 emits exactly ids 1..3, v3 exactly 10,11 — a re-masked
    // row must never re-emit
    val chg = Versioned.readChanges(spark, t, 1, 3)
      .where(col("_change_type") === "delete")
    assert(chg.where(col("_commit_version") === 2)
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(chg.where(col("_commit_version") === 3)
      .select("id").as[Long].collect().sorted.toSeq === Seq(10L, 11L))
  }

  test("crossover: a large-fraction delete rewrites (COW), a " +
    "full-file delete drops the file — neither leaves a sidecar") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 40L).map(i => (i, s"a$i")).toDF("id", "s"),
      t) // v1, file A
    Versioned.commit((41L to 80L).map(i => (i, s"b$i")).toDF("id", "s"),
      t) // v2, file B
    withDv {
      // 90% of file A matches -> COW rewrite of its kept rows
      Versioned.deleteWhere(spark, t, col("id") <= 36L) // v3
    }
    val s3 = Versioned.snapshot(t)
    assert(s3.dvs.isEmpty, s"crossover delete left a sidecar: ${s3.dvs}")
    assert(Versioned.read(spark, t).count() === 44L)
    withDv {
      // every row of file B matches -> file dropped, no rewrite
      val filesBefore = Versioned.snapshot(t).files.toSet
      Versioned.deleteWhere(spark, t,
        col("id").between(41L, 80L)) // v4
      val s4 = Versioned.snapshot(t)
      assert(s4.dvs.isEmpty)
      assert(s4.files.toSet.subsetOf(filesBefore), "full-file delete " +
        "should DROP the file, never write a replacement")
    }
    assert(Versioned.read(spark, t).count() === 4L)
    assert(Versioned.read(spark, t).agg(sum("id")).as[Long].head() ===
      (37L to 40L).sum)
  }

  test("OPTIMIZE purges deletion vectors: rows survive, dv map " +
    "empties, reads return to the clean path") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 100L).map(i => (i, i % 7L)).toDF("id", "m"),
      t)
    withDv { Versioned.deleteWhere(spark, t, col("id") % 10L === 0L) }
    assert(Versioned.snapshot(t).dvs.nonEmpty)
    val preRows = Versioned.read(spark, t)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    Versioned.optimize(spark, t, numFiles = 1)
    val snap = Versioned.snapshot(t)
    assert(snap.dvs.isEmpty, "OPTIMIZE must purge DVs")
    assert(Versioned.read(spark, t).orderBy("id")
      .as[(Long, Long)].collect().toSeq === preRows)
    assert(Versioned.read(spark, t).count() === 90L)
  }

  test("DV update: postimages append, preimages mask, CDF carries " +
    "both; a later COW merge cannot resurrect masked rows") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 60L).map(i => (i, i * 1L)).toDF("id", "v"),
      t) // v1
    withDv {
      Versioned.updateWhere(spark, t, col("id") <= 5L,
        Map("v" -> (col("v") + 1000L))) // v2
    }
    val out = Versioned.read(spark, t).orderBy("id")
    assert(out.count() === 60L)
    assert(out.where(col("id") <= 5L).select("v").as[Long]
      .collect().toSeq === (1L to 5L).map(_ + 1000L))
    assert(Versioned.snapshot(t).dvs.nonEmpty, "update should DV-mask")
    val chg = Versioned.readChanges(spark, t, 1, 2)
    assert(chg.where(col("_change_type") === "update_preimage")
      .count() === 5L)
    assert(chg.where(col("_change_type") === "update_postimage")
      .where(col("v") > 1000L).count() === 5L)
    // COW merge over the DV'd file: masked preimages must NOT resurrect
    Versioned.merge(Seq((3L, 7777L)).toDF("id", "v"), t, "id") // v3
    val after = Versioned.read(spark, t)
    assert(after.count() === 60L)
    assert(after.where(col("id") === 3L).select("v").as[Long]
      .head() === 7777L)
    assert(after.where(col("v") === 3L).count() === 0L,
      "merge rewrite resurrected a DV-masked preimage")
  }

  test("restore and clone carry dv state; vacuum keeps referenced " +
    "sidecars and reclaims orphaned ones") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 30L).map(i => (i, s"x$i")).toDF("id", "s"), t)
    withDv { Versioned.deleteWhere(spark, t, col("id") === 9L) } // v2
    Versioned.commit(Seq((100L, "y")).toDF("id", "s"), t) // v3
    // clone at the DV'd version: mask rides along
    val c = tmp() + "/clone"
    Versioned.cloneTable(spark, t, c, Some(2))
    assert(Versioned.read(spark, c).count() === 29L)
    assert(Versioned.snapshot(c).dvs.nonEmpty)
    // restore to v1: mask gone; back to v2's state via a second restore
    Versioned.restore(t, 1) // v4
    assert(Versioned.read(spark, t).count() === 30L)
    Versioned.restore(t, 2) // v5
    assert(Versioned.read(spark, t).count() === 29L)
    assert(Versioned.snapshot(t).dvs.nonEmpty)
    // vacuum with every version retained keeps the sidecar
    val reclaimedNow = Versioned.vacuum(t, retainVersions = 10,
      graceMs = 0)
    assert(Versioned.read(spark, t).count() === 29L)
    assert(reclaimedNow.forall(!_.startsWith("_dv/")) ||
      Versioned.snapshot(t).dvs.values.forall(d =>
        Files.exists(java.nio.file.Paths.get(t, d))),
      "vacuum reclaimed a referenced sidecar")
    // retain only the restore-to-v2 head: v1's full set stays (same
    // files), but nothing referencing the sidecar may be dropped
    Versioned.vacuum(t, retainVersions = 1, graceMs = 0)
    assert(Versioned.read(spark, t).count() === 29L)
  }

  test("partitioned table: DV delete masks inside one partition and " +
    "partition-pruned DSv2 reads stay correct") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 40L).map(i => (i, i % 4L, s"p$i"))
      .toDF("id", "p", "s"), t, partitionBy = Seq("p")) // v1
    withDv { Versioned.deleteWhere(spark, t,
      col("p") === 1L && col("id") <= 9L) } // masks ids 1,5,9
    val out = Versioned.read(spark, t)
    assert(out.count() === 37L)
    assert(out.where(col("p") === 1L).count() === 7L)
    val ds = spark.read.format("graftv").load(t).where(col("p") === 1L)
    assert(ds.count() === 7L)
    assert(ds.select("id").as[Long].collect().sorted.toSeq ===
      Seq(13L, 17L, 21L, 25L, 29L, 33L, 37L))
  }

  test("DV state survives append checkpoints (the replay-base law)") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 20L).map(i => (i, i)).toDF("id", "v"), t)
    withDv { Versioned.deleteWhere(spark, t, col("id") === 1L) } // v2
    // push past a checkpoint boundary (interval 10)
    (3 to 12).foreach { k =>
      Versioned.commit(Seq((100L + k, 1L)).toDF("id", "v"), t)
    }
    val snap = Versioned.snapshot(t)
    assert(snap.version >= 10 && snap.dvs.nonEmpty,
      s"dv state lost across checkpoint: v${snap.version} ${snap.dvs}")
    assert(Versioned.read(spark, t).where(col("id") === 1L).count() === 0L)
    assert(Versioned.read(spark, t).count() === 19L + 10L)
  }

  test("REORG TABLE APPLY (PURGE) rewrites ONLY the masked files; " +
    "clean files carry by reference") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 50L).map(i => (i, s"a$i")).toDF("id", "s")
      .repartition(1), t) // v1: file A
    Versioned.commit((51L to 100L).map(i => (i, s"b$i")).toDF("id", "s")
      .repartition(1), t) // v2: file B (clean forever)
    withDv { Versioned.deleteWhere(spark, t, col("id") === 7L) } // v3
    val before = Versioned.snapshot(t)
    assert(before.dvs.size === 1)
    val cleanFiles = before.files.filterNot(before.dvs.contains)
    val out = spark.sql(s"REORG TABLE graftv.`$t` APPLY (PURGE)").head()
    assert(out.getInt(1) === 1, "one masked file should purge")
    val after = Versioned.snapshot(t)
    assert(after.dvs.isEmpty)
    assert(cleanFiles.forall(after.files.contains),
      "purge rewrote a clean file")
    assert(Versioned.read(spark, t).count() === 99L)
    // idempotent: a second purge is a no-op at the same version
    val again = spark.sql(s"REORG TABLE graftv.`$t` APPLY (PURGE)").head()
    assert(again.getInt(1) === 0)
    assert(Versioned.snapshot(t).version === after.version)
  }

  test("DV delete composes with column mapping: delete via the " +
    "RENAMED name, CDF and time travel stay per-version") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 30L).map(i => (i, i * 2L)).toDF("id", "v"),
      t) // v1
    Versioned.renameColumn(t, "v", "score") // v2 (physical stays v)
    withDv { Versioned.deleteWhere(spark, t, col("score") === 10L) } // v3
    val out = Versioned.read(spark, t)
    assert(out.count() === 29L)
    assert(out.where(col("id") === 5L).count() === 0L)
    assert(Versioned.snapshot(t).dvs.nonEmpty)
    // CDF emits the deleted row under the CURRENT logical name
    val chg = Versioned.readChanges(spark, t, 2, 3)
    assert(chg.where(col("_change_type") === "delete")
      .select("score").as[Long].head() === 10L)
    // v1 reads all rows under the OLD name
    assert(Versioned.read(spark, t, Some(1))
      .where(col("v") === 10L).count() === 1L)
    // purge under mapping: values intact
    Versioned.purgeDeletionVectors(spark, t)
    assert(Versioned.snapshot(t).dvs.isEmpty)
    assert(Versioned.read(spark, t).agg(sum("score")).as[Long]
      .head() === (1L to 30L).map(_ * 2).sum - 10L)
  }

  test("a DV update whose postimages violate a CHECK constraint " +
    "aborts before publish; the mask does not advance") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 20L).map(i => (i, i)).toDF("id", "v"), t)
    spark.sql(s"ALTER TABLE graftv.`$t` ADD CONSTRAINT vpos " +
      "CHECK (v > 0)")
    val vBefore = Versioned.versions(t).max
    val e = intercept[Exception] {
      withDv { Versioned.updateWhere(spark, t, col("id") <= 2L,
        Map("v" -> lit(-5L))) }
    }
    assert(e.getMessage.contains("vpos"), s"wrong error: $e")
    assert(Versioned.versions(t).max === vBefore, "a failed DV " +
      "update published a commit")
    assert(Versioned.snapshot(t).dvs.isEmpty, "a failed DV update " +
      "left a mask")
    assert(Versioned.read(spark, t).count() === 20L)
  }

  test("DV deletes flow through the streaming CDF: a live replication " +
    "stream applies them and the replica converges") {
    import spark.implicits._
    val src = tmp()
    val dst = tmp()
    val ckpt = tmp() + "/ck"
    Versioned.commit((1L to 40L).map(i => (i, i * 3L)).toDF("id", "v"),
      src) // v1
    val q = spark.readStream.format("graftv")
      .option("readChangeFeed", "true").load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Versioned.applyChanges(b, dst, Seq("id")); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(Versioned.read(spark, dst).count() === 40L)
      // a DV point delete + a DV update land while the stream runs
      withDv {
        Versioned.deleteWhere(spark, src, col("id").isin(4L, 17L)) // v2
        Versioned.updateWhere(spark, src, col("id") === 9L,
          Map("v" -> lit(999L))) // v3
      }
      q.processAllAvailable()
      val a = Versioned.read(spark, src).orderBy("id")
        .as[(Long, Long)].collect().toSeq
      val b = Versioned.read(spark, dst).orderBy("id")
        .as[(Long, Long)].collect().toSeq
      assert(a === b, "replica diverged after DV point DML")
      assert(b.size === 38 && b.find(_._1 == 9L).map(_._2)
        .contains(999L))
    } finally q.stop()
  }

  test("SQL DELETE FROM routes through the DV path when enabled: " +
    "sidecars, no data-file rewrite") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 60L).map(i => (i, i)).toDF("id", "v"), t)
    val before = Versioned.snapshot(t).files.toSet
    spark.sql("DROP TABLE IF EXISTS dv_sql_tbl")
    try {
      spark.sql(s"CREATE TABLE dv_sql_tbl USING graftv LOCATION '$t'")
      withDv {
        spark.sql("DELETE FROM dv_sql_tbl WHERE id = 13 OR id = 31")
      }
      val snap = Versioned.snapshot(t)
      assert(snap.files.toSet === before, "SQL DV delete rewrote files")
      assert(snap.dvs.nonEmpty)
      assert(spark.sql("SELECT count(*) FROM dv_sql_tbl")
        .as[Long].head() === 58L)
      assert(spark.sql(
        "SELECT count(*) FROM dv_sql_tbl WHERE id IN (13, 31)")
        .as[Long].head() === 0L)
    } finally spark.sql("DROP TABLE IF EXISTS dv_sql_tbl")
  }

  test("a DV delete rebases over an interloping key-disjoint append; " +
    "the mask survives the rebase") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 50L).map(i => (i, i)).toDF("id", "v"), t)
    // an append with ids far outside the delete's bounds lands inside
    // the delete's read-to-publish window
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((1000L, 1L), (1001L, 2L)).toDF("id", "v"), t)
      ()
    }
    try withDv {
      Versioned.deleteWhere(spark, t, col("id").between(10L, 12L))
    } finally Versioned.beforePublish = () => ()
    val out = Versioned.read(spark, t)
    assert(out.count() === 49L, "rebase lost rows") // 50 - 3 + 2
    assert(out.where(col("id").between(10L, 12L)).count() === 0L)
    assert(out.where(col("id") >= 1000L).count() === 2L)
    assert(Versioned.snapshot(t).dvs.nonEmpty,
      "the mask was dropped during the append rebase")
  }

  test("replaceWhere over a DV'd window cannot resurrect masked " +
    "rows; masks outside the window survive") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 40L).map(i => (i, i % 10L, s"r$i"))
      .toDF("id", "bucket", "s").repartition(col("bucket")), t) // v1
    withDv {
      Versioned.deleteWhere(spark, t, col("id") === 5L) // bucket 5
      Versioned.deleteWhere(spark, t, col("id") === 12L) // bucket 2
    }
    assert(Versioned.read(spark, t).count() === 38L)
    // replace the bucket-5 window: its masked row must NOT reappear
    // in the CDF preimages, and bucket 2's mask must survive
    Versioned.replaceWhere(
      Seq((105L, 5L, "fresh")).toDF("id", "bucket", "s"),
      t, col("bucket") === 5L)
    val out = Versioned.read(spark, t)
    assert(out.where(col("id") === 5L).count() === 0L)
    assert(out.where(col("id") === 12L).count() === 0L,
      "bucket-2 mask lost across replaceWhere")
    assert(out.where(col("id") === 105L).count() === 1L)
    // the replace window removed 3 live rows (15,25,35 — id 5 was
    // already dead) and inserted one
    assert(out.count() === 38L - 3L + 1L)
    val chg = Versioned.readChanges(spark, t,
      Versioned.versions(t).max - 1, Versioned.versions(t).max)
    assert(chg.where(col("_change_type") === "delete")
      .where(col("id") === 5L).count() === 0L,
      "replaceWhere re-emitted an already-masked row as deleted")
  }

  test("scoped OPTIMIZE WHERE purges only the masks in its scope") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit((1L to 30L).map(i => (i, s"a$i")).toDF("id", "s")
      .repartition(1), t) // v1: file A (ids 1-30)
    Versioned.commit((31L to 60L).map(i => (i, s"b$i")).toDF("id", "s")
      .repartition(1), t) // v2: file B (ids 31-60)
    withDv {
      Versioned.deleteWhere(spark, t, col("id") === 3L) // mask on A
      Versioned.deleteWhere(spark, t, col("id") === 33L) // mask on B
    }
    assert(Versioned.snapshot(t).dvs.size === 2)
    // compact only the id<=30 range: A rewrites (mask applied and
    // dropped), B carries with its mask intact
    Versioned.optimize(spark, t, numFiles = 1,
      where = Some(col("id") <= 30L))
    val snap = Versioned.snapshot(t)
    assert(snap.dvs.size === 1, s"scoped optimize: ${snap.dvs}")
    val out = Versioned.read(spark, t)
    assert(out.count() === 58L)
    assert(out.where(col("id").isin(3L, 33L)).count() === 0L)
  }
}
