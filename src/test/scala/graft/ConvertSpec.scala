package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round-13 extension: CONVERT an existing parquet directory into a
  * graftv table IN PLACE (Delta's `CONVERT TO DELTA` shape) — the
  * adoption door: users of `spark.read.parquet(dir)` join the lake
  * without rewriting their corpus. The v1 `convert` manifest
  * references the original part files where they lie; everything a
  * born table supports (appends, COW ops, time travel, CDC from v1,
  * SQL) composes on top.
  */
class ConvertSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def freshDir(): String =
    tempDir("graft-convert-spec-").toString

  test("adopt a plain parquet directory: no rewrite, both read " +
    "paths serve it, history records op=convert") {
    import spark.implicits._
    val d = freshDir()
    (1L to 100L).map(i => (i, s"doc-$i", i * 10))
      .toDF("id", "name", "v").repartition(3)
      .write.mode("overwrite").parquet(d)
    val before = Files.walk(Paths.get(d)).filter(p =>
      p.toString.endsWith(".parquet")).count()

    assert(Versioned.convertParquet(spark, d) === 1)
    assert(Versioned.versions(d) === Seq(1))
    // NO rewrite: the same physical files serve the table
    val after = Files.walk(Paths.get(d)).filter(p =>
      p.toString.endsWith(".parquet")).count()
    assert(after === before)
    assert(Versioned.read(spark, d).count() === 100L)
    assert(spark.read.format("graftv").load(d)
      .agg(sum("v")).head().getLong(0) === (1L to 100L).map(_ * 10).sum)
    val hist = Versioned.history(spark, d)
      .select("version", "op").collect()
    assert(hist.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "convert")))
    // double-convert is a loud error
    val e = intercept[IllegalArgumentException] {
      Versioned.convertParquet(spark, d)
    }
    assert(e.getMessage.contains("already a graftv table"))
  }

  test("the adopted table is a full citizen: append, COW delete, " +
    "time travel, and CDC-from-v1 all compose") {
    import spark.implicits._
    val d = freshDir()
    (1L to 50L).map(i => (i, i * 2)).toDF("id", "v")
      .write.mode("overwrite").parquet(d)
    Versioned.convertParquet(spark, d) // v1
    Versioned.commit((51L to 60L).map(i => (i, i * 2)).toDF("id", "v"),
      d) // v2 append
    Versioned.deleteWhere(spark, d, col("id") % 10 === 0) // v3 COW
    assert(Versioned.read(spark, d).count() === 54L) // 60 - 6 deleted
    assert(Versioned.read(spark, d, Some(1)).count() === 50L) // time travel
    // CDC from version 0: the adoption IS the initial insert
    val ch = Versioned.readChanges(spark, d, 0, 3)
    assert(ch.where(col("_commit_version") === 1 &&
      col("_change_type") === "insert").count() === 50L)
    assert(ch.where(col("_change_type") === "delete").count() === 6L)
    // vacuum NEVER deletes adopted originals, even de-referenced ones
    // (they live outside data/ — the user's pre-existing files stay
    // the user's)
    val originals = Files.list(Paths.get(d)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    assert(originals.nonEmpty)
    Versioned.vacuum(d, retainVersions = 1, graceMs = 0L)
    originals.foreach(p => assert(Files.exists(Paths.get(p)), p))
  }

  test("full-row hive layout adopts with partition stats; Spark's " +
    "column-stripping layout is a loud error") {
    import spark.implicits._
    val d = freshDir()
    // full-row k=v dirs: partition values in BOTH the path and the
    // rows (graftv's Iceberg discipline)
    (0 until 3).foreach { pb =>
      (1L to 20L).map(i => (i * 3 + pb, pb, i)).toDF("id", "pb", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/pb=$pb")
    }
    assert(Versioned.convertParquet(spark, d) === 1)
    assert(Versioned.snapshot(d).partitionCols === Seq("pb"))
    assert(Versioned.read(spark, d).count() === 60L)
    // partition pruning through the connector: pb = 1 plans 1/3 files
    assert(spark.read.format("graftv").load(d)
      .where(col("pb") === 1).count() === 20L)

    val stripped = freshDir()
    (1L to 30L).map(i => (i, i % 3, i)).toDF("id", "pb", "v")
      .write.partitionBy("pb").mode("overwrite").parquet(stripped)
    val e = intercept[IllegalArgumentException] {
      Versioned.convertParquet(spark, stripped)
    }
    assert(e.getMessage.contains("column-stripping"))
  }

  test("SQL: CONVERT TO GRAFTV parquet.`/dir`") {
    import spark.implicits._
    val d = freshDir()
    (1L to 40L).map(i => (i, i)).toDF("id", "v")
      .write.mode("overwrite").parquet(d)
    val row = spark.sql(s"CONVERT TO GRAFTV parquet.`$d`").head()
    assert(row.getInt(0) === 1) // created version
    assert(row.getInt(1) >= 1)  // adopted file count
    assert(spark.read.format("graftv").load(d).count() === 40L)
    // ... and the maintenance surface works on the adopted table
    assert(spark.sql(s"DESCRIBE HISTORY graftv.`$d`")
      .select("op").head().getString(0) === "convert")
    // a non-parquet.` target is rejected with the usage message
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CONVERT TO GRAFTV sometable")
    }
    assert(e.getMessage.contains("parquet.`/path`"))
  }

  test("a reserved-name subdir holding parquet refuses loudly " +
    "instead of part-adopting") {
    import spark.implicits._
    val d = freshDir()
    (1L to 10L).map(i => (i, i)).toDF("id", "v")
      .write.mode("overwrite").parquet(d)
    (11L to 20L).map(i => (i, i)).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$d/data")
    val e = intercept[IllegalArgumentException] {
      Versioned.convertParquet(spark, d)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("empty directory and nonexistent target are loud errors") {
    val d = freshDir()
    val e = intercept[IllegalArgumentException] {
      Versioned.convertParquet(spark, d)
    }
    assert(e.getMessage.contains("no parquet files"))
    val e2 = intercept[IllegalArgumentException] {
      Versioned.convertParquet(spark, d + "-nope")
    }
    assert(e2.getMessage.contains("not a directory"))
  }
}
