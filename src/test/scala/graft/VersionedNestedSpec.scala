package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Nested-field column mapping (round 15, VERDICT r14 #4): RENAME /
  * DROP / ADD of struct FIELDS as metadata-only commits over stable
  * physical names — per-version names under time travel, tombstoned
  * physical paths against resurrection, appends translating through
  * the nested mapping, SQL wired. */
class VersionedNestedSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String =
    tempDir("graftv-nested-").toString

  private def provDf(rows: Seq[(Long, String, Long)]) = {
    import spark.implicits._
    rows.toDF("id", "src", "run")
      .select(col("id"),
        struct(col("src").as("source"), col("run").as("run_id"))
          .as("prov"))
  }

  test("nested RENAME is metadata-only: zero rewrites, values " +
    "intact under the new name, time travel keeps the old name") {
    val t = tmp()
    Versioned.commit(provDf(Seq((1L, "vasp", 10L), (2L, "qe", 20L))),
      t) // v1
    val filesBefore = Versioned.snapshot(t).files.toSet
    Versioned.renameColumn(t, "prov.source", "origin") // v2
    assert(Versioned.snapshot(t).files.toSet === filesBefore)
    val out = Versioned.read(spark, t).orderBy("id")
    assert(out.schema("prov").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ===
      Seq("origin", "run_id"))
    assert(out.select(col("prov.origin")).collect().map(_.getString(0))
      .toSeq === Seq("vasp", "qe"))
    // time travel: v1 under the OLD field name
    val v1 = Versioned.read(spark, t, Some(1))
    assert(v1.select(col("prov.source")).collect().map(_.getString(0))
      .toSeq.sorted === Seq("qe", "vasp"))
    // an append AFTER the rename translates to the stable physical
    Versioned.commit(provDf(Seq((3L, "aflow", 30L)))
      .select(col("id"),
        struct(col("prov.source").as("origin"),
          col("prov.run_id").as("run_id")).as("prov")), t)
    val all = Versioned.read(spark, t).orderBy("id")
    assert(all.select(col("prov.origin")).collect().map(_.getString(0))
      .toSeq === Seq("vasp", "qe", "aflow"))
    // DSv2 door reads the same values
    val ds = spark.read.format("graftv").load(t).orderBy("id")
    assert(ds.select(col("prov.origin")).collect().map(_.getString(0))
      .toSeq === Seq("vasp", "qe", "aflow"))
  }

  test("nested DROP + re-ADD mints a fresh physical path: the " +
    "re-added field reads NULL, never the dropped bytes") {
    val t = tmp()
    Versioned.commit(provDf(Seq((1L, "vasp", 10L), (2L, "qe", 20L))),
      t) // v1
    Versioned.dropColumn(t, "prov.source") // v2 (metadata-only)
    val s2 = Versioned.read(spark, t)
    assert(s2.schema("prov").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ===
      Seq("run_id"))
    Versioned.addColumns(t, "`source` STRING", parent = "prov") // v3
    val s3 = Versioned.read(spark, t)
    // anti-resurrection: all NULL despite old files carrying bytes
    assert(s3.where(col("prov.source").isNotNull).count() === 0L)
    // time travel: v1 still reads the original values
    assert(Versioned.read(spark, t, Some(1))
      .select(col("prov.source")).collect()
      .map(_.getString(0)).toSeq.sorted === Seq("qe", "vasp"))
    // dropping the LAST field of a struct is a loud error
    Versioned.dropColumn(t, "prov.source") // back to run_id only
    val e = intercept[IllegalArgumentException] {
      Versioned.dropColumn(t, "prov.run_id")
    }
    assert(e.getMessage.contains("last field"))
  }

  test("nested ADD COLUMNS: old files null-fill the new field, new " +
    "appends carry it; merge works across the evolution") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit(provDf(Seq((1L, "vasp", 10L))), t) // v1
    Versioned.addColumns(t, "`note` STRING", parent = "prov") // v2
    val withNote = Seq((2L, "qe", 20L)).toDF("id", "src", "run")
      .select(col("id"), struct(col("src").as("source"),
        col("run").as("run_id"), lit("fresh").as("note")).as("prov"))
    Versioned.commit(withNote, t) // v3
    val out = Versioned.read(spark, t).orderBy("id")
    assert(out.select(col("prov.note")).collect()
      .map(r => Option(r.getString(0))).toSeq === Seq(None, Some("fresh")))
    // pre-ALTER version reads WITHOUT the field
    assert(!Versioned.read(spark, t, Some(1)).schema("prov").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("note"))
  }

  test("SQL doors: RENAME/DROP/ADD of nested fields on a graftv path") {
    val t = tmp()
    Versioned.commit(provDf(Seq((1L, "vasp", 10L), (2L, "qe", 20L))), t)
    spark.sql(s"ALTER TABLE graftv.`$t` RENAME COLUMN prov.source " +
      "TO origin")
    assert(Versioned.read(spark, t).select(col("prov.origin"))
      .collect().map(_.getString(0)).toSeq.sorted === Seq("qe", "vasp"))
    spark.sql(s"ALTER TABLE graftv.`$t` ADD COLUMNS (prov.note STRING)")
    assert(Versioned.read(spark, t)
      .where(col("prov.note").isNotNull).count() === 0L)
    spark.sql(s"ALTER TABLE graftv.`$t` DROP COLUMN prov.origin")
    val fields = Versioned.read(spark, t).schema("prov").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    assert(fields.toSeq === Seq("run_id", "note"))
    // IF EXISTS on a missing nested path is a silent no-op
    spark.sql(s"ALTER TABLE graftv.`$t` DROP COLUMN IF EXISTS prov.gone")
    assert(Versioned.read(spark, t).count() === 2L)
  }

  test("renaming the PARENT struct re-prefixes child mapping keys " +
    "(a previously renamed child keeps resolving)") {
    val t = tmp()
    Versioned.commit(provDf(Seq((1L, "vasp", 10L))), t) // v1
    Versioned.renameColumn(t, "prov.source", "origin") // v2: child map
    Versioned.renameColumn(t, "prov", "meta") // v3: parent rename
    val out = Versioned.read(spark, t)
    assert(out.select(col("meta.origin")).head().getString(0) === "vasp")
    // and an append under the fully-renamed logical schema reads back
    Versioned.commit(
      provDf(Seq((2L, "qe", 20L)))
        .select(col("id"),
          struct(col("prov.source").as("origin"),
            col("prov.run_id").as("run_id")).as("meta")), t) // v4
    assert(Versioned.read(spark, t).orderBy("id")
      .select(col("meta.origin")).collect().map(_.getString(0)).toSeq
      === Seq("vasp", "qe"))
    // time travel across both renames
    assert(Versioned.read(spark, t, Some(1))
      .select(col("prov.source")).head().getString(0) === "vasp")
    assert(Versioned.read(spark, t, Some(2))
      .select(col("prov.origin")).head().getString(0) === "vasp")
  }

  test("the streaming CDF serves STRUCT columns: a nested-provenance " +
    "table replicates live (hand-rolled reader, round 15)") {
    import spark.implicits._
    val src = tmp()
    val dst = tmp()
    val ckpt = tmp() + "/ck"
    Versioned.commit(provDf(Seq((1L, "vasp", 10L), (2L, "qe", 20L))),
      src) // v1
    val q = spark.readStream.format("graftv")
      .option("readChangeFeed", "true").load(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Versioned.applyChanges(b, dst, Seq("id")); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(Versioned.read(spark, dst).count() === 2L)
      Versioned.commit(provDf(Seq((3L, "aflow", 30L))), src) // v2
      Versioned.merge(provDf(Seq((2L, "qe-run2", 21L))), src, "id") // v3
      q.processAllAvailable()
      val rows = Versioned.read(spark, dst).orderBy("id")
        .select(col("id"), col("prov.source"), col("prov.run_id"))
        .as[(Long, String, Long)].collect().toSeq
      assert(rows === Seq((1L, "vasp", 10L), (2L, "qe-run2", 21L),
        (3L, "aflow", 30L)))
    } finally q.stop()
  }

  test("the streaming CDF serves ARRAY columns: an embeddings table " +
    "tails live through the hand-rolled reader") {
    import spark.implicits._
    val src = tmp()
    val ckpt = tmp() + "/ck"
    def vecs(ids: Seq[Long]) = ids.map(i =>
      (i, Seq.tabulate(4)(j => (i * 10 + j).toFloat)))
      .toDF("vec_id", "embedding")
    Versioned.commit(vecs(Seq(1L, 2L)), src) // v1
    val q = spark.readStream.format("graftv")
      .option("readChangeFeed", "true").load(src)
      .writeStream.format("memory").queryName("nested_arr_tail")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      Versioned.commit(vecs(Seq(3L)), src) // v2
      q.processAllAvailable()
      val rows = spark.table("nested_arr_tail")
        .orderBy("vec_id")
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      assert(rows === Seq(
        (1L, Seq(10f, 11f, 12f, 13f)),
        (2L, Seq(20f, 21f, 22f, 23f)),
        (3L, Seq(30f, 31f, 32f, 33f))))
    } finally q.stop()
  }
}
