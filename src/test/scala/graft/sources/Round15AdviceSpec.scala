package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Round-15 ADVICE-r14 regression pins:
  *
  *  - DSv2 OVERWRITE after RENAME COLUMN: the batch writer must write
  *    files under the LOGICAL names (the overwrite manifest claims
  *    identity mapping), mirroring commitInternal's writeMap rule —
  *    pre-fix the renamed column read back all NULL;
  *  - applyChanges fails LOUDLY when one source commit carries
  *    duplicate-key non-delete rows (net-effect row_number would pick
  *    one nondeterministically and the replica would silently
  *    diverge);
  *  - the DSv2 change-feed batch reader resolves the column mapping
  *    AS OF endingVersion (matching the library readChanges), so a
  *    DROP+re-ADD landing beyond the range can't null the column;
  *  - SHALLOW CLONE rejects a graftv.`/path` target that conflicts
  *    with an explicit LOCATION, and quotes/escapes the registration
  *    statement's identifiers.
  */
class Round15AdviceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String =
    tempDir("r15-advice-").toString

  test("DSv2 INSERT OVERWRITE after RENAME COLUMN keeps the values " +
    "(files carry logical names; manifest is identity)") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t) // v1
    Versioned.renameColumn(t, "v", "score") // v2, physical name stays v
    // the DSv2 door the library commit path doesn't take
    Seq((3L, 30L), (4L, 40L)).toDF("id", "score")
      .write.format("graftv").mode("overwrite").save(t) // v3
    val out = Versioned.read(spark, t).orderBy("id")
    assert(out.schema.fieldNames.toSeq === Seq("id", "score"))
    // pre-fix: score read back NULL (files said `v`, manifest identity)
    assert(out.as[(Long, Long)].collect().toSeq ===
      Seq((3L, 30L), (4L, 40L)))
    assert(Versioned.snapshot(t).colMap.isEmpty,
      "overwrite must re-establish identity mapping")
  }

  test("DSv2 APPEND after RENAME COLUMN still translates to the " +
    "physical name (the non-overwrite leg is unchanged)") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit(Seq((1L, 10L)).toDF("id", "v"), t)
    Versioned.renameColumn(t, "v", "score")
    Seq((2L, 20L)).toDF("id", "score")
      .write.format("graftv").mode("append").save(t)
    val out = Versioned.read(spark, t).orderBy("id")
    assert(out.as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 20L)))
  }

  test("applyChanges rejects duplicate-key non-delete events in one " +
    "commit instead of silently picking one") {
    import spark.implicits._
    val src = tmp()
    val dst = tmp()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), dst)
    // a plain append commit with TWO rows under one replication key —
    // graftv appends don't enforce key uniqueness
    val batch = Seq(
      (1L, "x", "insert", 5),
      (1L, "y", "insert", 5)
    ).toDF("id", "s", "_change_type", "_commit_version")
    val e = intercept[IllegalArgumentException] {
      Versioned.applyChanges(batch, dst, Seq("id"))
    }
    assert(e.getMessage.contains("key-unique"))
    assert(e.getMessage.contains("5"), s"should name the version: $e")
    // duplicate DELETES of one key are idempotent — allowed
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), dst)
    val delDup = Seq(
      (2L, "b", "delete", 6),
      (2L, "b", "delete", 6)
    ).toDF("id", "s", "_change_type", "_commit_version")
    Versioned.applyChanges(delDup, dst, Seq("id"))
    assert(Versioned.read(spark, dst).where(col("id") === 2).count() === 0)
    // and distinct keys in one version still apply cleanly
    val ok = Seq(
      (3L, "c", "insert", 7),
      (4L, "d", "insert", 7)
    ).toDF("id", "s", "_change_type", "_commit_version")
    Versioned.applyChanges(ok, dst, Seq("id"))
    assert(Versioned.read(spark, dst).where(col("id") >= 3).count() === 2)
    assert(Versioned.versions(src).isEmpty) // src untouched scratch
  }

  test("DSv2 change-feed range read uses the colMap AS OF " +
    "endingVersion, not HEAD (drop + re-add beyond the range)") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t) // v1
    Versioned.commit(Seq((3L, 30L)).toDF("id", "v"), t) // v2
    Versioned.dropColumn(t, "v") // v3
    Versioned.addColumns(t, "v BIGINT") // v4: fresh physical name
    Versioned.commit(Seq((9L, 99L)).toDF("id", "v"), t,
      mergeSchema = true) // v5 under the NEW physical name
    // range (0,2] predates the drop: the library answer
    val lib = Versioned.readChanges(spark, t, 0, 2)
      .where(col("_change_type") === "insert")
      .select("id", "v").orderBy("id")
    val libRows = lib.as[(Long, Long)].collect().toSeq
    assert(libRows === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // the DSv2 door over the same range must agree (pre-fix: HEAD's
    // colMap pointed v at the re-added physical name -> all NULL)
    val dsv2 = spark.read.format("graftv")
      .option("readChangeFeed", "true")
      .option("startingVersion", "0").option("endingVersion", "2")
      .load(t)
      .where(col("_change_type") === "insert")
      .select("id", "v").orderBy("id")
    assert(dsv2.as[(Long, Long)].collect().toSeq === libRows)
  }

  test("SHALLOW CLONE graftv.`path` + conflicting LOCATION is a loud " +
    "error; matching LOCATION is accepted") {
    import spark.implicits._
    val src = tmp()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), src)
    val dst = tmp() + "/clone"
    val other = tmp() + "/elsewhere"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graftv.`$dst` SHALLOW CLONE " +
        s"graftv.`$src` LOCATION '$other'")
    }
    assert(e.getMessage.toLowerCase.contains("conflict"))
    assert(Versioned.versions(other).isEmpty, "ambiguous clone ran")
    // agreeing forms (trailing slash tolerated) proceed
    spark.sql(s"CREATE TABLE graftv.`$dst` SHALLOW CLONE " +
      s"graftv.`$src` LOCATION '$dst/'")
    assert(Versioned.read(spark, dst).count() === 1L)
  }
}
