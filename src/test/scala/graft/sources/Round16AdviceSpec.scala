package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Round-16 ADVICE-r15 regression pins + the scale-safe DV plumbing:
  *
  *  - DerivedState.maintain fails LOUDLY when a source commit carries
  *    duplicate-key non-delete rows (the netChanges window would pick
  *    one nondeterministically and the state would silently diverge);
  *  - DV-mode DELETE/UPDATE whose predicate references a RENAMED
  *    NESTED field works (the tagged scans now alias physical →
  *    logical through the readFiles positional struct cast);
  *  - normFilePath percent-DECODES `_metadata.file_path` URIs, so a
  *    table root containing spaces/% keeps DV masks keyed correctly,
  *    and the strict library-scan filter fails loudly on a key miss
  *    instead of resurrecting deleted rows;
  *  - CLONE registration passes the location through the catalog API
  *    (no string-literal escaping), so quote-bearing paths register
  *    under BOTH parser modes;
  *  - sidecar format v2 (varint gaps) roundtrips and v1 sidecars
  *    still read.
  */
class Round16AdviceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String =
    tempDir("r16-advice-").toString

  private def withDv[A](f: => A): A = {
    spark.conf.set("spark.graft.dv.enabled", "true")
    try f finally spark.conf.unset("spark.graft.dv.enabled")
  }

  test("derived-state maintenance rejects duplicate-key non-delete " +
    "source events instead of silently picking one") {
    import spark.implicits._
    val src = tmp()
    val st = tmp()
    Versioned.commit(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (1L, "a completely different text body for the same key")
    ).toDF("doc_id", "text"), src) // v1: duplicate doc_id
    val e = intercept[IllegalArgumentException] {
      graft.operators.DerivedState.maintainMinhashBandState(
        spark, src, st)
    }
    assert(e.getMessage.contains("key-unique"), e.getMessage)
    assert(e.getMessage.contains("doc_id"), e.getMessage)
    // a key-unique source drains cleanly; duplicate DELETES are fine
    val src2 = tmp()
    val st2 = tmp()
    Versioned.commit(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")
    ).toDF("doc_id", "text"), src2)
    assert(graft.operators.DerivedState
      .maintainMinhashBandState(spark, src2, st2).nonEmpty)
    Versioned.deleteWhere(spark, src2, col("doc_id") === 1L)
    assert(graft.operators.DerivedState
      .maintainMinhashBandState(spark, src2, st2).nonEmpty)
    assert(Versioned.read(spark, st2)
      .where(col("h_id") === 1L).count() === 0L)
  }

  test("DV DELETE and UPDATE with a predicate over a RENAMED nested " +
    "field succeed and mask (pre-fix: AnalysisException)") {
    import spark.implicits._
    val t = tmp()
    val df = (1L to 40L).map(i => (i, s"s${i % 4}", i * 2L))
      .toDF("id", "src", "v")
      .select(col("id"),
        struct(col("src").as("source"), col("v").as("run_id")).as("prov"))
    Versioned.commit(df, t) // v1
    Versioned.renameColumn(t, "prov.source", "origin") // v2 metadata-only
    val before = Versioned.snapshot(t).files.toSet
    withDv {
      Versioned.deleteWhere(spark, t,
        col("prov.origin") === "s1" && col("id") <= 9L) // ids 1,5,9
    } // v3
    val snap = Versioned.snapshot(t)
    assert(snap.files.toSet === before, "nested-predicate DV delete " +
      "rewrote files instead of masking")
    assert(snap.dvs.nonEmpty)
    val out = Versioned.read(spark, t)
    assert(out.count() === 37L)
    assert(out.where(col("id").isin(1L, 5L, 9L)).count() === 0L)
    withDv {
      Versioned.updateWhere(spark, t,
        col("prov.origin") === "s2" && col("id") === 2L,
        Map("id" -> lit(102L)))
    } // v4
    val out2 = Versioned.read(spark, t)
    assert(out2.where(col("id") === 102L).count() === 1L)
    assert(out2.where(col("id") === 2L).count() === 0L)
    assert(out2.count() === 37L)
  }

  test("normFilePath percent-decodes metadata URIs; DV DML in a " +
    "table root containing spaces and % stays keyed") {
    assert(DeletionVectors.normFilePath("file:///a/b%20c/x.parquet")
      === "/a/b c/x.parquet")
    assert(DeletionVectors.normFilePath("file:/a/p%25q/y.parquet")
      === "/a/p%q/y.parquet")
    assert(DeletionVectors.normFilePath("/plain/path.parquet")
      === "/plain/path.parquet")
    import spark.implicits._
    val odd = tempDir("r16-dv-")
      .resolve("odd dir %25 name").toString
    Files.createDirectories(java.nio.file.Paths.get(odd))
    val t = s"$odd/tbl"
    Versioned.commit((1L to 100L).map(i => (i, i * 3L))
      .toDF("id", "v"), t) // v1
    val before = Versioned.snapshot(t).files.toSet
    withDv {
      Versioned.deleteWhere(spark, t, col("id").isin(7L, 42L)) // v2
      Versioned.deleteWhere(spark, t, col("id") === 13L) // v3: merge
    }
    val snap = Versioned.snapshot(t)
    assert(snap.files.toSet === before,
      "DV delete in an odd-char root fell back to rewrites")
    assert(snap.dvs.nonEmpty)
    val out = Versioned.read(spark, t)
    assert(out.count() === 97L)
    assert(out.where(col("id").isin(7L, 42L, 13L)).count() === 0L)
    assert(out.agg(sum("v")).as[Long].head() ===
      (1L to 100L).map(_ * 3L).sum - 3L * (7L + 42L + 13L))
  }

  test("strict library-scan DV filter fails loudly on a key miss " +
    "instead of treating masked rows as live") {
    import spark.implicits._
    val df = Seq(("file:///nowhere/a.parquet", 0L)).toDF("f", "p")
    val e = intercept[Exception] {
      df.where(DeletionVectors.liveFilter(Map.empty, strict = true)(
        col("f"), col("p"))).count()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: chain(t.getCause)
    assert(chain(e).exists(m =>
      m != null && m.contains("deletion-vector key miss")),
      s"expected a loud key-miss error, got: ${chain(e)}")
  }

  test("CLONE registration survives a quote-bearing LOCATION under " +
    "both parser modes (catalog API, no literal interpolation)") {
    import spark.implicits._
    val src = tmp()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src)
    def cloneTo(name: String, dst: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // double-quoted literal so the OUTER statement parses in both
      // modes; the inner registration is what the fix covers
      spark.sql(s"""CREATE TABLE $name SHALLOW CLONE graftv.`$src` """ +
        s"""LOCATION "$dst"""")
      assert(spark.table(name).count() === 2L)
      assert(Versioned.read(spark, dst).count() === 2L)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
    val dst1 = tmp() + "/it's a clone"
    cloneTo("g_r16_clone_q", dst1)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try cloneTo("g_r16_clone_esc", tmp() + "/also it's odd")
    finally spark.conf.unset("spark.sql.parser.escapedStringLiterals")
  }

  test("sidecar v2 varint-gap format roundtrips; legacy v1 sidecars " +
    "still read") {
    val dir = tempDir("r16-dv-fmt-")
    val cases = Seq(
      Array.empty[Long],
      Array(0L),
      Array(5L, 5L, 5L), // dedup
      (0L until 1000L).toArray, // dense run: ~1 byte/row
      Array(0L, 127L, 128L, 16383L, 16384L, 1L << 40, Long.MaxValue - 1))
    cases.zipWithIndex.foreach { case (c, i) =>
      val p = dir.resolve(s"c$i.dv")
      DeletionVectors.write(p, c.clone())
      assert(DeletionVectors.read(p).toSeq === c.distinct.sorted.toSeq,
        s"case $i")
    }
    // dense-run compression actually bites (vs 8 B/ordinal in v1)
    val dense = dir.resolve("c3.dv")
    assert(Files.size(dense) < 16 + 8 + 2 * 1000,
      s"v2 dense sidecar should be ~1 B/row, got ${Files.size(dense)}")
    // hand-written v1 layout reads back identically
    val v1 = dir.resolve("legacy.dv")
    val out = new java.io.DataOutputStream(Files.newOutputStream(v1))
    try {
      out.writeInt(0x47445631); out.writeInt(1); out.writeLong(3L)
      Seq(2L, 7L, 9L).foreach(out.writeLong)
    } finally out.close()
    assert(DeletionVectors.read(v1).toSeq === Seq(2L, 7L, 9L))
  }
}
