package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Crash at publish: every commit kind that stages files is killed
  * between its data write and its manifest link (the `beforePublish`
  * seam, armed to throw). The log is the source of truth, so for each
  * kind:
  *
  *  - `versions`, `history` and the latest read are exactly the
  *    pre-crash ones;
  *  - `vacuum(graceMs = 0)` reclaims every staged data, `_changes` and
  *    DV-sidecar file, and nothing a retained version references;
  *  - re-running the same op commits at the prior version + 1 (a txn
  *    append exactly once). */
class VersionedCrashSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private val Crash = "crash between data write and manifest link"

  private def withDv[A](f: => A): A = {
    spark.conf.set("spark.graft.dv.enabled", "true")
    try f finally spark.conf.unset("spark.graft.dv.enabled")
  }

  /** Spark's checksum (`.crc`) and `_SUCCESS` files are not table files. */
  private def isTableFile(rel: String): Boolean = {
    val n = rel.split('/').last
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** Table-relative paths of every table file outside the log. */
  private def filesOf(t: String): Set[String] = {
    val root = Paths.get(t)
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString)
      .filter(r => !r.startsWith("_log/") && isTableFile(r)).toSet
    finally s.close()
  }

  /** v1: ids 1–20 in two files; v2: ids 21–30 in one. */
  private def baseTable(): String = {
    import spark.implicits._
    val t = tempDir("graftv-crash-").toString
    Versioned.commit((1L to 20L).map(i => (i, i * 10)).toDF("id", "v")
      .repartition(2), t)
    Versioned.commit((21L to 30L).map(i => (i, i * 10)).toDF("id", "v")
      .repartition(1), t)
    t
  }

  /** Crash `op` at publish on `t`, check the table is untouched and
    * vacuum reclaims exactly the staged files — which lie in the table
    * `areas` given (`data`, `_changes`, `_dv`) — then re-run `op`. */
  private def crashThenRerun(t: String, areas: String*)(
      op: => Any): Unit = {
    val vs = Versioned.versions(t)
    val history = Versioned.history(spark, t).collect().toSeq
    val rows = Versioned.read(spark, t).collect().toSet
    val before = filesOf(t)
    Versioned.beforePublish = () => throw new IllegalStateException(Crash)
    val e = try intercept[Exception](op)
      finally Versioned.beforePublish = () => ()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == Crash), s"not the armed crash: $e")
    assert(Versioned.versions(t) === vs)
    assert(Versioned.history(spark, t).collect().toSeq === history)
    assert(Versioned.read(spark, t).collect().toSet === rows)
    val staged = filesOf(t) -- before
    assert(staged.map(_.takeWhile(_ != '/')) === areas.toSet,
      s"staged: $staged")
    val reclaimed = Versioned.vacuum(t, graceMs = 0L).filter(isTableFile)
    assert(reclaimed.toSet === staged)
    assert(filesOf(t) === before)
    vs.foreach(v => Versioned.read(spark, t, Some(v)).count())
    op
    assert(Versioned.versions(t) === vs :+ (vs.last + 1))
  }

  private def fresh(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, i * 10)).toDF("id", "v")
  }

  test("crash at publish: append, overwrite and mergeSchema append") {
    val a = baseTable()
    crashThenRerun(a, "data")(Versioned.commit(fresh(Seq(31L, 32L)), a))
    assert(Versioned.read(spark, a).count() === 32L)
    val t = baseTable()
    crashThenRerun(t, "data")(
      Versioned.commit(fresh(Seq(31L)), t, "overwrite"))
    assert(Versioned.read(spark, t).count() === 1L)
    val m = baseTable()
    crashThenRerun(m, "data")(Versioned.commit(
      fresh(Seq(31L)).withColumn("w", lit("x")), m, mergeSchema = true))
    assert(Versioned.read(spark, m).columns.toSeq === Seq("id", "v", "w"))
  }

  test("crash at publish: a txn append publishes exactly once on retry") {
    val t = baseTable()
    val df = fresh(Seq(31L))
    crashThenRerun(t, "data")(
      assert(Versioned.commitIfAbsent(df, t, "crash-app", 7L) === Some(3)))
    assert(Versioned.commitIfAbsent(df, t, "crash-app", 7L) === None)
    assert(Versioned.versions(t) === Seq(1, 2, 3))
    assert(Versioned.lastTxn(t, "crash-app") === Some(7L))
    assert(Versioned.read(spark, t).count() === 31L)
  }

  test("crash at publish: SQL INSERT INTO through the DSv2 writer") {
    val t = baseTable()
    spark.sql("DROP TABLE IF EXISTS graftv_crash_sql")
    try {
      spark.sql(s"CREATE TABLE graftv_crash_sql USING graftv LOCATION '$t'")
      // Spark's abort of the failed batch write already deleted the
      // staged commit dir, so there is nothing left to reclaim
      crashThenRerun(t)(
        spark.sql("INSERT INTO graftv_crash_sql VALUES (31, 310)"))
      assert(Versioned.read(spark, t).count() === 31L)
    } finally spark.sql("DROP TABLE IF EXISTS graftv_crash_sql")
  }

  test("crash at publish: merge") {
    val t = baseTable()
    crashThenRerun(t, "data", "_changes")(Versioned.merge(
      fresh(Seq(5L, 40L)).withColumn("v", lit(-1L)), t, "id"))
    assert(Versioned.read(spark, t).where(col("v") === -1L).count() === 2L)
  }

  test("crash at publish: delete and update, copy-on-write and " +
    "deletion vectors") {
    Seq(false, true).foreach { dv =>
      def maybeDv[A](f: => A): A = if (dv) withDv(f) else f
      val d = baseTable()
      // a DV delete writes a sidecar, a COW delete a rewritten file
      crashThenRerun(d, if (dv) "_dv" else "data", "_changes")(
        maybeDv(Versioned.deleteWhere(spark, d, col("id") === 3L)))
      assert(Versioned.snapshot(d).dvs.nonEmpty === dv)
      assert(Versioned.read(spark, d).count() === 29L)
      val u = baseTable()
      val updateAreas = Seq("data", "_changes") ++ Option.when(dv)("_dv")
      crashThenRerun(u, updateAreas: _*)(maybeDv(Versioned.updateWhere(
        spark, u, col("id") === 3L, Map("v" -> lit(-1L)))))
      assert(Versioned.snapshot(u).dvs.nonEmpty === dv)
      assert(Versioned.read(spark, u).where(col("v") === -1L).count() === 1L)
    }
  }

  test("crash at publish: replaceWhere, optimize, compact and " +
    "purgeDeletionVectors") {
    val r = baseTable()
    crashThenRerun(r, "data", "_changes")(
      Versioned.replaceWhere(fresh(Seq(1L)), r, col("id") < 5L))
    assert(Versioned.read(spark, r).count() === 27L)
    val o = baseTable()
    crashThenRerun(o, "data")(Versioned.optimize(spark, o))
    assert(Versioned.snapshot(o).files.size === 1)
    val c = baseTable()
    crashThenRerun(c, "data")(Versioned.compact(spark, c))
    assert(Versioned.snapshot(c).files.size === 1)
    val p = baseTable()
    withDv(Versioned.deleteWhere(spark, p, col("id") === 3L))
    crashThenRerun(p, "data")(Versioned.purgeDeletionVectors(spark, p))
    assert(Versioned.snapshot(p).dvs.isEmpty)
    assert(Versioned.read(spark, p).count() === 29L)
  }
}
