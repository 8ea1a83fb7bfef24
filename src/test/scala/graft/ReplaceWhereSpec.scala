package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round-13 extension: `replaceWhere` — Delta's selective overwrite.
  * ONE commit deletes every row matching the predicate and inserts
  * the new slice (the backfill idiom: replace a day/partition/range
  * atomically). Inserted rows must match the window (loud otherwise),
  * the rewrite is file-granular, CDF records delete+insert, and the
  * publish rebases over predicate-disjoint concurrent appends.
  */
class ReplaceWhereSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmpTable(): String =
    tempDir("graft-replace-").toString

  test("replace one key range atomically: file-granular rewrite, " +
    "window validation, CDF delete+insert") {
    import spark.implicits._
    val t = tmpTable()
    // four key-disjoint files: 0-9 / 10-19 / 20-29 / 30-39
    (0 until 4).foreach { b =>
      Versioned.commit((b * 10L until b * 10L + 10L).map(i => (i, i))
        .toDF("id", "v").coalesce(1), t)
    }
    // backfill the 10-19 window with a recomputed 5-row slice
    val slice = (10L to 14L).map(i => (i, i * 100)).toDF("id", "v")
    val v5 = Versioned.replaceWhere(slice, t,
      col("id") >= 10L && col("id") < 20L)
    assert(v5 === 5)
    val state = Versioned.read(spark, t).as[(Long, Long)]
      .collect().toMap
    assert(state.size === 35) // 30 outside + 5 new inside
    assert((10L to 14L).forall(i => state(i) == i * 100))
    assert(!(15L to 19L).exists(state.contains)) // old window gone
    assert(state(5L) === 5L && state(25L) === 25L) // outside untouched
    // file-granular: 3 of 4 original files carried by reference
    val before = Versioned.snapshot(t, Some(4)).files.toSet
    assert(Versioned.snapshot(t).files.count(before.contains) === 3)
    // CDF: 10 deletes (the old window) + 5 inserts
    val ch = Versioned.readChanges(spark, t, 4, 5)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(ch === Map("delete" -> 10L, "insert" -> 5L))

    // the window validation: a smuggled out-of-window row is loud,
    // nothing publishes
    val e = intercept[IllegalArgumentException] {
      Versioned.replaceWhere(Seq((99L, 1L)).toDF("id", "v"), t,
        col("id") < 20L)
    }
    assert(e.getMessage.contains("do not match the replace predicate"))
    assert(Versioned.versions(t).max === 5)
    // schema mismatch is loud too
    intercept[IllegalArgumentException] {
      Versioned.replaceWhere(Seq((1L, "x")).toDF("id", "s"), t,
        col("id") < 5L)
    }
  }

  test("a replace commit replicates through applyChanges (same key " +
    "deleted and re-inserted in one commit)") {
    import spark.implicits._
    val a = tmpTable()
    val b = tmpTable()
    Versioned.commit(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("id", "v"), a) // v1
    Versioned.replaceWhere(Seq((2L, 999L)).toDF("id", "v"), a,
      col("id") === 2L) // v2: delete id=2, re-insert id=2
    (1 to 2).foreach(v => Versioned.applyChanges(
      Versioned.readChanges(spark, a, v - 1, v), b, Seq("id")))
    assert(Versioned.read(spark, b).as[(Long, Long)].collect().toSet ===
      Set((1L, 10L), (2L, 999L), (3L, 30L)))
    // replaying the replace batch converges (delete-then-upsert)
    Versioned.applyChanges(Versioned.readChanges(spark, a, 1, 2), b,
      Seq("id"))
    assert(Versioned.read(spark, b).as[(Long, Long)].collect().toSet ===
      Set((1L, 10L), (2L, 999L), (3L, 30L)))
  }

  test("the publish rebases over a predicate-disjoint concurrent " +
    "append and aborts on an overlapping one") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((0L until 10L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), t) // v1
    // disjoint interloper: ids 100+ cannot match id < 5 — rebase
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((100L, 100L)).toDF("id", "v").coalesce(1), t)
      ()
    }
    Versioned.replaceWhere(Seq((1L, -1L)).toDF("id", "v"), t,
      col("id") < 5L && col("id") >= 0L)
    val state = Versioned.read(spark, t).as[(Long, Long)]
      .collect().toMap
    assert(state(100L) === 100L) // the interloper survived the rebase
    assert(state(1L) === -1L)
    assert(state.size === 7) // 5 kept (5-9) + 1 inserted + 1 appended
    // overlapping interloper: ids in-window — abort loudly
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((2L, 2L)).toDF("id", "v").coalesce(1), t); ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Versioned.replaceWhere(Seq((3L, 3L)).toDF("id", "v"), t,
        col("id") < 5L && col("id") >= 0L)
    }
  }
}
