package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Bloom sidecars — the point-lookup skipping tier (round 16):
  *
  *  - commits with `spark.graft.bloom.columns` set write a
  *    content-addressed `_bloom/<sha1(rel)>.bf` per fresh data file;
  *  - a point DELETE on a key whose [min,max] ranges OVERLAP across
  *    files (range tier prunes nothing) rewrites ONLY the file whose
  *    bloom may contain the key — the other file carries by
  *    reference under its original rel;
  *  - results are identical with and without the tier (the tier only
  *    removes provably-clean files);
  *  - IN + AND/OR predicates produce finite key sets; a small MERGE
  *    source probes with its exact keys (string uuid-like keys);
  *  - tables without sidecars degrade to range pruning (never error);
  *  - column RENAME keeps pruning working (sidecars key by stable
  *    PHYSICAL names);
  *  - DV-mode point deletes mask only bloom-surviving files;
  *  - vacuum reclaims a rewritten file's sidecar and keeps live ones;
  *  - clone carries sidecars (same rel → same content address).
  */
class VersionedBloomSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String =
    tempDir("r16-bloom-").toString

  private def withBloom[A](cols: String)(f: => A): A = {
    spark.conf.set(BloomFilters.ColumnsConf, cols)
    try f finally spark.conf.unset(BloomFilters.ColumnsConf)
  }

  /** Two single-file commits whose `id` RANGES fully overlap (evens
    * vs odds over [0,100)) — only membership separates them. */
  private def evensOdds(path: String): Unit = {
    import spark.implicits._
    Versioned.commit((0 until 100 by 2).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), path)
    Versioned.commit((1 until 100 by 2).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(1), path)
  }

  test("commits write content-addressed sidecars for configured columns") {
    val t = tmp()
    withBloom("id") { evensOdds(t) }
    val files = Versioned.snapshot(t).files
    assert(files.size === 2)
    files.foreach { f =>
      assert(Files.exists(Paths.get(t, BloomFilters.sidecarRel(f))),
        s"missing sidecar for $f")
    }
  }

  test("point DELETE prunes by membership where ranges fully overlap") {
    val t = tmp()
    withBloom("id") {
      evensOdds(t)
      val before = Versioned.snapshot(t).files.toSet
      Versioned.deleteWhere(spark, t, col("id") === 2L)
      val after = Versioned.snapshot(t).files.toSet
      // exactly one original file (the odds) must carry by reference
      assert(before.intersect(after).size === 1,
        s"expected 1 carried file, got ${before.intersect(after)}")
      // and the result is correct
      val got = Versioned.read(spark, t).select(col("id")).collect()
        .map(_.getLong(0)).sorted
      assert(got.length === 99 && !got.contains(2L) && got.contains(4L))
    }
  }

  test("no-sidecar tables degrade to range pruning; results identical " +
    "with the tier on and off") {
    import spark.implicits._
    val plain = tmp()
    evensOdds(plain) // no conf: no sidecars
    withBloom("id") {
      Versioned.deleteWhere(spark, plain, col("id") === 2L) // must not error
    }
    val bloomed = tmp()
    withBloom("id") {
      evensOdds(bloomed)
      Versioned.deleteWhere(spark, bloomed, col("id") === 2L)
    }
    val a = Versioned.read(spark, plain).as[(Long, String)].collect().sorted
    val b = Versioned.read(spark, bloomed).as[(Long, String)].collect().sorted
    assert(a.toSeq === b.toSeq)
  }

  test("IN and AND/OR predicates derive finite key sets; OR across " +
    "different columns disables the tier but stays correct") {
    val t = tmp()
    withBloom("id") {
      evensOdds(t)
      val before = Versioned.snapshot(t).files.toSet
      Versioned.deleteWhere(spark, t, col("id").isin(2L, 4L, 6L))
      val after1 = Versioned.snapshot(t).files.toSet
      assert(before.intersect(after1).size === 1) // odds carried
      // OR across columns: no finite set — both files rewrite, rows ok
      Versioned.deleteWhere(spark, t,
        col("id") === 1L || col("v") === "v3")
      val got = Versioned.read(spark, t).select(col("id")).collect()
        .map(_.getLong(0)).sorted
      assert(!got.contains(1L) && !got.contains(3L) && !got.contains(4L) &&
        got.contains(5L) && got.contains(8L))
    }
  }

  test("small MERGE source probes blooms with exact string keys") {
    import spark.implicits._
    val t = tmp()
    withBloom("k") {
      // uuid-like keys: ranges are useless, membership is everything
      def uuidish(i: Int, salt: String) =
        java.util.UUID.nameUUIDFromBytes(s"$salt-$i".getBytes).toString
      Versioned.commit((0 until 50).map(i => (uuidish(i, "a"), i.toLong))
        .toDF("k", "n").repartition(1), t)
      Versioned.commit((0 until 50).map(i => (uuidish(i, "b"), i.toLong))
        .toDF("k", "n").repartition(1), t)
      val before = Versioned.snapshot(t).files.toSet
      val src = Seq((uuidish(3, "a"), 999L)).toDF("k", "n")
      Versioned.merge(src, t, Seq("k"))
      val after = Versioned.snapshot(t).files.toSet
      assert(before.intersect(after).size === 1,
        "merge should carry the b-file by reference via its bloom")
      val got = Versioned.read(spark, t)
        .where(col("k") === uuidish(3, "a")).select(col("n"))
        .head().getLong(0)
      assert(got === 999L)
    }
  }

  test("sidecars key by PHYSICAL names: pruning survives a column rename") {
    val t = tmp()
    withBloom("id") {
      evensOdds(t)
      Versioned.renameColumn(t, "id", "ident")
      val before = Versioned.snapshot(t).files.toSet
      Versioned.deleteWhere(spark, t, col("ident") === 4L)
      val after = Versioned.snapshot(t).files.toSet
      assert(before.intersect(after).size === 1,
        "rename must not break bloom pruning (stable physical keys)")
      val got = Versioned.read(spark, t).select(col("ident")).collect()
        .map(_.getLong(0))
      assert(!got.contains(4L) && got.contains(6L))
    }
  }

  test("DV-mode point delete masks only bloom-surviving files") {
    val t = tmp()
    withBloom("id") {
      evensOdds(t)
      spark.conf.set("spark.graft.dv.enabled", "true")
      try {
        Versioned.deleteWhere(spark, t, col("id") === 8L)
        val snap = Versioned.snapshot(t)
        assert(snap.dvs.size === 1, s"expected 1 DV'd file, got ${snap.dvs}")
        val got = Versioned.read(spark, t).select(col("id")).collect()
          .map(_.getLong(0))
        assert(!got.contains(8L) && got.length === 99)
      } finally spark.conf.unset("spark.graft.dv.enabled")
    }
  }

  test("vacuum reclaims dead sidecars with their files, keeps live ones") {
    val t = tmp()
    withBloom("id") {
      evensOdds(t)
      val before = Versioned.snapshot(t).files
      Versioned.deleteWhere(spark, t, col("id") === 2L) // rewrites evens
      val after = Versioned.snapshot(t).files.toSet
      val dead = before.filterNot(after)
      assert(dead.size === 1)
      val deadSidecar = Paths.get(t, BloomFilters.sidecarRel(dead.head))
      assert(Files.exists(deadSidecar))
      Versioned.vacuum(t, retainVersions = 1, graceMs = 0L)
      assert(!Files.exists(deadSidecar), "dead sidecar must be reclaimed")
      after.foreach { f =>
        assert(Files.exists(Paths.get(t, BloomFilters.sidecarRel(f))),
          s"live sidecar of $f must survive vacuum")
      }
    }
  }

  test("DSv2 point SELECT skips files whose blooms exclude the key") {
    val t = tmp()
    withBloom("id") {
      evensOdds(t)
      val files = Versioned.snapshot(t).files
      // CORRUPT the ODDS data file in place (its sidecar stays — a
      // sidecar is a pure function of the original immutable file). A
      // scan for an EVEN key must never touch it — the read
      // SUCCEEDING at all proves the pushed-filter bloom tier dropped
      // the file before the parquet reader saw it. (Deleting instead
      // would prove nothing: Spark's listing silently skips missing
      // paths.)
      val odds = files.find { f =>
        spark.read.parquet(s"$t/$f").where(col("id") === 1L).count() > 0
      }.get
      Files.write(Paths.get(t, odds),
        "not a parquet file".getBytes("UTF-8"))
      val got = spark.read.format("graftv").load(t)
        .where(col("id") === 2L).select(col("id"), col("v")).collect()
      assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq((2L, "v2")))
      // an IN-list of even keys also plans past the missing file
      val in = spark.read.format("graftv").load(t)
        .where(col("id").isin(2L, 4L)).select(col("id")).collect()
      assert(in.map(_.getLong(0)).sorted.toSeq === Seq(2L, 4L))
      // a RANGE predicate derives no finite key set, so the missing
      // file stays planned and the read fails — the skip above was
      // the bloom tier's, not some lenient listing
      intercept[Throwable] {
        spark.read.format("graftv").load(t)
          .where(col("id") <= 2L).collect()
      }
    }
  }

  test("FilterKeySets: equality/IN/AND/OR; dotted attrs, ranges and " +
      "over-cap IN-lists contribute nothing") {
    import org.apache.spark.sql.sources._
    assert(FilterKeySets.of(Seq(EqualTo("k", 5))) === Map("k" -> Seq(5L)))
    assert(FilterKeySets.of(Seq(In("k", Array[Any](1, 2, 2)))) ===
      Map("k" -> Seq(1L, 2L)))
    assert(FilterKeySets.of(Seq(EqualTo("k", 1), EqualTo("j", "x"))) ===
      Map("k" -> Seq(1L), "j" -> Seq("x")))
    // conjunction on the same column intersects
    assert(FilterKeySets.of(Seq(In("k", Array[Any](1, 2)),
      In("k", Array[Any](2, 3)))) === Map("k" -> Seq(2L)))
    // OR bounds a column only when BOTH sides bound it
    assert(FilterKeySets.of(Seq(Or(EqualTo("k", 1), EqualTo("k", 2)))) ===
      Map("k" -> Seq(1L, 2L)))
    assert(FilterKeySets.of(Seq(Or(EqualTo("k", 1), EqualTo("j", 2)))) ===
      Map.empty)
    assert(FilterKeySets.of(Seq(EqualTo("a.b", 1))) === Map.empty)
    assert(FilterKeySets.of(Seq(GreaterThan("k", 1))) === Map.empty)
    assert(FilterKeySets.of(Seq(EqualNullSafe("k", null))) === Map.empty)
    val big = In("k",
      (0 to BloomFilters.MergeKeyCap).map(_.asInstanceOf[Any]).toArray)
    assert(FilterKeySets.of(Seq(big)) === Map.empty)
  }

  test("clone carries sidecars; the clone prunes from day one") {
    val t = tmp()
    val c = tmp() + "/clone"
    withBloom("id") {
      evensOdds(t)
      Versioned.cloneTable(spark, t, c)
      Versioned.snapshot(c).files.foreach { f =>
        assert(Files.exists(Paths.get(c, BloomFilters.sidecarRel(f))),
          s"clone missing sidecar for $f")
      }
      val before = Versioned.snapshot(c).files.toSet
      Versioned.deleteWhere(spark, c, col("id") === 2L)
      val after = Versioned.snapshot(c).files.toSet
      assert(before.intersect(after).size === 1)
    }
  }
}
