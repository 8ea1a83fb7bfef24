package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

class VersionedSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmpTable(): String =
    tempDir("versioned-spec-").toString

  test("append/append/overwrite/restore: every version reads back") {
    import spark.implicits._
    val t = tmpTable()
    val v1 = Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    val v2 = Versioned.commit(Seq((3L, "c")).toDF("id", "s"), t)
    val v3 = Versioned.commit(Seq((9L, "z")).toDF("id", "s"), t, "overwrite")
    val v4 = Versioned.restore(t, v2)
    assert(Seq(v1, v2, v3, v4) === Seq(1, 2, 3, 4))
    def ids(v: Int) = Versioned.read(spark, t, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(1) === Seq(1L, 2L))
    assert(ids(2) === Seq(1L, 2L, 3L))
    assert(ids(3) === Seq(9L))
    assert(ids(4) === Seq(1L, 2L, 3L)) // restore == v2's live set
    // latest (no asOf) is the restore
    assert(Versioned.read(spark, t).count() === 3L)
  }

  test("append with a different schema fails loudly; overwrite may evolve") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq((2L, 0.5)).toDF("id", "x"), t)
    }
    assert(e.getMessage.contains("schema mismatch"))
    Versioned.commit(Seq((2L, 0.5)).toDF("id", "x"), t, "overwrite")
    assert(Versioned.read(spark, t).columns.toSeq === Seq("id", "x"))
  }

  test("mergeSchema append: additive evolution, null-filled old files") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1: (id, s)
    // adding a column without opting in stays a loud error
    intercept[IllegalArgumentException] {
      Versioned.commit(Seq((2L, "b", 0.5)).toDF("id", "s", "x"), t)
    }
    // additive evolution: new column appends as nullable
    Versioned.commit(Seq((2L, "b", 0.5)).toDF("id", "s", "x"), t,
      mergeSchema = true) // v2: (id, s, x)
    val rows = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", Some(0.5))))
    // old-shape appends still land against the evolved table (their
    // files simply lack x) — both directions are additive
    Versioned.commit(Seq((3L, "c")).toDF("id", "s"), t, mergeSchema = true)
    assert(Versioned.read(spark, t).where(col("id") === 3L)
      .head().isNullAt(2))
    // time travel sees v1 under ITS schema
    assert(Versioned.read(spark, t, Some(1)).columns.toSeq === Seq("id", "s"))
    // a type CHANGE is never mergeable
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq((4L, 9L, 0.5)).toDF("id", "s", "x"), t,
        mergeSchema = true)
    }
    assert(e.getMessage.contains("cannot change"))
    // the graftv connector null-fills evolved columns too — including
    // a projection of ONLY the new column over pre-evolution files
    val viaSource = spark.read.format("graftv").load(t)
      .select(col("id"), col("x")).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).sortBy(_._1)
    assert(viaSource.toSeq ===
      Seq((1L, None), (2L, Some(0.5)), (3L, None)))
    assert(spark.read.format("graftv").load(t).select(col("x"))
      .where(col("x").isNotNull).count() === 1L)
  }

  test("snapshot replay is bounded by the checkpoint interval") {
    import spark.implicits._
    val t = tmpTable()
    (1 to 25).foreach(i => Versioned.commit(Seq((i.toLong, s"r$i"))
      .toDF("id", "s"), t))
    val s25 = Versioned.snapshot(t)
    assert(s25.version === 25)
    assert(s25.baseVersion === 20) // v20 self-checkpointed
    assert(s25.replayedManifests <= Versioned.CheckpointInterval)
    assert(Versioned.read(spark, t).count() === 25L)
    // time travel across the checkpoint boundary still exact
    assert(Versioned.read(spark, t, Some(13)).count() === 13L)
  }

  test("concurrent commits all land with distinct versions (optimistic retry)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((0L, "seed")).toDF("id", "s"), t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val vs = Await.result(Future.sequence((1 to 8).map(i => Future {
      Versioned.commit(Seq((i.toLong, s"w$i")).toDF("id", "s"), t)
    })), 120.seconds)
    assert(vs.sorted === (2 to 9)) // 8 distinct versions, no losses
    assert(Versioned.read(spark, t).count() === 9L) // all appends merged
  }

  test("readers never see a torn manifest: publish is link-after-write") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    // only the published manifest is in _log (no .tmp residue)
    val names = {
      val s = Files.list(Paths.get(t, "_log"))
      try { import scala.jdk.CollectionConverters._
        s.iterator.asScala.map(_.getFileName.toString).toVector }
      finally s.close()
    }
    assert(names === Vector("v000001.json"))
  }

  test("vacuum drops files unreachable from the retained horizon") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), t, "overwrite") // v2
    // graceMs = 0: this spec is the single writer, so the in-flight
    // guard (which would spare every just-written file) is waived
    val dead = Versioned.vacuum(t, retainVersions = 1, graceMs = 0L)
    assert(dead.exists(_.endsWith(".parquet"))) // v1's data is gone
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).toSeq
      === Seq(9L)) // latest unharmed
    // v1's manifest survives as audit trail, but its scan now fails
    assert(Versioned.versions(t) === Seq(1, 2))
    intercept[Exception] {
      Versioned.read(spark, t, Some(1)).collect()
    }
  }

  test("commitIfAbsent: replayed batch ids are no-ops, across restores too") {
    import spark.implicits._
    val t = tmpTable()
    assert(Versioned.commitIfAbsent(Seq((1L, "a")).toDF("id", "s"),
      t, "appA", 0L) === Some(1))
    assert(Versioned.commitIfAbsent(Seq((2L, "b")).toDF("id", "s"),
      t, "appA", 1L) === Some(2))
    // at-least-once replay of batch 1: skipped, table unchanged
    assert(Versioned.commitIfAbsent(Seq((2L, "dup")).toDF("id", "s"),
      t, "appA", 1L) === None)
    assert(Versioned.read(spark, t).count() === 2L)
    // a different app's ledger is independent
    assert(Versioned.commitIfAbsent(Seq((9L, "x")).toDF("id", "s"),
      t, "appB", 1L) === Some(3))
    // restore rolls the DATA back but the txn ledger forward:
    // a replayed batch is still a duplicate afterwards
    Versioned.restore(t, 1)
    assert(Versioned.commitIfAbsent(Seq((2L, "dup")).toDF("id", "s"),
      t, "appA", 1L) === None)
    assert(Versioned.lastTxn(t, "appA") === Some(1L))
    assert(Versioned.lastTxn(t, "appB") === Some(1L))
  }

  test("exactly-once streaming sink: a restarted query re-emits no rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = tmpTable()
    val ckpt = tempDir("versioned-ckpt-").toString
    val src = MemoryStream[Long]
    src.addData(1L, 2L, 3L)
    def run(): Unit = {
      val q = src.toDF().toDF("id")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(Versioned.streamingSink(t, "stream-spec"))
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val n1 = Versioned.read(spark, t).count()
    assert(n1 === 3L)
    // restart from the same checkpoint: the recovered batch replays
    // through foreachBatch (at-least-once), the sink must dedupe it
    run()
    assert(Versioned.read(spark, t).count() === n1)
    src.addData(4L)
    run()
    assert(Versioned.read(spark, t).count() === 4L)
  }

  test("merge upserts file-granularly: untouched files carry by reference") {
    import spark.implicits._
    val t = tmpTable()
    // two commits → two disjoint key-range file sets
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "s").coalesce(1), t)
    Versioned.commit(Seq((100L, "x"), (101L, "y"))
      .toDF("id", "s").coalesce(1), t)
    val before = Versioned.snapshot(t).files.toSet
    // update key 100 (second file's range) + insert key 200
    val v = Versioned.merge(Seq((100L, "X"), (200L, "new"))
      .toDF("id", "s"), t, "id")
    val after = Versioned.snapshot(t)
    assert(after.version === v)
    val got = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c"),
      (100L, "X"), (101L, "y"), (200L, "new")))
    // footer-range pruning kept the [1..3] file out of the rewrite:
    // it appears verbatim (by reference) in the merged snapshot
    val carried = after.files.toSet intersect before
    assert(carried.nonEmpty, s"expected an untouched file carried " +
      s"by reference; before=$before after=${after.files}")
    // and time travel still sees the pre-merge state
    assert(Versioned.read(spark, t, Some(2)).count() === 5L)
  }

  test("merge conflict detection: a racing commit aborts the merge loudly") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    // simulate the race: a commit lands between the merge's snapshot
    // read and its publish by pre-publishing the next version
    val snapBefore = Versioned.snapshot(t)
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t)
    assert(Versioned.snapshot(t).version === snapBefore.version + 1)
    // now a merge that reads the CURRENT head succeeds...
    Versioned.merge(Seq((1L, "A")).toDF("id", "s"), t, "id")
    // ...and deleteWhere's detection fires when the head moves under it
    // (exercised via the public surface: concurrent threads, one loses)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 4).map(i => Future {
      try Right(Versioned.merge(Seq((i * 1000L, s"m$i")).toDF("id", "s"),
        t, "id"))
      catch { case e: java.util.ConcurrentModificationException => Left(e) }
    })), 120.seconds)
    val wins = results.count(_.isRight)
    assert(wins >= 1) // at least one merge lands; losers abort loudly
    assert(results.count(_.isLeft) === 4 - wins)
    // the table reflects exactly the winners' inserts
    val n = Versioned.read(spark, t).count()
    assert(n === 2L + wins)
  }

  test("optimize compacts the live set without changing rows") {
    import spark.implicits._
    val t = tmpTable()
    (1 to 6).foreach(i =>
      Versioned.commit(Seq((i.toLong, s"r$i")).toDF("id", "s"), t))
    assert(Versioned.snapshot(t).files.length >= 6)
    val v = Versioned.optimize(spark, t, numFiles = 1)
    val after = Versioned.snapshot(t)
    assert(after.version === v && after.files.length === 1)
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
      === (1L to 6L))
    // time travel still sees the pre-compaction layout
    assert(Versioned.snapshot(t, Some(6)).files.length >= 6)
  }

  test("clustered optimize tightens merge's footer pruning") {
    import spark.implicits._
    val t = tmpTable()
    // four interleaved commits: every file spans ~the whole key range,
    // so a narrow-range merge must rewrite ALL of them
    (0 until 4).foreach { i =>
      Versioned.commit((1L to 200L).filter(_ % 4 == i)
        .map(id => (id, s"r$id")).toDF("id", "s").coalesce(1), t)
    }
    val before = Versioned.snapshot(t).files.toSet
    Versioned.merge(Seq((1L, "X"), (5L, "Y")).toDF("id", "s"), t, "id")
    assert((Versioned.snapshot(t).files.toSet intersect before).isEmpty,
      "scattered layout: a narrow merge touches every file")
    // ZORDER-style clustered compaction → tight per-file key ranges
    Versioned.optimize(spark, t, numFiles = 4, clusterBy = Seq("id"))
    val clustered = Versioned.snapshot(t).files.toSet
    Versioned.merge(Seq((2L, "Z")).toDF("id", "s"), t, "id")
    val carried = Versioned.snapshot(t).files.toSet intersect clustered
    assert(carried.size >= 2,
      s"clustered layout must carry the untouched range files by " +
        s"reference (carried ${carried.size} of ${clustered.size})")
    // rows intact through it all
    val got = Versioned.read(spark, t)
    assert(got.count() === 200L)
    assert(got.where(col("id") === 2L).head().getString(1) === "Z")
    assert(got.where(col("id") === 1L).head().getString(1) === "X")
  }

  test("readChanges feeds exactly the appended rows, tagged by version") {
    import spark.implicits._
    val t = tmpTable()
    (1 to 12).foreach(i => // crosses the v10 self-checkpoint
      Versioned.commit(Seq((i.toLong, s"r$i")).toDF("id", "s"), t))
    val ch = Versioned.readChanges(spark, t, fromVersion = 9, toVersion = 12)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getInt(3)))
      .sorted.toSeq
    assert(ch === Seq((10L, "insert", 10), (11L, "insert", 11),
      (12L, "insert", 12)))
    // a RE-BASELINE commit (overwrite/restore) in range is refused
    // loudly — their row-level delta is a whole-table statement
    Versioned.commit(Seq((99L, "ow")).toDF("id", "s"), t, "overwrite") // v13
    val e = intercept[RuntimeException] {
      Versioned.readChanges(spark, t, 12, 13).collect()
    }
    assert(e.getMessage.contains("re-baseline"))
  }

  test("deleteWhere removes matching rows as a new version") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t)
    val v = Versioned.deleteWhere(spark, t, col("id") % 2 === 0)
    assert(v === 2)
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 3L))
    assert(Versioned.read(spark, t, Some(1)).count() === 3L) // history intact
  }

  test("v1_time_travel query matches its relational twin") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val got = Versioned.timeTravel(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables(spark, dir, "documents")
    def expect(pred: org.apache.spark.sql.Column) = {
      val r = docs.where(pred)
        .agg(count(lit(1)), sum(col("doc_id")), sum(col("n_chars"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val e1 = expect(col("doc_id") % 3 === 0)
    val e2 = expect(col("doc_id") % 3 <= 1)
    val e3 = expect(col("doc_id") % 2 === 0)
    assert(got.toSeq === Seq(
      (1, e1._1, e1._2, e1._3), (2, e2._1, e2._2, e2._3),
      (3, e3._1, e3._2, e3._3), (4, e2._1, e2._2, e2._3),
      (5, e2._1, e2._2, e2._3))) // timestampAsOf(latest stamp) == v4
  }

  test("timestampAsOf resolves between-commit, exact, latest and out-of-range instants") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Thread.sleep(25) // force distinct millisecond stamps
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t) // v2
    Thread.sleep(25)
    Versioned.commit(Seq((3L, "c")).toDF("id", "s"), t) // v3
    val (t1, t2, t3) = (Versioned.commitTimestamp(t, 1),
      Versioned.commitTimestamp(t, 2), Versioned.commitTimestamp(t, 3))
    assert(t1 < t2 && t2 < t3)
    // exact stamps resolve to their own versions
    assert(Versioned.timestampToVersion(t, t1) === 1)
    assert(Versioned.timestampToVersion(t, t2) === 2)
    // between-commit instants resolve to the EARLIER version (the
    // latest commit not after the instant — Delta's semantics)
    assert(Versioned.timestampToVersion(t, (t1 + t2) / 2) === 1)
    assert(Versioned.timestampToVersion(t, (t2 + t3) / 2) === 2)
    // after the last commit: latest
    assert(Versioned.timestampToVersion(t, t3 + 60_000) === 3)
    // before the first commit: loud error
    val e = intercept[IllegalArgumentException] {
      Versioned.timestampToVersion(t, t1 - 60_000)
    }
    assert(e.getMessage.contains("predates"))
    // the read path end-to-end, library and DSv2 option forms
    assert(Versioned.readAsOfTimestamp(spark, t, (t1 + t2) / 2)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L))
    assert(spark.read.format("graftv")
      .option("timestampAsOf", (t2 + t3) / 2).load(t)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // versionAsOf and timestampAsOf together: refused
    val both = intercept[IllegalArgumentException] {
      spark.read.format("graftv").option("timestampAsOf", t2)
        .option("versionAsOf", 1).load(t).collect()
    }
    assert(both.getMessage.contains("mutually exclusive"))
  }

  test("merge refuses duplicate source keys (Delta MERGE precondition)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(Seq((2L, "x"), (2L, "y")).toDF("id", "s"), t, "id")
    }
    assert(e.getMessage.contains("duplicate"))
    // table unchanged, no phantom version
    assert(Versioned.versions(t) === Seq(1))
    assert(Versioned.read(spark, t).count() === 2L)
  }

  test("vacuum's grace horizon spares young unreferenced files (in-flight writer guard)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), t, "overwrite") // v2
    // simulate an in-flight writer: data files on disk, manifest not
    // yet published — exactly what a concurrent commit looks like
    // mid-publish. With the default grace, vacuum must spare BOTH the
    // unreferenced v1 files and the in-flight ones (all younger than
    // the horizon).
    val inflight = Paths.get(t, "data", "c-inflight00000")
    Files.createDirectories(inflight)
    Files.writeString(inflight.resolve("part-00000.parquet"), "pending")
    assert(Versioned.vacuum(t, retainVersions = 1).isEmpty)
    assert(Files.exists(inflight.resolve("part-00000.parquet")))
    // with the grace waived, the unreferenced files are reclaimed
    val dead = Versioned.vacuum(t, retainVersions = 1, graceMs = 0L)
    assert(dead.nonEmpty)
    assert(!Files.exists(inflight.resolve("part-00000.parquet")))
  }

  test("manifests carry per-file BIGINT stats; merge prunes from the log, footer fallback works") {
    import spark.implicits._
    val t = tmpTable()
    // three key-disjoint files (coalesce(1) per commit)
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), t)
    Versioned.commit(Seq((100L, 1L)).toDF("id", "v").coalesce(1), t)
    Versioned.commit(Seq((200L, 2L)).toDF("id", "v").coalesce(1), t)
    val snap = Versioned.snapshot(t)
    // every live file carries [min, max] for both BIGINT columns
    assert(snap.files.forall(f => snap.stats.get(f)
      .exists(c => c.contains("id") && c.contains("v"))))
    val idRanges = snap.files
      .map(f => snap.stats(f)("id").asInstanceOf[Versioned.LongStat])
      .sortBy(_.lo)
    assert(idRanges === Seq(Versioned.LongStat(1L, 2L),
      Versioned.LongStat(100L, 100L), Versioned.LongStat(200L, 200L)))
    // merge touching only the 100-range rewrites exactly that file —
    // decided from the MANIFEST stats (no footer opens on this path)
    Versioned.merge(Seq((100L, 9L)).toDF("id", "v"), t, "id")
    val after = Versioned.snapshot(t)
    val carried = after.files.toSet intersect snap.files.toSet
    assert(carried.size === 2, s"untouched files must carry: $carried")
    // carried files keep their manifest stats through the merge commit
    assert(carried.forall(f => after.stats(f) == snap.stats(f)))
    // checkpoint carries stats forward: push past the v10 checkpoint
    (1 to 8).foreach(i =>
      Versioned.commit(Seq((300L + i, 0L)).toDF("id", "v").coalesce(1), t))
    val cp = Versioned.snapshot(t)
    assert(cp.replayedManifests <= Versioned.CheckpointInterval + 1)
    assert(cp.files.forall(f => cp.stats.contains(f)))
    // FOOTER FALLBACK (pre-stats manifests): strip the stats field
    // from every manifest on disk; merge must still prune correctly
    val logDir = Paths.get(t, "_log")
    val s2 = Files.list(logDir)
    try s2.iterator().forEachRemaining { m =>
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(Files.readString(m))
      val stripped = j match {
        case JObject(fields) => JObject(fields.filterNot(_._1 == "stats"))
        case other => other
      }
      Files.writeString(m,
        org.json4s.jackson.JsonMethods.compact(stripped))
    } finally s2.close()
    val stripped = Versioned.snapshot(t)
    assert(stripped.stats.isEmpty, "stripped log must read as pre-stats")
    Versioned.merge(Seq((200L, 7L)).toDF("id", "v"), t, "id")
    val got = Versioned.read(spark, t).where(col("id") === 200L).head()
    assert(got.getLong(1) === 7L)
  }

  test("history lists every version with op, monotone stamp, and CDF availability") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1 append
    Versioned.merge(Seq((1L, "A")).toDF("id", "s"), t, "id") // v2 merge
    Versioned.deleteWhere(spark, t, col("id") === 99L) // v3 delete (no-op rows)
    Versioned.restore(t, 1) // v4
    val h = Versioned.history(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(5)))
    assert(h.map(x => (x._1, x._2)).toSeq ===
      Seq((1, "append"), (2, "merge"), (3, "delete"), (4, "restore")))
    // stamps are monotone non-decreasing and resolve via timestampAsOf
    assert(h.map(_._3).toSeq === h.map(_._3).sorted.toSeq)
    assert(Versioned.timestampToVersion(t, h.last._3) === 4)
    // CDF availability: merge/delete persisted change sets, append/
    // restore did not
    assert(h.map(_._5).toSeq === Seq(false, true, true, false))
    // v1 is a checkpoint by construction (first commit is full)
    assert(h.head._4)
  }

  test("merge and delete emit row-level CDF; optimize emits nothing") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), t) // v1
    Versioned.merge(
      Seq((2L, 99L), (4L, 40L)).toDF("id", "v"), t, "id") // v2: upd 2, ins 4
    Versioned.optimize(spark, t, numFiles = 1) // v3: layout only
    Versioned.deleteWhere(spark, t, col("id") === 1L) // v4
    val ch = Versioned.readChanges(spark, t, 1, 4)
      .collect()
      .map(r => (r.getInt(3), r.getString(2), r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    assert(ch === Seq(
      (2, "insert", 4L, 40L),
      (2, "update_postimage", 2L, 99L),
      (2, "update_preimage", 2L, 20L),
      (4, "delete", 1L, 10L)))
    // appends in a mixed range still read as inserts
    val all = Versioned.readChanges(spark, t, 0, 2)
    assert(all.where(col("_change_type") === "insert").count() === 4L) // 3 + 1
  }

  // ------------------------------------------------- round 11: merge

  test("merge on a composite (string uuid, long) key: upsert + CDF") {
    import spark.implicits._
    val t = tmpTable()
    def uuid(i: Long) = f"u-$i%04d"
    val seed = (1L to 6L).map(i => (uuid(i), i % 2, i * 10))
      .toDF("u", "b", "v")
    Versioned.commit(seed, t) // v1
    // updates: (u-0002, 0) exists -> update; (u-0009, 1) is new -> insert
    val ups = Seq((uuid(2), 0L, 999L), (uuid(9), 1L, 900L)).toDF("u", "b", "v")
    val v2 = Versioned.merge(ups, t, Seq("u", "b"))
    assert(v2 === 2)
    val rows = Versioned.read(spark, t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows.size === 7)
    assert(rows.contains((uuid(2), 0L, 999L)))
    assert(rows.contains((uuid(9), 1L, 900L)))
    assert(!rows.contains((uuid(2), 0L, 20L)))
    // a SAME uuid with a DIFFERENT bucket must NOT match (composite)
    val v3 = Versioned.merge(Seq((uuid(3), 0L, -1L)).toDF("u", "b", "v"),
      t, Seq("u", "b")) // u-0003 exists with b=1 only -> insert
    assert(Versioned.read(spark, t, Some(v3)).where(col("u") === uuid(3))
      .count() === 2L)
    // CDF of the composite merge
    val ch = Versioned.readChanges(spark, t, 1, 2)
      .select("_change_type", "u", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(ch === Seq(
      ("insert", uuid(9), 900L),
      ("update_postimage", uuid(2), 999L),
      ("update_preimage", uuid(2), 20L)))
  }

  test("merge string-key stats prune: only intersecting files rewrite") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq(("aaa", 1L), ("abc", 2L)).toDF("k", "v")
      .coalesce(1), t)
    Versioned.commit(Seq(("mmm", 3L)).toDF("k", "v").coalesce(1), t)
    Versioned.commit(Seq(("zzz", 4L)).toDF("k", "v").coalesce(1), t)
    val snap = Versioned.snapshot(t)
    // string stats recorded from the footers into the manifest
    assert(snap.files.forall(f =>
      snap.stats(f)("k").isInstanceOf[Versioned.StrStat]))
    Versioned.merge(Seq(("mmm", 9L)).toDF("k", "v"), t, Seq("k"))
    val after = Versioned.snapshot(t)
    val carried = after.files.toSet intersect snap.files.toSet
    assert(carried.size === 2, s"string-disjoint files must carry: $carried")
    assert(Versioned.read(spark, t).where(col("k") === "mmm")
      .head().getLong(1) === 9L)
  }

  test("merge clauses: conditional update, delete, insert gating") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 5L).map(i => (i, i * 10, "old")).toDF("id", "v", "tag"), t)
    // whenMatched update ONLY rows the source flags; unmatched insert
    // only flagged rows too
    val src = Seq((2L, 200L, "upd"), (3L, 300L, "skip"),
      (8L, 800L, "upd"), (9L, 900L, "skip")).toDF("id", "v", "tag")
    Versioned.merge(src, t, Seq("id"),
      whenMatched = Versioned.WhenMatched.Update(Some(col("tag") === "upd")),
      whenNotMatched = Versioned.WhenNotMatched.Insert(Some(col("tag") === "upd")))
    val rows = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows === Seq((1L, 10L), (2L, 200L), (3L, 30L), (4L, 40L),
      (5L, 50L), (8L, 800L))) // 3 unchanged (cond failed), 9 not inserted
    // whenMatched DELETE: tombstone feed removes matched ids only
    val tomb = Seq((2L, 0L, "x"), (77L, 0L, "x")).toDF("id", "v", "tag")
    val v3 = Versioned.merge(tomb, t, Seq("id"),
      whenMatched = Versioned.WhenMatched.Delete(None),
      whenNotMatched = Versioned.WhenNotMatched.Ignore)
    val ids = Versioned.read(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 3L, 4L, 5L, 8L)) // 2 deleted, 77 NOT inserted
    // the delete clause's CDF rows are tagged delete
    val ch = Versioned.readChanges(spark, t, v3 - 1, v3)
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ch === Seq(("delete", 2L)))
  }

  test("merge conditions over the TARGET row: upsert-if-newer and stale-delete") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L), (2L, 50L), (3L, 30L))
      .toDF("id", "v"), t)
    // upsert-if-newer (the CDC staple): update only when the source
    // value beats the target's; unmatched rows insert
    val src = Seq((1L, 99L), (2L, 7L), (4L, 40L)).toDF("id", "v")
    Versioned.merge(src, t, Seq("id"),
      whenMatched = Versioned.WhenMatched.Update(
        Some(col("source.v") > col("target.v"))))
    val rows = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // 1: 99 (newer wins), 2: 50 UNCHANGED (stale source), 3: 30, 4: inserted
    assert(rows === Seq((1L, 99L), (2L, 50L), (3L, 30L), (4L, 40L)))
    // stale-delete: remove matched targets older than the tombstone
    val tomb = Seq((2L, 60L), (3L, 10L)).toDF("id", "v")
    Versioned.merge(tomb, t, Seq("id"),
      whenMatched = Versioned.WhenMatched.Delete(
        Some(col("target.v") < col("source.v"))),
      whenNotMatched = Versioned.WhenNotMatched.Ignore)
    // 2 deleted (50 < 60); 3 kept (30 >= 10)
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 3L, 4L))
  }

  test("merge rejects null keys, duplicate keys, unsupported key types") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val eNull = intercept[IllegalArgumentException] {
      Versioned.merge(Seq((Some(2L), "b"), (None, "c"))
        .toDF("id", "s"), t, "id")
    }
    assert(eNull.getMessage.contains("null-key"))
    // unique non-null keys PLUS a null would previously misfire as
    // "duplicate keys" (ADVICE r10 low): now it errors as null-key
    val eDup = intercept[IllegalArgumentException] {
      Versioned.merge(Seq((2L, "b"), (2L, "c")).toDF("id", "s"), t, "id")
    }
    assert(eDup.getMessage.contains("duplicate"))
    val t2 = tmpTable()
    Versioned.commit(Seq((0.5, "a")).toDF("d", "s"), t2)
    val eType = intercept[IllegalArgumentException] {
      Versioned.merge(Seq((0.5, "b")).toDF("d", "s"), t2, "d")
    }
    assert(eType.getMessage.contains("unsupported type"))
  }

  test("string stats truncation: long ASCII keys get bounded, not exact") {
    import spark.implicits._
    val t = tmpTable()
    val longKey = "k" * 100 // over StrStatMaxLen
    Versioned.commit(Seq((longKey, 1L)).toDF("k", "v").coalesce(1), t)
    val snap = Versioned.snapshot(t)
    val st = snap.stats(snap.files.head)("k").asInstanceOf[Versioned.StrStat]
    assert(st.lo.length === Versioned.StrStatMaxLen)
    assert(st.hi.length === Versioned.StrStatMaxLen)
    assert(st.lo <= longKey && longKey <= st.hi, "bounds must contain the key")
    // merge on the long key still matches (conservative bound)
    Versioned.merge(Seq((longKey, 2L)).toDF("k", "v"), t, Seq("k"))
    assert(Versioned.read(spark, t).head().getLong(1) === 2L)
  }

  test("partitioned table: hive layout, read-back, COW ops preserve layout") {
    import spark.implicits._
    val t = tmpTable()
    val df = (1L to 12L).map(i => (i, i % 3, s"g${i % 3}", i * 10))
      .toDF("id", "p", "g", "v")
    Versioned.commit(df, t, partitionBy = Seq("p")) // v1
    val snap = Versioned.snapshot(t)
    assert(snap.partitionCols === Seq("p"))
    assert(snap.files.forall(_.contains("__part_p=")), "hive layout expected")
    // partition value recorded as a point stat in the manifest
    assert(snap.files.forall(f =>
      snap.stats(f)("p").isInstanceOf[Versioned.LongStat]))
    // full read-back recovers the partition column from the path
    val got = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === (1L to 12L).map(i => (i, i % 3, s"g${i % 3}", i * 10)))
    assert(Versioned.read(spark, t).columns.toSeq ===
      Seq("id", "p", "g", "v"))
    // appends INHERIT the layout; a conflicting explicit layout errors
    Versioned.commit(Seq((13L, 1L, "g1", 130L)).toDF("id", "p", "g", "v"), t)
    assert(Versioned.snapshot(t).files.forall(_.contains("p=")))
    intercept[IllegalArgumentException] {
      Versioned.commit(Seq((14L, 2L, "g2", 140L)).toDF("id", "p", "g", "v"),
        t, partitionBy = Seq("g"))
    }
    // merge preserves the layout and the composite read stays exact
    Versioned.merge(Seq((5L, 2L, "g2", 999L)).toDF("id", "p", "g", "v"),
      t, Seq("id"))
    val after = Versioned.snapshot(t)
    assert(after.files.forall(_.contains("__part_p=")))
    assert(Versioned.read(spark, t).where(col("id") === 5L)
      .head().getLong(3) === 999L)
    assert(Versioned.read(spark, t).count() === 13L)
    // deleteWhere + optimize keep the layout; rows stay exact
    Versioned.deleteWhere(spark, t, col("p") === 0L)
    Versioned.optimize(spark, t, numFiles = 1)
    val fin = Versioned.snapshot(t)
    assert(fin.files.forall(_.contains("__part_p=")))
    val rows = Versioned.read(spark, t)
    assert(rows.count() === 9L)
    assert(rows.where(col("p") === 0L).count() === 0L)
    // change feed across the partitioned merge/delete still carries
    // the partition column values
    val ch = Versioned.readChanges(spark, t,
      fin.version - 2, fin.version - 1) // the delete commit
    assert(ch.where(col("_change_type") === "delete")
      .select("p").collect().forall(_.getLong(0) === 0L))
  }

  test("partition pruning: manifest point stats prune the partitioned scan") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 40L).map(i => (i, i % 4, s"s$i"))
      .toDF("id", "p", "s"), t, partitionBy = Seq("p"))
    val snap = Versioned.snapshot(t)
    // partition value = a PERFECT point stat per file
    snap.files.foreach { f =>
      val Versioned.LongStat(lo, hi) =
        snap.stats(f)("p"): @unchecked
      assert(lo === hi, s"partition stat must be a point: $f")
      assert(f.contains(s"__part_p=$lo"))
    }
    // library-level pruning: the point stats select exactly the one
    // partition's files
    val pruned = Versioned.pruneFiles(snap, "p", 2L, 2L)
    assert(pruned.nonEmpty && pruned.size < snap.files.size)
    assert(pruned.forall(_.contains("__part_p=2")))
    // rows stay exact through a partition-filtered library read
    assert(Versioned.read(spark, t).where(col("p") === 2L)
      .collect().map(_.getLong(0)).sorted.toSeq ===
      (1L to 40L).filter(_ % 4 == 2))
  }

  test("deleteWhere prunes range-shaped predicates: disjoint files carry by reference") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), t)
    Versioned.commit(Seq((100L, "c")).toDF("id", "s").coalesce(1), t)
    Versioned.commit(Seq((200L, "d")).toDF("id", "s").coalesce(1), t)
    val before = Versioned.snapshot(t)
    // point delete: only the intersecting file rewrites
    Versioned.deleteWhere(spark, t, col("id") === 100L)
    val after = Versioned.snapshot(t)
    val carried = after.files.toSet.intersect(before.files.toSet)
    assert(carried.size === 2, s"disjoint files must carry: $carried")
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 2L, 200L))
    // the CDF still lists exactly the deleted rows
    val v = after.version
    val ch = Versioned.readChanges(spark, t, v - 1, v)
      .where(col("_change_type") === "delete").collect()
    assert(ch.map(_.getLong(0)).toSeq === Seq(100L))
    // range + conjunction shapes prune; disjunction widens soundly
    val b2 = Versioned.snapshot(t)
    Versioned.deleteWhere(spark, t,
      col("id") >= 150L && col("id") <= 250L) // only the 200-file
    val a2 = Versioned.snapshot(t)
    assert(a2.files.toSet.intersect(b2.files.toSet).size >= 1)
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).sorted
      .toSeq === Seq(1L, 2L))
    // unanalyzable predicate: correct results, no pruning claims
    Versioned.deleteWhere(spark, t, col("id") % 2 === 0L)
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    // string-key point delete prunes via the ASCII string stats
    val ts = tmpTable()
    Versioned.commit(Seq(("aaa", 1L)).toDF("k", "v").coalesce(1), ts)
    Versioned.commit(Seq(("mmm", 2L)).toDF("k", "v").coalesce(1), ts)
    val bs = Versioned.snapshot(ts)
    Versioned.deleteWhere(spark, ts, col("k") === "mmm")
    val as2 = Versioned.snapshot(ts)
    assert(as2.files.toSet.intersect(bs.files.toSet).size === 1)
    assert(Versioned.read(spark, ts).collect().map(_.getString(0)).toSeq
      === Seq("aaa"))
  }

  test("all-null column records NullStat; absent column never skips") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, None: Option[Long]), (2L, None))
      .toDF("id", "x").coalesce(1), t)
    val snap = Versioned.snapshot(t)
    assert(snap.stats(snap.files.head)("x") === Versioned.NullStat)
    // NullStat prunes for any non-null bound
    assert(Versioned.pruneFiles(snap, "x", 0L, 100L).isEmpty)
    // absent column (never recorded) keeps the file
    assert(Versioned.pruneFiles(snap, "nosuchcol", 0L, 1L) === snap.files)
  }

  test("merge clause CHAINS: first-match-wins, UPDATE SET, partial insert") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L, "a"), (2L, 50L, "b"), (3L, 30L, "c"),
      (4L, 40L, "d")).toDF("id", "v", "note"), t)
    // the CDC composite in ONE merge: tombstone-delete if the source
    // row says so, else upsert-if-newer with a partial SET; unmatched
    // rows route through a 2-clause insert chain
    val src = Seq(
      (1L, 99L, "tomb"),  // matched, delete clause fires
      (2L, 99L, "x"),     // matched, update clause (99 > 50): SET v, note
      (3L, 5L, "y"),      // matched, NO clause fires (5 < 30): unchanged
      (4L, 100L, "tomb"), // matched, BOTH could fire: FIRST (delete) wins
      (5L, 70L, "tomb"),  // unmatched, insert clause 0 (partial columns)
      (6L, 60L, "z")      // unmatched, insert clause 1 (whole row)
    ).toDF("id", "v", "note")
    val v2 = Versioned.mergeClauses(src, t, Seq("id"),
      matched = Seq(
        Versioned.WhenMatched.Delete(Some(col("source.note") === "tomb")),
        Versioned.WhenMatched.Update(
          Some(col("source.v") > col("target.v")),
          set = Map(
            "v" -> col("source.v"),
            "note" -> concat(col("target.note"), lit("!"))))),
      notMatched = Seq(
        Versioned.WhenNotMatched.Insert(Some(col("note") === "tomb"),
          set = Map("id" -> col("id"), "v" -> lit(-1L))),
        Versioned.WhenNotMatched.Insert(None)))
    val rows = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("<null>"))).sorted.toSeq
    assert(rows === Seq(
      (2L, 99L, "b!"),      // SET replaced v, rewrote note from TARGET's
      (3L, 30L, "c"),       // no clause fired: untouched
      (5L, -1L, "<null>"),  // partial insert: unset column is NULL
      (6L, 60L, "z")))      // unconditional whole-row insert
    // CDF through the chain: one delete per fired delete-clause row,
    // pre/post images for the SET update, inserts for both chains
    val ch = Versioned.readChanges(spark, t, v2 - 1, v2)
      .select("_change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(ch === Seq(
      ("delete", 1L, 10L), ("delete", 4L, 40L),
      ("insert", 5L, -1L), ("insert", 6L, 60L),
      ("update_postimage", 2L, 99L), ("update_preimage", 2L, 50L)))
    // chain validation: a non-last unconditional clause is dead code —
    // loud error, Delta's rule
    val bad = intercept[IllegalArgumentException] {
      Versioned.mergeClauses(src.limit(1), t, Seq("id"),
        matched = Seq(Versioned.WhenMatched.Update(None),
          Versioned.WhenMatched.Delete(None)),
        notMatched = Nil)
    }
    assert(bad.getMessage.contains("unconditional"))
  }

  test("whenNotMatchedBySource: delete/update target rows the source misses") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 6L).map(i => (i, i * 10L, "live"))
      .toDF("id", "v", "status").coalesce(1), t)
    // the sync-to-snapshot CDC shape: source = the current upstream
    // truth; matched rows update, unmatched source rows insert, and
    // target rows the source no longer carries are tombstoned (stale
    // ones) or marked (recent ones) — Delta's third clause family
    val src = Seq((2L, 200L, "live"), (7L, 70L, "live"))
      .toDF("id", "v", "status")
    val v2 = Versioned.mergeClauses(src, t, Seq("id"),
      matched = Seq(Versioned.WhenMatched.Update(None)),
      notMatched = Seq(Versioned.WhenNotMatched.Insert(None)),
      notMatchedBySource = Seq(
        Versioned.WhenMatched.Delete(Some(col("v") < 30L)),
        Versioned.WhenMatched.Update(None,
          set = Map("status" -> lit("orphaned")))))
    val rows = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(rows === Seq(
      (2L, 200L, "live"),    // matched: updated
      (3L, 30L, "orphaned"), // unmatched-by-source, v >= 30: marked
      (4L, 40L, "orphaned"), (5L, 50L, "orphaned"), (6L, 60L, "orphaned"),
      (7L, 70L, "live")))    // inserted; ids 1 (v=10) deleted
    // CDF carries the NMBS images too
    val ch = Versioned.readChanges(spark, t, v2 - 1, v2)
      .groupBy(col("_change_type")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(ch === Seq(("delete", 1L), ("insert", 1L),
      ("update_postimage", 5L), ("update_preimage", 5L)))
    // an EMPTY source still applies NMBS to every target row
    val emptySrc = src.limit(0)
    Versioned.mergeClauses(emptySrc, t, Seq("id"),
      matched = Nil, notMatched = Nil,
      notMatchedBySource = Seq(
        Versioned.WhenMatched.Update(None, Map("v" -> lit(0L)))))
    assert(Versioned.read(spark, t).agg(sum(col("v"))).head().getLong(0)
      === 0L)
    // NMBS update without SET is a loud error (no source row to copy)
    intercept[IllegalArgumentException] {
      Versioned.mergeClauses(src, t, Seq("id"), Nil, Nil,
        Seq(Versioned.WhenMatched.Update(None)))
    }
    // a typo'd NMBS SET column is a loud error, not a silent no-op
    // (round-12 self-review finding)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.mergeClauses(src, t, Seq("id"), Nil, Nil,
        Seq(Versioned.WhenMatched.Update(None,
          set = Map("statuss" -> lit("x")))))
    }
    assert(e2.getMessage.contains("SET column"))
    // vacuum refuses a retention that would reclaim every live file
    val e3 = intercept[IllegalArgumentException] {
      Versioned.vacuum(t, retainVersions = 0)
    }
    assert(e3.getMessage.contains("retain"))
  }

  test("merge schema evolution: source-only columns join the table as nullable") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .coalesce(1), t)
    Versioned.commit(Seq((100L, 1000L)).toDF("id", "v").coalesce(1), t)
    // evolution off: a wider source is a loud mismatch
    val wide = Seq((2L, 200L, "tagged"), (3L, 30L, "new"))
      .toDF("id", "v", "tag")
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(wide, t, "id")
    }
    assert(e.getMessage.contains("mergeSchema"))
    // evolution on: tag joins as nullable; untouched rows/files read
    // back null-filled; the [100] file is key-disjoint and carried
    val before = Versioned.snapshot(t)
    val v3 = Versioned.mergeClauses(wide, t, Seq("id"),
      matched = Seq(Versioned.WhenMatched.Update(None)),
      notMatched = Seq(Versioned.WhenNotMatched.Insert(None)),
      mergeSchema = true)
    val rows = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("<null>"))).sorted.toSeq
    assert(rows === Seq((1L, 10L, "<null>"), (2L, 200L, "tagged"),
      (3L, 30L, "new"), (100L, 1000L, "<null>")))
    assert(Versioned.snapshot(t).files.toSet
      .intersect(before.files.toSet).size === 1,
      "evolution must not force rewriting key-disjoint files")
    // time travel: the PRE-evolution version keeps its own schema
    assert(Versioned.read(spark, t, Some(2)).columns.toSeq
      === Seq("id", "v"))
    // CDF through the evolution carries the evolved schema
    val ch = Versioned.readChanges(spark, t, v3 - 1, v3)
    assert(ch.columns.contains("tag"))
    assert(ch.where(col("_change_type") === "insert")
      .select("tag").head().getString(0) === "new")
    // a source MISSING a table column stays a loud error even with
    // evolution on (it only widens)
    val narrow = Seq((5L, "x")).toDF("id", "tag")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.mergeClauses(narrow, t, Seq("id"),
        Seq(Versioned.WhenMatched.Update(None)),
        Seq(Versioned.WhenNotMatched.Insert(None)), Nil,
        mergeSchema = true)
    }
    assert(e2.getMessage.contains("missing table column"))
  }

  test("merge source evaluates ONCE: rand()-salted source stays consistent") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(spark.range(1, 101)
      .select(col("id"), lit(0L).as("v")), t)
    // a nondeterministic source: every re-evaluation would draw new vs
    val src = spark.range(1, 201)
      .select(col("id"), (rand() * 1e9).cast("long").as("v"))
    val v2 = Versioned.merge(src, t, "id")
    // internal consistency: the CDF images and the table state must
    // agree row-for-row — a torn multi-evaluation merge writes a
    // postimage drawn from a DIFFERENT rand() evaluation than the data
    val state = Versioned.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state.size === 200)
    val ch = Versioned.readChanges(spark, t, v2 - 1, v2).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[Long]("v")))
    val post = ch.collect { case ("update_postimage", id, v) => id -> v }
    val ins = ch.collect { case ("insert", id, v) => id -> v }
    assert(post.length === 100 && ins.length === 100)
    (post ++ ins).foreach { case (id, v) =>
      assert(state(id) === v, s"CDF image for id=$id tore from the state")
    }
  }

  test("insert-heavy merge scales output files with source volume") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 0L)).toDF("id", "v").coalesce(1), t)
    spark.conf.set("spark.graft.versioned.targetFileRows", "1000")
    try {
      Versioned.merge(
        spark.range(1, 10001).select(col("id"), col("id").as("v"))
          .repartition(8), t, "id")
      val snap = Versioned.snapshot(t)
      assert(snap.files.size >= 5,
        s"bulk insert must not serialize through one writer task " +
          s"(got ${snap.files.size} files)")
      assert(Versioned.read(spark, t).count() === 10000L)
      // small-files regression guard: a tiny follow-up merge into the
      // multi-file table still lands at touched-set granularity, not
      // shuffle-partition-many files
      val before = snap.files.size
      Versioned.merge(Seq((3L, -3L)).toDF("id", "v"), t, "id")
      val after = Versioned.snapshot(t)
      assert(after.files.size <= before + 1,
        s"point merge re-smallified: $before -> ${after.files.size}")
    } finally spark.conf.unset("spark.graft.versioned.targetFileRows")
  }

  test("updateWhere: COW row update with pruning, single evaluation, CDF images") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 10L).map(i => (i, i * 10, s"n$i"))
      .toDF("id", "v", "note").coalesce(1), t)
    Versioned.commit((100L to 110L).map(i => (i, i * 10, s"n$i"))
      .toDF("id", "v", "note").coalesce(1), t)
    val before = Versioned.snapshot(t)
    val v3 = Versioned.updateWhere(spark, t,
      col("id") >= 3L && col("id") <= 4L,
      Map("v" -> (col("v") + 1L), "note" -> concat(col("note"), lit("!"))))
    // values: only the matched rows changed, only the SET columns
    val rows = Versioned.read(spark, t).where(col("id") <= 5L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(rows === Seq((1L, 10L, "n1"), (2L, 20L, "n2"), (3L, 31L, "n3!"),
      (4L, 41L, "n4!"), (5L, 50L, "n5")))
    // COW: the [100, 110] file is provably disjoint and carried
    val after = Versioned.snapshot(t)
    assert(after.files.toSet.intersect(before.files.toSet).size === 1,
      "the disjoint file must survive the update untouched")
    // CDF pre/post images
    val ch = Versioned.readChanges(spark, t, v3 - 1, v3)
      .select("_change_type", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(ch === Seq(("update_postimage", 3L, 31L),
      ("update_postimage", 4L, 41L),
      ("update_preimage", 3L, 30L), ("update_preimage", 4L, 40L)))
    // SET column validation is loud
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, t, lit(true), Map("nope" -> lit(1L)))
    }
  }

  test("partition values with spaces and empty strings: safe to write, never falsely pruned") {
    import spark.implicits._
    val t = tmpTable()
    // "a b" used to fail the file-name whitelist AFTER writing data
    // files; '' lands in the ambiguous __HIVE_DEFAULT_PARTITION__ dir
    // whose point stat used to falsely prove all-null
    Versioned.commit(Seq((1L, "a b"), (2L, ""), (3L, "x"), (4L, "a b"))
      .toDF("id", "p").coalesce(1), t, partitionBy = Seq("p"))
    def idsWhere(c: org.apache.spark.sql.Column) =
      spark.read.format("graftv").load(t).where(c)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsWhere(col("p") === "a b") === Seq(1L, 4L))
    assert(idsWhere(col("p") === "") === Seq(2L),
      "empty-string partition value must not be pruned as all-null")
    assert(idsWhere(col("p") === "x") === Seq(3L))
    // a merge keyed on p with an '' source key UPDATES the row rather
    // than skipping the falsely-pruned file and inserting a duplicate
    Versioned.merge(Seq((20L, "")).toDF("id", "p"), t, Seq("p"))
    assert(spark.read.format("graftv").load(t)
      .where(col("p") === "").select("id").collect()
      .map(_.getLong(0)).toSeq === Seq(20L))
    assert(Versioned.read(spark, t).count() === 4L)
  }
}
