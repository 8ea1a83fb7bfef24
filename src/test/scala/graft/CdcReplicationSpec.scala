package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned
import graft.sources.Versioned.{WhenMatched, WhenNotMatched}

/** Round-13 #5: streaming CDC replication end-to-end — the v6
  * cdf-apply law as a RUNNING stream. `readChangeFeed` on table A →
  * `foreachBatch(Versioned.replicationSink(B, keys))`, driven through
  * every commit kind a live table sees: appends, a clause-chain merge
  * (update + insert + delete in one commit), `deleteWhere`,
  * `updateWhere`, and an OPTIMIZE (layout-only — must replicate as a
  * no-op, not a failure). The law under proof: B state-equals A at
  * EVERY drained version, not just at the end.
  */
class CdcReplicationSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def stateOf(df: DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.getString(2)).getOrElse("<null>"))).toSet

  test("B tracks A through append/merge/delete/update/optimize, " +
    "state-equal at every drained version") {
    import spark.implicits._
    val a = tempDir("graft-cdcrep-a-").toString
    val b = tempDir("graft-cdcrep-b-").toString
    val ckpt = tempDir("graft-cdcrep-ck-").toString

    // ---- drive A through the full commit-kind zoo
    def rows(xs: (Long, Long, String)*) = xs.toDF("id", "v", "note")
    Versioned.commit(rows((1L, 10L, "a"), (2L, 20L, "b")), a) // v1 append
    Versioned.commit(rows((3L, 30L, "c"), (4L, 40L, "d")), a) // v2 append
    Versioned.mergeClauses( // v3: delete id=1, update id=2, insert id=5
      rows((1L, 0L, "tomb"), (2L, 99L, "b2"), (5L, 50L, "e")), a,
      Seq("id"),
      matched = Seq(
        WhenMatched.Delete(Some(col("source.note") === "tomb")),
        WhenMatched.Update(None)),
      notMatched = Seq(WhenNotMatched.Insert(None)))
    Versioned.deleteWhere(spark, a, col("id") === 3L) // v4
    Versioned.updateWhere(spark, a, col("id") === 4L, // v5
      Map("v" -> (col("v") + 1L), "note" -> lit("d2")))
    Versioned.optimize(spark, a) // v6: layout-only, empty CDC batch
    Versioned.commit(rows((6L, 60L, "f")), a) // v7 append
    assert(Versioned.versions(a).max === 7)

    // ---- replicate: one source version per trigger, equality
    //      asserted INSIDE the drain at each version
    val perVersion =
      scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
    val q = spark.readStream.format("graftv")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(a)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        Versioned.replicationSink(b, Seq("id"))(mb, batchId)
        val drained = mb.agg(max(col("_commit_version"))).head()
        if (!drained.isNullAt(0)) { // empty batch: optimize/metadata
          val v = drained.getInt(0)
          val eq = stateOf(Versioned.read(spark, b)) ==
            stateOf(Versioned.read(spark, a, Some(v)))
          perVersion.synchronized { perVersion += ((v, eq)); () }
        }
        ()
      }.start()
    q.processAllAvailable()
    q.stop()

    // every row-bearing version drained, each state-equal at drain
    // time (v6 optimize is layout-only: no rows, no entry — its
    // equality is v5's, unchanged)
    assert(perVersion.map(_._1).toSet === Set(1, 2, 3, 4, 5, 7))
    assert(perVersion.forall(_._2),
      s"state diverged at versions ${perVersion.filterNot(_._2).map(_._1)}")

    // final state, spelled out
    assert(stateOf(Versioned.read(spark, b)) === Set(
      (2L, 99L, "b2"), (4L, 41L, "d2"), (5L, 50L, "e"), (6L, 60L, "f")))

    // replay idempotence: re-applying the LAST version's changes (the
    // foreachBatch at-least-once window) must not change B's state
    val before = stateOf(Versioned.read(spark, b))
    Versioned.applyChanges(
      Versioned.readChanges(spark, a, 6, 7), b, Seq("id"))
    assert(stateOf(Versioned.read(spark, b)) === before)

    // ... and a replayed DELETE converges too (tombstone on a key the
    // replica already dropped: no match, and the not-tombstone gate
    // blocks the insert chain)
    Versioned.applyChanges(
      Versioned.readChanges(spark, a, 3, 4), b, Seq("id"))
    assert(stateOf(Versioned.read(spark, b)) === before)

    // ---- round 14 (VERDICT r13 #2): a multi-version RANGE applies
    // as its NET effect — one applyChanges call over (0, head]
    // births a fresh replica straight at A's head state, paying at
    // most two merges, not 2N. The range mixes inserts, a clause-
    // chain merge (update+insert+delete), deleteWhere, updateWhere,
    // and an optimize — every commit kind.
    val c = tempDir("graft-cdcrep-c-").toString
    Versioned.applyChanges(
      Versioned.readChanges(spark, a, 0, 7), c, Seq("id"))
    assert(stateOf(Versioned.read(spark, c)) ===
      stateOf(Versioned.read(spark, a)))
    // keys born AND killed inside the range (id=1 inserted v1,
    // deleted v3; id=3 inserted v2, deleted v4) never reach C
    assert(Versioned.read(spark, c).where(col("id").isin(1L, 3L))
      .isEmpty)
    // a range REPLAY over the already-converged replica is a no-op
    // state-wise
    Versioned.applyChanges(
      Versioned.readChanges(spark, a, 2, 7), c, Seq("id"))
    assert(stateOf(Versioned.read(spark, c)) ===
      stateOf(Versioned.read(spark, a)))
    // split ranges converge to the same state as the single drain:
    // (0,3] then (3,7] — an update whose key's last event is in the
    // second half lands with the second apply
    val d = tempDir("graft-cdcrep-d-").toString
    Versioned.applyChanges(
      Versioned.readChanges(spark, a, 0, 3), d, Seq("id"))
    assert(stateOf(Versioned.read(spark, d)) ===
      stateOf(Versioned.read(spark, a, Some(3))))
    Versioned.applyChanges(
      Versioned.readChanges(spark, a, 3, 7), d, Seq("id"))
    assert(stateOf(Versioned.read(spark, d)) ===
      stateOf(Versioned.read(spark, a)))
  }

  test("Trigger.AvailableNow drains exactly the prepare-time backlog " +
    "and stops; mid-drain commits wait for the next scheduled run") {
    import spark.implicits._
    val a = tempDir("graft-cdcan-a-").toString
    val b = tempDir("graft-cdcan-b-").toString
    val ckpt = tempDir("graft-cdcan-ck-").toString
    def rows(xs: (Long, Long, String)*) = xs.toDF("id", "v", "note")
    (1 to 4).foreach(i =>
      Versioned.commit(rows((i.toLong, i * 10L, s"r$i")), a))

    // scheduled-replication run #1: drains v1..v4 in 1-version
    // batches and SELF-TERMINATES; a commit landing mid-drain (v5,
    // planted from inside the first batch) is outside the prepare-
    // time bound and must NOT be drained by this run
    @volatile var planted = false
    def run(): Unit = {
      val q = spark.readStream.format("graftv")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1")
        .load(a)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (mb: DataFrame, batchId: Long) =>
          if (!planted) {
            planted = true
            Versioned.commit(rows((5L, 50L, "mid-drain")), a); ()
          }
          Versioned.replicationSink(b, Seq("id"))(mb, batchId)
        }.start()
      assert(q.awaitTermination(120000), "AvailableNow did not stop")
    }
    run()
    assert(stateOf(Versioned.read(spark, b)) ===
      stateOf(Versioned.read(spark, a, Some(4))))
    assert(Versioned.versions(a).max === 5) // the plant landed on A

    // run #2 (the next cron tick): resumes from the checkpoint and
    // drains exactly the v5 backlog
    run()
    assert(stateOf(Versioned.read(spark, b)) ===
      stateOf(Versioned.read(spark, a)))
  }

  test("a replica is BORN from the first batch when the target does " +
    "not exist yet") {
    import spark.implicits._
    val a = tempDir("graft-cdcrep2-a-").toString
    val b = tempDir("graft-cdcrep2-b-").toString
    Versioned.commit(Seq((1L, 1L, "x"), (2L, 2L, "y"))
      .toDF("id", "v", "note"), a)
    Versioned.applyChanges(Versioned.readChanges(spark, a, 0, 1), b,
      Seq("id"))
    assert(stateOf(Versioned.read(spark, b)) ===
      Set((1L, 1L, "x"), (2L, 2L, "y")))
  }

  test("multisetCounts matches null keys: a null-key group on both sides cancels") {
    import spark.implicits._
    val a = Seq[(Option[Long], Long)]((None, 5L), (None, 5L), (Some(1L), 2L),
      (Some(2L), 3L)).toDF("k", "v")
    val b = Seq[(Option[Long], Long)]((None, 5L), (None, 5L), (Some(1L), 2L),
      (Some(2L), 4L)).toDF("k", "v")
    def diff(x: DataFrame, y: DataFrame): Long =
      Versioned.multisetCounts(x, y, Seq("k", "v"))
        .agg(sum(abs(col("__ca") - col("__cb")))).head().getLong(0)
    assert(diff(a, a) === 0L)
    assert(diff(b, b) === 0L)
    // only (2,3) vs (2,4) differ — the null group (count 2 each) cancels
    assert(diff(a, b) === 2L)
    assert(diff(a, b) === a.exceptAll(b).count() + b.exceptAll(a).count())
    val nullGroup = Versioned.multisetCounts(a, b, Seq("k", "v"))
      .where(col("k").isNull).collect()
    assert(nullGroup.length === 1)
    assert(nullGroup.head.getLong(2) === 2L && nullGroup.head.getLong(3) === 2L)
    // multiplicities, not sets: one extra null row is a diff of one
    assert(diff(a.union(Seq[(Option[Long], Long)]((None, 5L)).toDF("k", "v")),
      a) === 1L)
  }
}
