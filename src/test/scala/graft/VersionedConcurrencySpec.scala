package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** CONCURRENT-writer linearizability fuzz (round 10): the 42-op model
  * fuzz (VersionedPropertySpec) is single-threaded; this one drives
  * several real threads of mixed append / merge / delete / restore
  * against ONE table, with merges retrying on the documented
  * optimistic-concurrency aborts. The log's total version order is
  * the serialization witness: every thread records which version its
  * op landed at, and the test replays the ops in LOG ORDER against a
  * single-threaded model — the final table state (and every
  * intermediate snapshot) must equal that serial execution, i.e. the
  * interleaving is equivalent to the serial order the log itself
  * claims (Versioned.scala's commit-loop race story: exactly one
  * link wins, the loser re-resolves; merge aborts on conflict).
  *
  * Separately: racing `commitIfAbsent` replays of the SAME (appId,
  * batchId) must land exactly once — the exactly-once ledger under
  * forced concurrent retries. */
class VersionedConcurrencySpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private type Rows = Vector[(Long, String)]

  private sealed trait Op
  private case class Append(rows: Rows) extends Op
  private case class Merge(rows: Rows) extends Op
  private case class Delete(m: Long, k: Long) extends Op
  private case class Restore(target: Int) extends Op

  test("threads of mixed append/merge/delete/restore serialize to the log order") {
    import spark.implicits._
    val t = tempDir("versioned-conc-").toString
    Versioned.commit(
      Seq((1L, "seed1"), (2L, "seed2"), (3L, "seed3")).toDF("id", "s"), t)

    val committed = new ConcurrentHashMap[Int, Op]()
    val nThreads = 3
    val opsPerThread = 8
    val threads = (0 until nThreads).map { tid =>
      new Thread(() => {
        val rnd = new scala.util.Random(9000L + tid)
        var i = 0
        while (i < opsPerThread) {
          // ids are thread-disjoint so ops are identifiable; the
          // MODEL still treats them uniformly
          def fresh(n: Int): Rows = (0 until n).map(j =>
            ((tid + 1) * 1000000L + i * 100L + j,
              s"t$tid-$i-$j")).toVector
          def retrying(body: => Int): Int = {
            var v = -1
            while (v < 0) {
              try v = body
              catch {
                case _: java.util.ConcurrentModificationException => ()
              }
            }
            v
          }
          val (v, op): (Int, Op) = rnd.nextInt(4) match {
            case 0 =>
              val rows = fresh(1 + rnd.nextInt(2))
              (Versioned.commit(rows.toDF("id", "s"), t), Append(rows))
            case 1 =>
              // update own prior rows if any, plus one insert — keys
              // unique by construction (fresh ids never repeat)
              val rows = fresh(1) ++
                Vector(((tid + 1) * 1000000L + rnd.nextInt(math.max(i, 1)) * 100L,
                  s"t$tid-upd$i"))
              val uniq = rows.distinctBy(_._1)
              (retrying(Versioned.merge(uniq.toDF("id", "s"), t, "id")),
                Merge(uniq))
            case 2 =>
              val m = 7L + rnd.nextInt(5); val k = rnd.nextInt(m.toInt).toLong
              (retrying(Versioned.deleteWhere(spark, t,
                col("id") % m === k)), Delete(m, k))
            case 3 =>
              val vs = Versioned.versions(t)
              val target = vs(rnd.nextInt(vs.length))
              (Versioned.restore(t, target), Restore(target))
          }
          val prev = committed.put(v, op)
          assert(prev == null, s"version $v claimed twice")
          i += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(600000))

    // every op landed at a distinct version; the log is contiguous
    val vs = Versioned.versions(t)
    assert(vs === (1 to (1 + nThreads * opsPerThread)))
    assert(committed.size === nThreads * opsPerThread)

    // serial replay in log order = the model the log claims
    var state: Rows = Vector((1L, "seed1"), (2L, "seed2"), (3L, "seed3"))
    var states = Map(1 -> state)
    (2 to vs.max).foreach { v =>
      committed.get(v) match {
        case Append(rows) => state = state ++ rows
        case Merge(rows) =>
          val keys = rows.map(_._1).toSet
          state = state.filterNot(r => keys(r._1)) ++ rows
        case Delete(m, k) => state = state.filterNot(r => r._1 % m == k)
        case Restore(target) => state = states(target)
        case null => fail(s"no op recorded for version $v")
      }
      states += v -> state
    }
    def readAt(v: Int): Rows = Versioned.read(spark, t, Some(v))
      .collect().map(r => (r.getLong(0), r.getString(1))).toVector
    // the final state AND every intermediate snapshot match the
    // serial execution in log order — linearizability with the log
    // as the serialization witness
    assert(readAt(vs.max).sorted === states(vs.max).sorted)
    val probes = vs.filter(v => v % 5 == 0) :+ vs.max
    probes.foreach { v =>
      assert(readAt(v).sorted === states(v).sorted,
        s"snapshot v$v diverged from the serial replay")
    }

    // racing writers' clocks may interleave, but the ADJUSTED stamps
    // timestampAsOf resolves against must be monotone in log order —
    // a later version never resolves to an earlier instant
    val stamps = Versioned.history(spark, t).collect()
      .map(r => (r.getInt(0), r.getLong(2))).sortBy(_._1).map(_._2)
    assert(stamps.toSeq === stamps.sorted.toSeq,
      "adjusted commit stamps must be monotone under concurrency")
    assert(Versioned.timestampToVersion(t, stamps.last) === vs.max)
  }

  test("conflict RESOLUTION: disjoint appends rebase under merge/optimize; overlap aborts") {
    import spark.implicits._
    // (a) a key-disjoint append landing inside merge's conflict window
    // REBASES: the merge succeeds (no abort) and the appended rows
    // survive into its snapshot
    val t1 = tempDir("versioned-resolve-").toString
    Versioned.commit((1L to 10L).map(i => (i, i * 10)).toDF("id", "v")
      .coalesce(1), t1) // v1
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((100L, 0L), (101L, 0L)).toDF("id", "v")
        .coalesce(1), t1) // interloper v2, keys disjoint from [3, 3]
      ()
    }
    val v = Versioned.merge(Seq((3L, 999L)).toDF("id", "v"), t1, "id")
    assert(v === 3, "merge must publish ON TOP of the interloper")
    val rows = Versioned.read(spark, t1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows.contains((3L, 999L)), "merge applied")
    assert(rows.contains((100L, 0L)) && rows.contains((101L, 0L)),
      "interloper append rows must survive the rebase")
    assert(rows.size === 12)

    // (b) an OVERLAPPING append (same key range) still aborts loudly
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((4L, -1L)).toDF("id", "v").coalesce(1), t1)
      ()
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      Versioned.merge(Seq((4L, 888L)).toDF("id", "v"), t1, "id")
    }
    assert(e.getMessage.contains("key-disjoint"))
    // the caller's documented recovery: retry the whole merge
    assert(Versioned.merge(Seq((4L, 888L)).toDF("id", "v"), t1, "id") > 0)
    assert(Versioned.read(spark, t1).where(col("id") === 4L)
      .head().getLong(1) === 888L)

    // (c) a non-append interloper (restore) always aborts a merge
    Versioned.beforePublish = () => {
      Versioned.restore(t1, 1); ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Versioned.merge(Seq((200L, 1L)).toDF("id", "v"), t1, "id")
    }

    // (d) OPTIMIZE rebases over ANY append (pure layout op): the
    // steady-append-starves-compaction regime is gone
    val t2 = tempDir("versioned-resolve-opt-").toString
    Versioned.commit((1L to 5L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), t2)
    Versioned.commit((6L to 9L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), t2)
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((50L, 50L)).toDF("id", "v").coalesce(1), t2)
      ()
    }
    val vo = Versioned.optimize(spark, t2, numFiles = 1)
    assert(vo === 4, "optimize must land on top of the interloper")
    val after = Versioned.read(spark, t2).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(after === ((1L to 9L) :+ 50L).sorted,
      "compacted rows AND the interloper's rows must both be live")
  }

  test("racing commitIfAbsent replays of one batch land exactly once") {
    import spark.implicits._
    val t = tempDir("versioned-conc-txn-").toString
    Versioned.commit(Seq((0L, "seed")).toDF("id", "s"), t)
    (1L to 3L).foreach { batch =>
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val racers = (0 until 4).map { _ =>
        new Thread(() => {
          // every racer writes its own data files first (the
          // at-least-once replay shape), then exactly one may publish
          val r = Versioned.commitIfAbsent(
            Seq((100L * batch, s"b$batch")).toDF("id", "s"),
            t, appId = "conc-app", batchId = batch)
          if (r.isDefined) wins.incrementAndGet()
          ()
        })
      }
      racers.foreach(_.start())
      racers.foreach(_.join(600000))
      assert(wins.get() === 1, s"batch $batch applied ${wins.get()} times")
      // a later sequential replay is also a no-op
      assert(Versioned.commitIfAbsent(
        Seq((100L * batch, s"b$batch")).toDF("id", "s"),
        t, "conc-app", batch).isEmpty)
    }
    val got = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((0L, "seed"), (100L, "b1"), (200L, "b2"),
      (300L, "b3")))
  }

  test("deleteWhere rebases over provably-disjoint appends; overlap or unanalyzable aborts") {
    import spark.implicits._
    // (a) an append whose stats prove no row can satisfy the delete
    // predicate REBASES (round 12 — r11 aborted on any interloper, so
    // a steady append stream starved deletes)
    val t = tempDir("versioned-delresolve-").toString
    Versioned.commit((1L to 10L).map(i => (i, i * 10)).toDF("id", "v")
      .coalesce(1), t) // v1
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((100L, 0L), (101L, 0L)).toDF("id", "v")
        .coalesce(1), t) // interloper, ids disjoint from [3, 3]
      ()
    }
    val v = Versioned.deleteWhere(spark, t, col("id") === 3L)
    assert(v === 3, "delete must publish ON TOP of the interloper")
    val ids = Versioned.read(spark, t).collect().map(_.getLong(0)).sorted
    assert(!ids.contains(3L) && ids.contains(100L) && ids.contains(101L),
      "delete applied AND the interloper's rows survive the rebase")
    assert(ids.length === 11)

    // (b) an append overlapping the predicate bounds still aborts
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((4L, -1L)).toDF("id", "v").coalesce(1), t)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Versioned.deleteWhere(spark, t, col("id") === 4L)
    }
    // retry (the documented recovery) deletes BOTH copies' key
    Versioned.deleteWhere(spark, t, col("id") === 4L)
    assert(!Versioned.read(spark, t).collect().map(_.getLong(0))
      .contains(4L))

    // (c) an unanalyzable predicate proves nothing — even a
    // key-disjoint append aborts (empty bounds cannot certify)
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((500L, 0L)).toDF("id", "v").coalesce(1), t)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Versioned.deleteWhere(spark, t, col("id") % 97L === 1L)
    }

    // (d) updateWhere rides the same resolution: disjoint append
    // rebases, overlap aborts
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((600L, 0L)).toDF("id", "v").coalesce(1), t)
      ()
    }
    val vu = Versioned.updateWhere(spark, t, col("id") === 6L,
      Map("v" -> lit(666L)))
    assert(vu > 0)
    val got = Versioned.read(spark, t)
      .where(col("id").isin(6L, 600L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got === Seq((6L, 666L), (600L, 0L)),
      "update applied AND the interloper's row survives the rebase")
    Versioned.beforePublish = () => {
      Versioned.commit(Seq((7L, -7L)).toDF("id", "v").coalesce(1), t)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Versioned.updateWhere(spark, t, col("id") === 7L,
        Map("v" -> lit(0L)))
    }
  }
}
