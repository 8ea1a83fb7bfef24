package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import Study.{obj, scratch}

/** Streaming CDC replication A→B at scale (round 13, VERDICT r12 #5):
  * the v6 cdf-apply law as a RUNNING stream, measured on a
  * `MakeScale`-expanded documents corpus.
  *
  * Protocol:
  *  - table A is driven through the full commit-kind zoo a live
  *    corpus table sees: `appends` staged appends, one upsert MERGE
  *    rewriting ~1/5 of the landed docs, one `deleteWhere` dropping
  *    ~1/10, one `updateWhere` touching ~1/9, and an OPTIMIZE
  *    (layout-only);
  *  - `readStream.format("graftv").option("readChangeFeed", true)
  *    .option("maxVersionsPerTrigger", 1)` tails A from version 0 and
  *    `foreachBatch(Versioned.replicationSink(B, keys))` applies each
  *    commit to replica B as ONE COW merge;
  *  - DRAINED EQUALITY AT EVERY VERSION: after each trigger, B must
  *    state-equal A at the trigger's commit version (symmetric
  *    `exceptAll` counts, both zero) — not just at the end.
  *
  * Usage: runMain graft.Study CdcReplicationScale <out.json> <sfDir>
  * [copies=25] (bench/changefeed_replication.json): per-trigger
  * rows/seconds/equality.
  */
object CdcReplicationScale {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val src = args(0)
    val copies = args.lift(1).map(_.toInt).getOrElse(25)
    val appends = 6
    val scaled = scratch("cdcrs-data")
    MakeScale.scale(spark, src, scaled, copies)
    import graft.sources.Versioned

    val docs = Tables(spark, scaled, "documents")
      .select(col("doc_id"), col("text")).persist()
    val nDocs = docs.count()

    // ---- drive A
    val a = scratch("cdcrs-a")
    val b = scratch("cdcrs-b")
    (0 until appends).foreach { i =>
      Versioned.commit(
        docs.where(pmod(col("doc_id"), lit(appends)) === i), a, "append")
    }
    Versioned.merge(
      docs.where(pmod(col("doc_id"), lit(5)) === 2)
        .withColumn("text", concat(col("text"), lit(" replicated tail"))),
      a, "doc_id")
    Versioned.deleteWhere(spark, a, pmod(col("doc_id"), lit(10)) === 7)
    Versioned.updateWhere(spark, a, pmod(col("doc_id"), lit(9)) === 4,
      Map("text" -> upper(col("text"))))
    Versioned.optimize(spark, a, numFiles = 8)
    val nVersions = Versioned.versions(a).max

    // ---- replicate through a running stream; equality checked at
    //      every drain (at the trigger's MAX drained version — with
    //      mvpt > 1 the net-effect apply jumps straight there, the
    //      rate-limited convergence law)
    def replicate(mvpt: Int, replica: String)
        : Seq[(Long, Int, Long, Double, Boolean)] = {
      val ckpt = scratch("cdcrs-ckpt")
      val triggers = scala.collection.mutable
        .ArrayBuffer[(Long, Int, Long, Double, Boolean)]()
      val q = spark.readStream.format("graftv")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", mvpt.toString)
        .load(a)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (mb: DataFrame, batchId: Long) =>
          val t0 = System.nanoTime()
          val n = mb.count()
          Versioned.replicationSink(replica, Seq("doc_id"))(mb, batchId)
          val drained = mb.agg(max(col("_commit_version"))).head()
          val (ver, eq) =
            if (drained.isNullAt(0)) (-1, true) // layout-only commit
            else {
              val v = drained.getInt(0)
              val fa = Versioned.read(spark, a, Some(v))
              val fb = Versioned.read(spark, replica)
              (v, fb.exceptAll(fa).isEmpty && fa.exceptAll(fb).isEmpty)
            }
          val sec = (System.nanoTime() - t0) / 1e9
          triggers.synchronized {
            triggers += ((batchId, ver, n, sec, eq)); ()
          }
          println(f"[cdc-replication] mvpt=$mvpt trigger $batchId " +
            f"v$ver: $n rows in $sec%.2fs equal=$eq")
          ()
        }.start()
      q.processAllAvailable()
      q.stop()
      triggers.sortBy(_._1).toSeq
    }
    def trigJson(ts: Seq[(Long, Int, Long, Double, Boolean)]) =
      ts.map { case (bid, v, n, s, eq) =>
        obj("trigger" -> bid, "version" -> v, "rows" -> n, "sec" -> s,
          "state_equal" -> eq)
      }

    val triggers = replicate(1, b)
    // round 14 (VERDICT r13 #2): the SAME backlog drained 4 versions
    // per trigger onto a fresh replica — net-effect coalescing means
    // per-trigger cost tracks the trigger's net key footprint, not
    // the number of versions it drains
    val b4 = scratch("cdcrs-b4")
    val triggers4 = replicate(4, b4)

    val allEqual = triggers.forall(_._5) && triggers4.forall(_._5)
    println(s"[cdc-replication] equal_at_every_drained_version=$allEqual")
    require(allEqual, "drained-equality FAILED")
    Study.Json(obj("corpus" -> s"${copies}x", "n_docs" -> nDocs,
      "n_versions" -> nVersions, "appends" -> appends,
      "ops" -> Seq("append", "merge", "delete", "update", "optimize"),
      "equal_at_every_drained_version" -> allEqual,
      "total_apply_sec_mvpt1" -> triggers.map(_._4).sum,
      "total_apply_sec_mvpt4" -> triggers4.map(_._4).sum,
      "per_trigger_mvpt1" -> trigJson(triggers),
      "per_trigger_mvpt4" -> trigJson(triggers4)))
  }
}
