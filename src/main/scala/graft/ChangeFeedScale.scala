package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import Study.{obj, scratch}

/** Drives a scaled versioned-table ingest THROUGH the streaming
  * change-feed source into the d14 incremental dedup (VERDICT r10
  * task 8: `readChangeFeed` + `maxVersionsPerTrigger` had only
  * toy-sized spec coverage; VersionedScale covers batch reads only).
  *
  * Protocol, on a `MakeScale`-expanded documents corpus:
  *  - the BATCH slice (doc_id % 10 == 0, the d14 framing) lands in a
  *    graftv table as `appends` staged appends, then ONE COW MERGE
  *    rewrites a subset of the already-landed docs (text suffixed) —
  *    the upsert a real corpus tail sees;
  *  - `readStream.format("graftv").option("readChangeFeed", true)
  *    .option("maxVersionsPerTrigger", 1)` tails the table with NO
  *    skipChangeCommits: the merge arrives as row-level
  *    update_postimage changes, not a failure and not a silent skip;
  *  - each micro-batch keeps insert/update_postimage rows, signs
  *    ONLY ITSELF (MinHash), probes the static history signature
  *    table (d14's incremental kernel), and upserts verdicts into a
  *    result map — per-trigger wall-clock and row counts recorded;
  *  - DRAINED EQUALITY: the incremental verdicts (latest per doc)
  *    must equal the one-shot batch probe of the FINAL table state
  *    against the same history.
  *
  * Usage: runMain graft.Study ChangeFeedScale <out.json> <sfDir>
  * [copies=25] (bench/changefeed_scale.json).
  */
object ChangeFeedScale {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val src = args(0)
    val copies = args.lift(1).map(_.toInt).getOrElse(25)
    val appends = 8
    val scaled = scratch("cfs-data")
    MakeScale.scale(spark, src, scaled, copies)

    val docs = Tables(spark, scaled, "documents")
      .select(col("doc_id"), col("text")).persist()
    val nDocs = docs.count()
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val batchDocs = docs.where(isBatch).persist()
    val nBatch = batchDocs.count()
    val history = graft.operators.MinHash.signatures(
      docs.where(!isBatch), "doc_id", "text",
      k = graft.queries.DedupOps.K, bands = 2, shingleN = 3,
      materialize = true)
    history.count() // settle the static side before timing anything

    // ---- stage the ingest: `appends` appends + one COW merge
    val table = scratch("cfs-table")
    (0 until appends).foreach { i =>
      graft.sources.Versioned.commit(
        batchDocs.where(pmod(col("doc_id") / 10, lit(appends)) === i),
        table, "append")
    }
    // the merge rewrites ~1/5 of the landed docs with changed text —
    // the re-probe must see the POST-image through the feed
    graft.sources.Versioned.merge(
      batchDocs.where(pmod(col("doc_id") / 10, lit(5)) === 2)
        .withColumn("text", concat(col("text"), lit(" merged tail"))),
      table, "doc_id")
    val nVersions = graft.sources.Versioned.versions(table).max

    // ---- tail it through the DSv2 change-feed stream
    val ckpt = scratch("cfs-ckpt")
    val sink = new java.util.concurrent.ConcurrentHashMap[
      Long, (Long, Double, Boolean)]() // doc_id -> (match_id, est, dup)
    val triggers =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val stream = spark.readStream.format("graftv")
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1")
      .load(table)
    val query = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        val fresh = mb.where(col("_change_type")
          .isin("insert", "update_postimage"))
          .select(col("doc_id"), col("text"))
        val sigs = graft.operators.MinHash.signatures(
          fresh, "doc_id", "text", k = graft.queries.DedupOps.K,
          bands = 2, shingleN = 3, materialize = false)
        val verdicts = graft.queries.DedupOps
          .incrementalProbeOf(sigs, history).collect()
        verdicts.foreach { r =>
          sink.put(r.getLong(0),
            (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        }
        val sec = (System.nanoTime() - t0) / 1e9
        triggers.synchronized {
          triggers += ((batchId, verdicts.length.toLong, sec))
        }
        println(f"[changefeed-scale] trigger $batchId: " +
          f"${verdicts.length} verdicts in $sec%.2fs")
        ()
      }.start()
    query.processAllAvailable()
    query.stop()

    // ---- drained equality vs the one-shot batch path on FINAL state
    val finalState = graft.sources.Versioned.read(spark, table)
      .select(col("doc_id"), col("text"))
    val batchSigs = graft.operators.MinHash.signatures(
      finalState, "doc_id", "text", k = graft.queries.DedupOps.K,
      bands = 2, shingleN = 3, materialize = false)
    val oneShot = graft.queries.DedupOps
      .incrementalProbeOf(batchSigs, history).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    import scala.jdk.CollectionConverters._
    val streamed = sink.asScala.toMap
    val equal = streamed == oneShot
    require(streamed.size == oneShot.size,
      s"coverage: streamed ${streamed.size} vs batch ${oneShot.size}")

    println(s"[changefeed-scale] drained_equals_batch=$equal")
    require(equal, "drained-equality FAILED")
    Study.Json(obj("corpus" -> s"${copies}x", "n_docs" -> nDocs,
      "n_batch_docs" -> nBatch, "n_versions" -> nVersions,
      "appends" -> appends, "merges" -> 1, "max_versions_per_trigger" -> 1,
      "drained_equals_batch" -> equal,
      "total_probe_sec" -> triggers.map(_._3).sum,
      "per_trigger" -> triggers.sortBy(_._1).map { case (b, n, s) =>
        obj("trigger" -> b, "rows" -> n, "sec" -> s)
      }))
  }
}
