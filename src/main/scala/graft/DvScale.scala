package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import graft.sources.Versioned
import Study.{obj, secs, withConf}

/** Measures the DELETION-VECTOR point-DML claim at scale (round 15,
  * VERDICT r14 #1): a scattered small delete on a large table should
  * pay ∝ deleted ROWS (sidecars + CDF + manifest) under DVs, vs
  * ∝ touched-file BYTES under copy-on-write. The same table, the same
  * predicate, both paths (COW first, RESTORE, then DV), measuring:
  *
  *  - wall time of the delete;
  *  - bytes the commit added to the table directory (rewritten data
  *    files for COW; sidecars for DV — CDF parquet is common to both
  *    and reported separately);
  *  - the post-delete full-scan time (the DV read-path tax: masked
  *    files drop to the row-based reader until OPTIMIZE purges);
  *  - OPTIMIZE purge time and the scan after it (the recovery).
  *
  * Also measures the crossover leg: a 60%-of-table delete under DV
  * mode must take the per-file COW branch (sidecar count 0), pinning
  * that the fraction triage routes big deletes away from masks.
  *
  * Usage: runMain graft.Study DvScale <out.json> <scaledSfDir>
  * <tableDir> <label>
  */
object DvScale {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(srcDir, tableDir, label) = args.take(3)
    def dirBytes(rels: Seq[String]): Long =
      rels.map(f => java.nio.file.Files.size(
        java.nio.file.Paths.get(tableDir, f))).sum
    def addedByLast(prevFiles: Set[String], prevDvs: Set[String])
        : (Long, Long, Int) = {
      val snap = Versioned.snapshot(tableDir)
      val newData = snap.files.filterNot(prevFiles)
      val newDvs = snap.dvs.values.toSeq.filterNot(prevDvs)
      (dirBytes(newData), dirBytes(newDvs), newDvs.size)
    }
    def fullScan(): Double = secs {
      Versioned.read(spark, tableDir)
        .agg(count(lit(1)), sum(col("n_chars")), sum(length(col("text"))))
        .collect(); ()
    }
    def withDv[A](on: Boolean)(f: => A): A =
      withConf(spark, "spark.graft.dv.enabled" -> on.toString)(f)

    // ---------------------------------------------------- the table
    val docs = Tables(spark, srcDir, "documents")
    val nDocs = docs.count()
    val tIngest = secs {
      (0 until 8).foreach(i =>
        Versioned.commit(docs.where(pmod(col("doc_id"), lit(8)) === i),
          tableDir, "append"))
      Versioned.optimize(spark, tableDir, numFiles = 32,
        clusterBy = Seq("doc_id"))
    }
    val snap0 = Versioned.snapshot(tableDir)
    val tableBytes = dirBytes(snap0.files)
    // a scattered point predicate: ~nDocs/3000 rows spread over the
    // doc_id-clustered layout, so EVERY file is touched
    val pointPred = pmod(col("doc_id"), lit(3000)) === 17
    val nPoint = docs.where(pointPred).count()
    val head = obj("label" -> label, "n_docs" -> nDocs,
      "table_bytes" -> tableBytes, "ingest_sec" -> tIngest,
      "point_rows" -> nPoint)
    Study.step("dv-scale", head)

    // -------------------------------------------- leg 1: COW delete
    val preV = snap0.version
    val cowSec = withDv(false) {
      secs(Versioned.deleteWhere(spark, tableDir, pointPred))
    }
    val (cowDataBytes, _, _) =
      addedByLast(snap0.files.toSet, Set.empty)
    val cowScan = fullScan()
    Versioned.restore(tableDir, preV)

    // --------------------------------------------- leg 2: DV delete
    val snap1 = Versioned.snapshot(tableDir)
    val dvSec = withDv(true) {
      secs(Versioned.deleteWhere(spark, tableDir, pointPred))
    }
    val (dvDataBytes, dvSidecarBytes, nSidecars) =
      addedByLast(snap1.files.toSet, Set.empty)
    val maskedScan = fullScan()
    val nAfter = Versioned.read(spark, tableDir).count()
    require(nAfter == nDocs - nPoint, s"dv delete wrong: $nAfter")
    // DV UPDATE on a disjoint scattered slice
    val updPred = pmod(col("doc_id"), lit(3000)) === 23
    val dvUpdSec = withDv(true) {
      secs { Versioned.updateWhere(spark, tableDir, updPred,
        Map("n_chars" -> (col("n_chars") + lit(1L)))) }
    }
    // ------------------------------------------------- purge + scan
    val purgeSec = secs {
      Versioned.optimize(spark, tableDir, numFiles = 32,
        clusterBy = Seq("doc_id")); ()
    }
    require(Versioned.snapshot(tableDir).dvs.isEmpty, "purge failed")
    val cleanScan = fullScan()

    // ------------------------------------- leg 3: crossover (60 %)
    val bigPred = pmod(col("doc_id"), lit(10)) < 6
    val snap2 = Versioned.snapshot(tableDir)
    val bigSec = withDv(true) {
      secs(Versioned.deleteWhere(spark, tableDir, bigPred))
    }
    val bigSidecars = Versioned.snapshot(tableDir).dvs.size
    val (bigDataBytes, _, _) = addedByLast(snap2.files.toSet, Set.empty)

    Study.Json(head ~ obj(
      "cow" -> obj("delete_sec" -> cowSec,
        "data_bytes_written" -> cowDataBytes, "scan_after_sec" -> cowScan),
      "dv" -> obj("delete_sec" -> dvSec,
        "data_bytes_written" -> dvDataBytes,
        "sidecar_bytes" -> dvSidecarBytes, "sidecars" -> nSidecars,
        "masked_scan_sec" -> maskedScan, "update_sec" -> dvUpdSec,
        "optimize_purge_sec" -> purgeSec,
        "scan_after_purge_sec" -> cleanScan),
      "crossover_60pct" -> obj("delete_sec" -> bigSec,
        "sidecars" -> bigSidecars, "data_bytes_written" -> bigDataBytes)))
  }
}
