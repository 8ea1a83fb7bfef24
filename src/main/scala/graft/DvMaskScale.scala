package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import graft.sources.Versioned
import Study.{obj, secs}

/** Proves the round-16 deletion-vector claim (VERDICT r15 #1): driver
  * memory and filter-closure size stay FLAT as DV'd rows grow — the
  * library scan ships only a file→sidecar PATH map (executors read
  * sidecars per-partition) and DML returns only the per-file rename
  * map, never the matched ordinals.
  *
  * On one table, three DV deletes of growing density (~1×/25×/625×
  * matched rows, all under the COW crossover), RESTOREd between so
  * rungs are independent. Per rung:
  *
  *  - `dvd_rows`: rows the delete masked (the growing quantity);
  *  - `closure_bytes`: java-serialized size of the dvPaths map the
  *    scan closure actually ships (O(files) strings — must be flat);
  *  - `closure_bytes_old_design`: serialized size of the full
  *    ordinal mask the pre-r16 closure shipped (O(DV'd rows) — grows,
  *    the contrast line);
  *  - `driver_rows_returned`: entries the DML collect()s back (the
  *    rename map = #DV'd files; pre-r16 it was every matched row);
  *  - `sidecar_bytes` (on-disk, grows ∝ rows — that is the DESIGN),
  *    `delete_sec`, `masked_scan_sec`, and the post-delete driver
  *    heap delta after a GC (indicative only).
  *
  * Usage: runMain graft.Study DvMaskScale <out.json> <scaledSfDir>
  * <tableDir> <label>
  */
object DvMaskScale {

  private def serBytes(o: AnyRef): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    try { oos.writeObject(o); oos.flush() } finally oos.close()
    bos.size().toLong
  }

  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(srcDir, tableDir, label) = args.take(3)
    def heapUsed(): Long = {
      System.gc(); Thread.sleep(200)
      val rt = Runtime.getRuntime
      rt.totalMemory() - rt.freeMemory()
    }

    val docs = Tables(spark, srcDir, "documents")
    val nDocs = docs.count()
    (0 until 8).foreach(i =>
      Versioned.commit(docs.where(pmod(col("doc_id"), lit(8)) === i),
        tableDir, "append"))
    Versioned.optimize(spark, tableDir, numFiles = 32,
      clusterBy = Seq("doc_id"))
    val base = Versioned.snapshot(tableDir)
    System.err.println(s"[dv-mask] $label: $nDocs docs, " +
      s"${base.files.size} files")

    val root = tableDir.stripSuffix("/") // plain local path already
    // growing matched-row density, every rung under the 0.5 crossover
    val rungs = Seq(
      ("1x", pmod(col("doc_id"), lit(3000)) === 17),
      ("25x", pmod(col("doc_id"), lit(120)) === 17),
      ("625x", pmod(col("doc_id"), lit(5)) === 3))
    val lines = Study.withConf(spark, "spark.graft.dv.enabled" -> "true") {
      rungs.map { case (rung, pred) =>
        val preV = Versioned.snapshot(tableDir).version
        val nMatch = Versioned.read(spark, tableDir).where(pred).count()
        val h0 = heapUsed()
        val delSec = secs(Versioned.deleteWhere(spark, tableDir, pred))
        val h1 = heapUsed()
        val snap = Versioned.snapshot(tableDir)
        val dvPaths = snap.dvs.map { case (dataRel, dvRel) =>
          s"$root/$dataRel" -> s"$root/$dvRel"
        }
        // what the r16 closure ships vs what the pre-r16 one shipped
        val closureNew = serBytes(dvPaths)
        val oldMask: Map[String, Array[Long]] =
          snap.dvs.map { case (dataRel, dvRel) =>
            s"$root/$dataRel" -> graft.sources.DeletionVectors.read(
              java.nio.file.Paths.get(root, dvRel))
          }
        val closureOld = serBytes(oldMask)
        val sidecarBytes = snap.dvs.values.map(d =>
          java.nio.file.Files.size(java.nio.file.Paths.get(root, d))).sum
        val maskedScan = secs {
          Versioned.read(spark, tableDir)
            .agg(count(lit(1)), sum(col("n_chars"))).collect(); ()
        }
        val after = Versioned.read(spark, tableDir).count()
        require(after == nDocs - nMatch,
          s"rung $rung wrong count: $after vs ${nDocs - nMatch}")
        Versioned.restore(tableDir, preV)
        System.err.println(s"[dv-mask] $rung: rows=$nMatch " +
          s"closure=$closureNew old=$closureOld files=${snap.dvs.size}")
        obj("rung" -> rung, "dvd_rows" -> nMatch,
          "dvd_files" -> snap.dvs.size,
          "closure_bytes" -> closureNew,
          "closure_bytes_old_design" -> closureOld,
          "driver_rows_returned" -> snap.dvs.size,
          "sidecar_bytes" -> sidecarBytes,
          "delete_sec" -> delSec,
          "masked_scan_sec" -> maskedScan,
          "heap_delta_mb" -> (h1 - h0) / 1048576.0)
      }
    }
    Study.Json(obj("label" -> label, "n_docs" -> nDocs,
      "files" -> base.files.size, "rungs" -> lines))
  }
}
