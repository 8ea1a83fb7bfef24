package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JObject
import org.json4s.JsonDSL._

import graft.sources.Versioned
import Study.{obj, timed}

/** Measures the round-16 bloom-sidecar claim: on a uuid-keyed table —
  * where every file's [min,max] spans the whole key space, so the
  * range tier prunes NOTHING — point DML touches O(matching files)
  * instead of O(all files).
  *
  * Builds one table of `files` single-file commits keyed by a
  * uuid-like string, then per arm (bloom OFF → ON):
  *
  *  - `point_delete`: DELETE of 1 existing key — files rewritten
  *    (COW) or masked (DV), wall time;
  *  - `point_merge`: MERGE of 16 existing keys — files rewritten
  *    vs carried;
  *  - `miss_delete`: DELETE of a key that does NOT exist — the
  *    all-skip case (bloom: zero files touch);
  *  - sidecar build cost (in the commit, amortized) and on-disk
  *    bytes, reported once.
  *
  * Usage: runMain graft.Study BloomScale <out.json> <scaledSfDir>
  * <tableRootDir> <label> [files=16]
  */
object BloomScale {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(srcDir, rootDir, label) = args.take(3)
    val nFiles = args.lift(3).map(_.toInt).getOrElse(16)

    // uuid-like keys derived from doc ids: every commit's key range
    // spans the whole space — the adversarial regime for min/max
    val docs = Tables(spark, srcDir, "documents")
      .select(md5(concat(lit("k"), col("doc_id"))).as("k"),
        col("doc_id"), col("n_chars"), col("text"))
      .localCheckpoint()
    val nDocs = docs.count()
    def keyOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"k$id".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    }

    def arm(bloom: Boolean): JObject = {
      val t = s"$rootDir/tbl_${if (bloom) "on" else "off"}"
      var buildSec = 0.0
      (0 until nFiles).foreach { i =>
        val (_, s) = timed(Versioned.commit(
          docs.where(pmod(col("doc_id"), lit(nFiles)) === i)
            .repartition(1), t, "append"))
        buildSec += s
      }
      val sidecarBytes =
        if (!bloom) 0L
        else {
          val dir = java.nio.file.Paths.get(t, "_bloom")
          if (!java.nio.file.Files.isDirectory(dir)) 0L
          else {
            val s = java.nio.file.Files.list(dir)
            try s.mapToLong(java.nio.file.Files.size(_)).sum
            finally s.close()
          }
        }

      def filesTouched(body: => Unit): (Int, Double) = {
        val before = Versioned.snapshot(t).files.toSet
        val (_, sec) = timed(body)
        val after = Versioned.snapshot(t).files.toSet
        // COW: rewritten originals leave; DV: dvs map gains entries
        val cow = before.diff(after).size
        val dv = Versioned.snapshot(t).dvs.size
        (math.max(cow, dv), sec)
      }

      val (delTouched, delSec) = filesTouched(
        Versioned.deleteWhere(spark, t, col("k") === keyOf(7L)))
      val mergeKeys = (0 until 16).map(i => keyOf((i * 37 + 11).toLong))
      import spark.implicits._
      val src = mergeKeys.map(k => (k, "merged")).toDF("k", "text2")
        .join(docs.select(col("k"), col("doc_id"), col("n_chars"),
          col("text")), Seq("k"))
        .select(col("k"), col("doc_id"), col("n_chars"),
          lit("merged").as("text"))
      val (mrgTouched, mrgSec) = filesTouched(
        Versioned.merge(src, t, Seq("k")))
      // an in-range key that exists in NO file: the range tier keeps
      // every file (mid-keyspace), only membership can skip
      val missKey = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest("not-a-doc-key".getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
      }
      val (missTouched, missSec) = filesTouched(
        Versioned.deleteWhere(spark, t, col("k") === lit(missKey)))
      // the DSv2 read path (round 16): a point SELECT rides the
      // pushed-filter bloom tier — with the tier on, only the files
      // whose sidecars may hold the key are planned at all
      val (selRows, selSec) = timed(
        spark.read.format("graftv").load(t)
          .where(col("k") === lit(keyOf(13L))).count())

      System.err.println(s"[bloom-scale] $label bloom=$bloom: " +
        f"delete touched $delTouched/$nFiles files in $delSec%.2fs, " +
        f"merge $mrgTouched, miss $missTouched")
      obj("commit_sec_total" -> buildSec,
        "sidecar_bytes" -> sidecarBytes,
        "point_delete" -> obj("files_touched" -> delTouched, "sec" -> delSec),
        "point_merge_16keys" ->
          obj("files_touched" -> mrgTouched, "sec" -> mrgSec),
        "miss_delete" -> obj("files_touched" -> missTouched, "sec" -> missSec),
        "point_select_dsv2" -> obj("rows" -> selRows, "sec" -> selSec))
    }
    val off = arm(bloom = false)
    val on = Study.withConf(spark, "spark.graft.bloom.columns" -> "k")(
      arm(bloom = true))
    Study.Json(obj("label" -> label, "n_docs" -> nDocs, "files" -> nFiles,
      "bloom_off" -> off, "bloom_on" -> on))
  }
}
