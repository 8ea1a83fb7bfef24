package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._
import graft.Study
import graft.Study.{obj, scratch}
import graft.sources.Versioned._

/** Wall-clock profile of the versioned commit path: replays
  * v11_cdc_replicate's ops with per-step timers, 3 laps, one
  * {op, sec} row per step. Not part of the bench/driver surface.
  * Usage: runMain graft.Study ProfileV <out.json> <sfDir>
  */
object ProfileV {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val sfDir = args(0)
    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    // settle JIT
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val laps = (1 to 3).map { lap =>
      val steps = Seq.newBuilder[(String, Double)]
      def t[A](name: String)(f: => A): A = {
        val (r, sec) = Study.timed(f)
        println(f"[profv] lap $lap $name%-28s $sec%8.3f s")
        steps += name -> sec
        r
      }
      val a = scratch("profv")
      val b = scratch("profv")
      t("commit v1")(commit(docs.where(col("doc_id") % 4 === 0), a))
      t("commit v2")(commit(docs.where(col("doc_id") % 4 === 1), a))
      t("merge v3")(merge(docs.where(col("doc_id") % 6 === 0)
        .withColumn("n_chars", col("n_chars") + 1000000L), a, "doc_id"))
      t("deleteWhere v4")(deleteWhere(spark, a, col("doc_id") % 10 === 0))
      t("updateWhere v5")(updateWhere(spark, a, col("doc_id") % 9 === 1,
        Map("n_chars" -> -col("n_chars"))))
      t("optimize v6")(optimize(spark, a))
      (1 to versions(a).max).foreach { v =>
        t(s"readChanges+apply $v")(
          applyChanges(readChanges(spark, a, v - 1, v), b, Seq("doc_id")))
      }
      val fa = read(spark, a); val fb = read(spark, b)
      t("exceptAll diff")(
        fb.exceptAll(fa).count() + fa.exceptAll(fb).count())
      t("final agg")(fb.agg(count(lit(1)), sum(col("doc_id")),
        sum(col("n_chars"))).head())
      steps.result().map { case (op, sec) => obj("op" -> op, "sec" -> sec) }
    }
    Study.Json(obj("laps" -> laps))
  }
}
