package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{SpecPipeline, TextPipeline, Yaml}

/** The stage-count audit's one unchecked assumption: for every stage in
  * [[TextPipeline.rowPreserving]], `run` reports the predecessor's row
  * count without counting. Each such stage must therefore keep the
  * row count and the `doc_id` set, also on degenerate text. */
class TextPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  test("row-preserving stages keep the row count and the doc_id set, " +
    "also on null, empty and control-character text") {
    import spark.implicits._
    val fixture = Tables(spark, "/root/testdata/sf0.001", "documents")
    val odd = Seq[(Long, String)](
      (-1L, null), (-2L, ""), (-3L, "\u0000\u0001\u001f"),
      (-4L, "  \t\r\n  "), (-5L, "a\u0007b  C\u007f d@e.com 10.0.0.1"))
      .toDF("doc_id", "text")
    val docs = fixture.unionByName(odd, allowMissingColumns = true)
    val ids = docs.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids.size === 505)
    assert(TextPipeline.rowPreserving.nonEmpty)
    TextPipeline.rowPreserving.foreach { stage =>
      val step = SpecPipeline.Step(stage, Yaml.YMap(Vector.empty))
      val out = TextPipeline.applyStage(docs, step, 42L)
      assert(out.count() === ids.size.toLong, stage)
      assert(out.select("doc_id").as[Long].collect().sorted.toSeq === ids,
        stage)
      assert(out.columns.toSeq === docs.columns.toSeq, stage)
    }
  }
}
