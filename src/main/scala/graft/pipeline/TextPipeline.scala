package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Splits
import graft.pipeline.Yaml._

/** M7: the end-to-end TEXT curation pipeline, driven by the same YAML
  * spec surface as the materials lifecycle (SpecPipeline / reference
  * §3.1 matdb.yml): ingest → normalize (t6) → PII redact (t8) →
  * exact dedup (d1) → simhash dedup (d3) → decontaminate (d8) →
  * stratified sample (o7) → reproducible split (o5).
  *
  * Each stage is one declarative DataFrame transform over the
  * previous stage's output (the reference's rset chaining,
  * database/__init__.py:521–537, applied to a corpus instead of
  * configs). The runner materializes per stage (eager localCheckpoint
  * — the same iterative-pipeline shape as ActiveLoop) and records
  * per-stage row counts; the result is the stage-count audit table
  * every curation run ships with.
  *
  * Scale shape: every stage is a single shuffle (hash-groupBy dedup,
  * broadcast decontamination, keyed-digest stratified rank, range-
  * partition split) — no stage collects rows to the driver.
  */
object TextPipeline {

  final case class CurationPlan(title: String, ranSeed: Long,
      trainFrac: Double, stages: Seq[SpecPipeline.Step])

  /** Default spec (the m7 query entry's input — a user would ship
    * this file; the YAML surface is the point). */
  val defaultYaml: String =
    """title: corpus curation
      |ran_seed: 42
      |splits:
      |  train: 0.8
      |curation:
      |  - type: normalize
      |  - type: redact
      |  - type: dedup_exact
      |  - type: dedup_simhash
      |  - type: decontaminate
      |    ngram: 8
      |  - type: stratified_sample
      |    by: lang
      |    frac: 0.5
      |""".stripMargin

  def parse(yaml: String): CurationPlan = {
    val root = Yaml.parse(yaml)
    val stages = root("curation") match {
      case YList(ss) => ss.map {
        case sm: YMap => SpecPipeline.Step(str(sm("type")), sm)
        case other => throw new IllegalArgumentException(s"bad stage $other")
      }
      case other => throw new IllegalArgumentException(s"bad curation $other")
    }
    val trainFrac = root.get("splits").collect { case m: YMap =>
      m.get("train").map(num).getOrElse(0.8)
    }.getOrElse(0.8)
    CurationPlan(
      title = root.get("title").map(str).getOrElse(""),
      ranSeed = root.get("ran_seed").map(num(_).toLong).getOrElse(42L),
      trainFrac = trainFrac,
      stages = stages)
  }

  /** Stages that rewrite `text` row by row and drop no row:
    * [[run]] carries the row count across them without counting.
    * TextPipelineSpec checks that each keeps the row count and the
    * `doc_id` set. */
  private[graft] val rowPreserving: Set[String] = Set("normalize", "redact")

  /** One curation stage: docs in → docs out (schema preserved). */
  def applyStage(docs: DataFrame, st: SpecPipeline.Step,
      ranSeed: Long): DataFrame = {
    val p = st.params
    st.stepType match {
      case "normalize" => // t6: lowercase, strip control chars, collapse runs
        docs.withColumn("text", trim(regexp_replace(regexp_replace(
          lower(col("text")), "[\\p{Cntrl}]", ""), " {2,}", " ")))
      case "redact" => // t8: scrub emails/IPs/phones before anything leaves
        docs.withColumn("text", graft.queries.TextOps.redact(col("text")))
      case "dedup_exact" => // d1: keeper = min doc_id per content hash
        val keep = docs
          .groupBy(md5(col("text")).as("__h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        docs.join(keep, Seq("doc_id"))
      case "dedup_simhash" => // d3: keeper = min doc_id per 64-bit simhash
        val keep = graft.queries.DedupOps.simhash64Of(docs)
          .groupBy(col("simhash"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        docs.join(keep, Seq("doc_id"))
      case "decontaminate" => // d8: drop docs sharing an n-gram with the bench slice
        val n = p.get("ngram").map(num(_).toInt).getOrElse(8)
        val isBench = pmod(col("doc_id"), lit(97)) === 0
        val grams = array_distinct(
          graft.operators.MinHash.shingleCol(col("text"), n))
        val benchGrams = docs.where(isBench)
          .select(explode(grams).as("gram")).distinct()
        val contaminated = docs.where(!isBench)
          .select(col("doc_id"), explode(grams).as("gram"))
          .join(broadcast(benchGrams), "gram")
          .select(col("doc_id")).distinct()
        docs.where(!isBench)
          .join(contaminated, Seq("doc_id"), "left_anti")
      case "quality_filter" => // t13: Gopher rule gates — keep passing docs
        val keep = graft.queries.TextOps.gopherRulesOf(docs)
          .where(col("pass")).select(col("doc_id"))
        docs.join(keep, Seq("doc_id"))
      case "dedup_window" => // d11: drop docs sharing a k-token window
        // with an earlier doc (exact-substring dedup at window grain)
        val k = p.get("window").map(num(_).toInt).getOrElse(20)
        val keep = graft.queries.DedupOps.windowDedupOf(docs, k)
          .where(!col("is_dup")).select(col("doc_id"))
        docs.join(keep, Seq("doc_id"))
      case "stratified_sample" => // o7: keyed-digest rank within stratum
        val by = p.get("by").map(str).getOrElse("lang")
        val frac = p.get("frac").map(num).getOrElse(0.2)
        val w = Window.partitionBy(col(by)).orderBy(col("__rk"), col("doc_id"))
        docs
          .withColumn("__rk", md5(concat_ws(":", lit(ranSeed), col("doc_id"))))
          .withColumn("__rn", row_number().over(w).cast("long"))
          .withColumn("__ns", count(lit(1)).over(Window.partitionBy(col(by))))
          .where(col("__rn") <= ceil(col("__ns") * frac))
          .drop("__rk", "__rn", "__ns")
      case other =>
        throw new IllegalArgumentException(s"unknown curation stage: $other")
    }
  }

  /** Run the spec; returns the per-stage audit table
    * (stage_idx, stage, n_docs) with the final split buckets appended
    * as `split:<bucket>` rows. */
  def run(spark: SparkSession, dir: String,
      yaml: String = defaultYaml): DataFrame = {
    import spark.implicits._
    val plan = parse(yaml)
    var docs = Tables(spark, dir, "documents").localCheckpoint(true)
    val counts = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    var lastCount = docs.count()
    counts += ((0L, "ingest", lastCount))
    // ROW-PRESERVING projection stages (normalize/redact: per-row
    // `withColumn("text", …)` rewrites) fuse (round 17, guide §1.2):
    // their audit count equals the predecessor's by construction, so
    // they never need a count job, and a RUN of consecutive
    // projection stages materializes ONCE at its end instead of
    // paying a full checkpoint of the text column per stage. Shuffle
    // stages keep the eager per-stage materialization (the
    // ActiveLoop shape — plans don't nest, each computed once).
    plan.stages.zipWithIndex.foreach { case (st, i) =>
      docs = applyStage(docs, st, plan.ranSeed)
      val preserving = rowPreserving(st.stepType)
      val nextPreserving = plan.stages.lift(i + 1)
        .exists(n => rowPreserving(n.stepType))
      if (preserving && nextPreserving) {
        // mid-run projection: stay lazy, count carried forward
        counts += (((i + 1).toLong, st.stepType, lastCount))
      } else if (preserving) {
        // end of a projection run: one pin for the whole run; the
        // count is the predecessor's (row-preserving)
        docs = docs.localCheckpoint(true)
        counts += (((i + 1).toLong, st.stepType, lastCount))
      } else {
        docs = docs.localCheckpoint(true)
        lastCount = docs.count()
        counts += (((i + 1).toLong, st.stepType, lastCount))
      }
    }
    val assign = Splits.assign(docs, "doc_id", "main",
      plan.trainFrac, plan.ranSeed)
    val buckets = assign.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val base = counts.size.toLong
    buckets.zipWithIndex.foreach { case ((b, n), i) =>
      counts += ((base + i, s"split:$b", n))
    }
    counts.toSeq.toDF("stage_idx", "stage", "n_docs")
      .orderBy(col("stage_idx"))
  }
}
