package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{JArray, JObject}
import org.json4s.JsonDSL._

import Study.{obj, timed}

/** Measures the ANN tiers' ACTUAL retrieval quality against the exact
  * brute-force baseline (VERDICT r10 task 6: s2/s3/s4 are
  * hash-oracled for determinism — the approximation itself replays in
  * DuckDB — but recall@k vs `s1_knn_bruteforce` was asserted only at
  * spec scale, never committed as a measured artifact).
  *
  * Scale points:
  *  - 1x — the sf embeddings fixture verbatim (the corpus the s1–s4
  *    queries run on). NOTE its geometry: near-random vectors whose
  *    true k-th cosine (~0.31) sits at the random-pair tail, i.e. NO
  *    neighbor structure — the worst case for any cell-probing index,
  *    reported as the honest floor.
  *  - 25x — copy-expanded with PARAPHRASE variants: copy i of vector
  *    v is 0.7·v + 0.3·noise with hash-derived noise matched to the
  *    fixture's marginal scale (cos(variant, original) ≈ 0.92), the
  *    clustered geometry of a real near-dup-bearing corpus. (Two
  *    rejected designs, measured: verbatim copies make every tier
  *    1.0 trivially — the query's own clones are the whole top-k —
  *    and unmatched-scale random distractors make the truth the
  *    random-cos tail, where only exact search can win: 0.0 for PQ.)
  *
  * Per point: TRUTH = full query×corpus exact cosine (the s1
  * arithmetic — double dot, round 6dp) giving each query's k-th-best
  * true cosine; an ANN result is a HIT when its TRUE cosine ≥ that
  * threshold (tie-tolerant recall — variant clusters are full of
  * near-equal cosines). IVF-Flat and IVF-PQ sweep nprobe across
  * nlist/{32,16,8,4,2} (production default nlist/16); sign-LSH has no
  * probe knob → one point.
  *
  * Usage: runMain graft.Study AnnRecall <out.json> <sfDir> [copies=25]
  * (bench/ann_recall.json), plus a printed table for COVERAGE.
  */
object AnnRecall {
  private val K = 10
  private val IdOff = 100000000L

  private def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    org.apache.spark.sql.graftx.VectorExpressions.dotProduct(x, y)

  /** (query_id, vec_id, true_cos) for the full query×corpus grid —
    * O(|q|·N) rows, |q| = 5, so driver-collectible at any tested
    * scale; at real scale this stays a DataFrame join. */
  private def trueCos(e: DataFrame): DataFrame = {
    val v = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = v.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    v.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
          .as("true_cos"))
  }

  /** Tie-tolerant recall@K of `ann` (query_id, vec_id, …) vs truth. */
  private def recallOf(ann: DataFrame, truth: DataFrame,
      thresh: DataFrame): Double = {
    val hits = ann.select(col("query_id"), col("vec_id"))
      .join(truth, Seq("query_id", "vec_id"), "left")
      .join(thresh, "query_id")
      .select(when(col("true_cos") >= col("kth"), 1L).otherwise(0L).as("h"))
      .agg(sum(col("h"))).head().getLong(0)
    val nq = thresh.count()
    hits.toDouble / (nq * K)
  }

  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val src = args(0)
    val copies = args.lift(1).map(_.toInt).getOrElse(25)

    val orig = spark.read.parquet(s"$src/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
    // fixture marginal scale, for noise matching (one 1-row agg)
    val sigma = orig.select(
      stddev(element_at(col("embedding"), 1)).as("s")).head().getDouble(0)
    // uniform[-a, a] has std a/sqrt(3) → a = sigma * sqrt(3)
    val amp = sigma * math.sqrt(3.0)
    def variantCopy(i: Int): DataFrame = {
      val newId = col("vec_id") + lit(i * IdOff)
      orig.select(newId.as("vec_id"),
        (col("label") + lit(i * 1000)).as("label"),
        transform(col("embedding"), (x, j) =>
          (x * lit(0.7) + lit(0.3 * amp) *
            (pmod(xxhash64(newId * 64 + j), lit(2001L)) - lit(1000L))
              .cast("double") / 1000.0).cast("float")).as("embedding"))
    }
    val scaledDf = (orig +: (1 until copies).map(variantCopy).toSeq)
      .reduce(_ unionByName _)

    val points = Seq("1x" -> orig, s"${copies}x" -> scaledDf)
    Study.Json(JObject(points.map { case (label, corpus) =>
      val e = corpus.repartition(col("vec_id")).persist()
      val n = e.count()
      val truth = trueCos(e).persist()
      val thresh = truth
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("true_cos").desc, col("vec_id").asc)))
        .where(col("rk") === K)
        .select(col("query_id"), col("true_cos").as("kth")).persist()
      thresh.count()
      val q = e.where(col("vec_id") < 5)
      val nlist = graft.operators.Similarity.adaptiveNlist(n)
      // corpus difficulty context: the mean k-th-best true cosine
      val meanKth = thresh.agg(avg(col("kth"))).head().getDouble(0)

      /** sec and recall@K of one ANN run, materialized while timed. */
      def measure(name: String)(build: => DataFrame): JObject = {
        val (df, t) = timed { val d = build.persist(); d.count(); d }
        val r = recallOf(df, truth, thresh)
        df.unpersist()
        println(f"[ann-recall] $label $name: recall=$r%.4f ${t}%.2fs")
        obj("sec" -> t, s"recall_at_$K" -> r)
      }

      // brute-force wall-clock for reference (the exact tier): the
      // s1 kernel shape over this corpus
      val (_, tBrute) = timed {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("true_cos").desc, col("vec_id").asc)
        trueCos(e).withColumn("rk", row_number().over(w))
          .where(col("rk") <= K)
          .write.format("noop").mode("overwrite").save()
      }
      println(f"[ann-recall] $label n=$n kth=$meanKth%.4f brute: ${tBrute}%.2fs")
      def lsh(probe: Int) = graft.operators.IntKmeans.lshTopK(
        e.select(col("vec_id"), col("embedding")), q, "embedding",
        "vec_id", k = K, dim = 64, seed = 42L, probeHamming = probe)
      // IVF-Flat + IVF-PQ explicit-nprobe sweep (the caller's dial)
      def sweep(name: String)(run: Int => DataFrame): JArray =
        Seq(32, 16, 8, 4, 2).map { div =>
          val np = math.max(4, nlist / div)
          obj("nprobe" -> np, "nlist_div" -> div) ~
            measure(s"$name nprobe=$np (nlist/$div)")(run(np))
        }
      val fields = obj(
        "n_vectors" -> n, "nlist" -> nlist, "mean_true_kth_cos" -> meanKth,
        "bruteforce" -> obj("sec" -> tBrute, s"recall_at_$K" -> 1.0),
        // sign-LSH on the DEFAULT (round 15: AUTO — capped planes,
        // derived radius; the ≥0.8-at-every-rung contract)
        "lsh" -> measure("lsh(auto)")(lsh(0)),
        // explicit radius 1 (uncapped planes): the pre-r15 default,
        // kept as the speed end of the dial
        "lsh_probe1" -> measure("lsh_probe1")(lsh(1)),
        // sign-LSH at probe radius 2 (round 12): the recall dial — the
        // pair-flip probes multiply candidates ~np/2× over radius 1
        "lsh_probe2" -> measure("lsh_probe2")(lsh(2)),
        // IVF-Flat + IVF-PQ on DEFAULTS (round 16: nprobe = 0 is AUTO —
        // GREATEST(4, nlist/16), widened to ≥ nlist/4 under the small-
        // corpus line) — the headline rungs the VERDICT gate reads
        "ivf_flat_auto" -> measure("ivf_flat(auto)")(
          graft.operators.IntKmeans.topK(
            e.select(col("vec_id"), col("embedding")), q, "embedding",
            "vec_id", k = K, nlist = nlist)),
        "ivf_pq_auto" -> measure("ivf_pq(auto)")(
          graft.operators.IntKmeans.pqTopK(
            e.select(col("vec_id"), col("embedding")), q, "embedding",
            "vec_id", k = K, nlist = nlist, m = 8, ksub = 16)),
        "ivf_flat" -> sweep("ivf_flat")(np =>
          graft.operators.IntKmeans.topK(
            e.select(col("vec_id"), col("embedding")), q, "embedding",
            "vec_id", k = K, nlist = nlist, nprobe = np, iters = 2,
            seed = 42L)),
        "ivf_pq" -> sweep("ivf_pq")(np =>
          graft.operators.IntKmeans.pqTopK(
            e.select(col("vec_id"), col("embedding")), q, "embedding",
            "vec_id", k = K, nlist = nlist, m = 8, ksub = 16, nprobe = np,
            iters = 2, seed = 42L)))
      truth.unpersist(); thresh.unpersist(); e.unpersist()
      label -> fields
    }.toList))
  }
}
