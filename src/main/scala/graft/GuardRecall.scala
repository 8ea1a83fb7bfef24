package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the LSH band-bucket skew guard's ACTUAL recall on a
  * corpus that fires it (VERDICT r9 task 1: the bounded-recall
  * contract of the band-bucket pass `DupClusters.bucketPairs` /
  * `MinHash.capBucketMembers` had
  * only ever been argued, because no gate corpus plants a band bucket
  * over DefaultMaxBucket).
  *
  * Input: a `MakeScale … boiler` directory (templated-page families
  * at several duplication rates — the identical family alone exceeds
  * the guard threshold). For each of the guarded surfaces the runner
  * executes guard ON (default) and guard OFF
  * (`spark.graft.lsh.skewGuard = off`: the bucket pass holds every
  * bucket whole in one task's memory and emits the plain band
  * self-join's pairs — no faster than guard ON, since the pass has no
  * count pass to skip, and the n² mega-bucket runs in one task; this
  * reference arm is the one use of `off` on the self-join surfaces):
  *
  *  - d2_minhash_pairs — candidate pairs (star edges exempt from the
  *    threshold): pair recall vs the unguarded set, extra star edges,
  *    CLUSTER-assignment equality over the full corpus (the claimed
  *    invariant), wall-clock;
  *  - d4_neardup_pairs — exact-verified pairs, with d4_ngram_jaccard
  *    (PPJoin, guard-free) as independent TRUTH: recall vs truth for
  *    both settings, cluster equality, wall-clock;
  *  - d9_fuzzy_decontaminate — flagged-doc recall + exact row
  *    agreement (its cap sits on the bench side, which stays under
  *    the threshold at any corpus composition with ~1% bench rate —
  *    expected bit-identical; measured, not assumed);
  *  - d14_incremental_minhash — per-batch-doc verdict agreement
  *    (match_id + is_dup) under a capped mega-bucket history.
  *
  * Output: one JSON artifact (default bench/guard_recall.json) +
  * a printed table for COVERAGE §guard-recall.
  */
object GuardRecall {
  private def r4(x: Double): Double = math.rint(x * 10000) / 10000

  /** `on-only` third arg: skip the guard-off / PPJoin-truth runs and
    * emit guard-ON wall-clocks alone — for boiler corpora large
    * enough that the unguarded n²-in-one-task lap would not finish
    * in useful time (which is the guard's whole point; the recall
    * metrics come from the smaller corpus where off still runs). */
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = if (args.length > 1) args(1) else "bench/guard_recall.json"
    val onOnly = args.length > 2 && args(2) == "on-only"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables(spark, dir, "documents").persist()
    val nDocs = docs.count()
    val universe = docs.select(col("doc_id"))

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    /** Run `build` under a guard setting, materialize, time it. */
    def run(guard: Boolean)(build: => DataFrame): (DataFrame, Double) = {
      spark.conf.set(graft.operators.MinHash.GuardConfKey,
        if (guard) "on" else "off")
      graft.operators.SessionTable.invalidate() // no cross-setting reuse
      val (df, secs) = timed {
        val d = build.persist()
        d.count()
        d
      }
      spark.conf.set(graft.operators.MinHash.GuardConfKey, "on")
      (df, secs)
    }

    def pairKey(df: DataFrame, a: String, b: String): DataFrame =
      df.select(least(col(a), col(b)).as("pa"),
        greatest(col(a), col(b)).as("pb")).distinct()

    /** recall of `got` against `want` on the (pa, pb) key. */
    def recall(got: DataFrame, want: DataFrame): (Long, Long, Double) = {
      val nWant = want.count()
      val hit = want.join(got, Seq("pa", "pb"), "left_semi").count()
      (hit, nWant, if (nWant == 0) 1.0 else hit.toDouble / nWant)
    }

    /** fraction of docs whose connected-component label agrees. */
    def clusterAgreement(pairsA: DataFrame, pairsB: DataFrame): Double = {
      val la = graft.operators.DupClusters.computeLabels(
        pairsA.select(col("pa"), col("pb")), universe)
        .withColumnRenamed("cluster_id", "ca")
      val lb = graft.operators.DupClusters.computeLabels(
        pairsB.select(col("pa"), col("pb")), universe)
        .withColumnRenamed("cluster_id", "cb")
      val agree = la.join(lb, "doc_id")
        .where(col("ca") === col("cb")).count()
      agree.toDouble / nDocs
    }

    val sb = new StringBuilder
    sb ++= s"""{\n  "dir": "$dir",\n  "n_docs": $nDocs,\n"""
    sb ++= s"""  "max_bucket": ${graft.operators.MinHash.DefaultMaxBucket},\n"""

    if (onOnly) {
      // guard-ON wall-clocks only (two laps, warm reported): the
      // growth of these against the boiler family size is the guard's
      // sub-quadratic evidence at sizes where OFF cannot run
      def lap2(build: => DataFrame): (Double, Double) = {
        def once = { val (df, s) = run(guard = true)(build)
          df.unpersist(); s }
        (once, once)
      }
      val entries = Seq(
        "d2_minhash_pairs" ->
          (() => graft.queries.DedupOps.d2MinhashPairs(spark, dir)),
        "d4_neardup_pairs" ->
          (() => graft.queries.DedupOps.nearDupPairs(spark, dir)),
        "d9_fuzzy_decontaminate" ->
          (() => graft.queries.DedupOps.d9FuzzyDecontaminate(spark, dir)),
        "d14_incremental_minhash" ->
          (() => graft.queries.DedupOps.d14IncrementalMinhash(spark, dir)))
      sb ++= entries.map { case (name, build) =>
        val (c, w) = lap2(build())
        println(s"[guard-recall] $name guard-on: cold ${r4(c)}s warm ${r4(w)}s")
        s"""  "$name": {"sec_on_cold": ${r4(c)}, "sec_on_warm": ${r4(w)}}"""
      }.mkString("", ",\n", "\n")
      sb ++= "}\n"
      val p0 = java.nio.file.Paths.get(out)
      Option(p0.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p0, sb.toString)
      println(s"[guard-recall] wrote $out")
      spark.stop()
      return
    }

    // ---------------------------------------------------- d2 pairs
    def d2() = graft.queries.DedupOps.d2MinhashPairs(spark, dir)
    val (d2On, tD2On) = run(guard = true)(d2())
    val (d2Off, tD2Off) = run(guard = false)(d2())
    val d2OnK = pairKey(d2On, "doc_a", "doc_b").persist()
    val d2OffK = pairKey(d2Off, "doc_a", "doc_b").persist()
    val (d2Hit, d2Want, d2Rec) = recall(d2OnK, d2OffK)
    val d2Extra = d2OnK.join(d2OffK, Seq("pa", "pb"), "left_anti").count()
    val d2Clu = clusterAgreement(d2OnK, d2OffK)
    sb ++= s"""  "d2_minhash_pairs": {"sec_on": ${r4(tD2On)}, "sec_off": ${r4(tD2Off)}, "pairs_on": ${d2OnK.count()}, "pairs_off": $d2Want, "pair_recall": ${r4(d2Rec)}, "star_extras_below_threshold": $d2Extra, "cluster_agreement": ${r4(d2Clu)}},\n"""
    println(s"[guard-recall] d2: recall=${r4(d2Rec)} " +
      s"cluster=${r4(d2Clu)} on=${r4(tD2On)}s off=${r4(tD2Off)}s " +
      s"extras=$d2Extra")
    d2On.unpersist(); d2Off.unpersist()

    // ------------------------------------- d4 pairs vs PPJoin truth
    def d4() = graft.queries.DedupOps.nearDupPairs(spark, dir)
    val (d4On, tD4On) = run(guard = true)(d4())
    val (d4Off, tD4Off) = run(guard = false)(d4())
    val (truth, tTruth) = run(guard = true)(
      graft.queries.DedupOps.d4NgramJaccard(spark, dir))
    val d4OnK = pairKey(d4On, "doc_a", "doc_b").persist()
    val d4OffK = pairKey(d4Off, "doc_a", "doc_b").persist()
    val truthK = pairKey(truth, "doc_a", "doc_b").persist()
    val (_, _, d4RecOff) = recall(d4OnK, d4OffK)
    val (_, nTruth, d4RecTruthOn) = recall(d4OnK, truthK)
    val (_, _, d4RecTruthOff) = recall(d4OffK, truthK)
    val d4Clu = clusterAgreement(d4OnK, d4OffK)
    val d4CluTruth = clusterAgreement(d4OnK, truthK)
    sb ++= s"""  "d4_neardup_pairs": {"sec_on": ${r4(tD4On)}, "sec_off": ${r4(tD4Off)}, "sec_ppjoin_truth": ${r4(tTruth)}, "pairs_on": ${d4OnK.count()}, "pairs_off": ${d4OffK.count()}, "pairs_truth": $nTruth, "pair_recall_vs_off": ${r4(d4RecOff)}, "pair_recall_vs_truth_on": ${r4(d4RecTruthOn)}, "pair_recall_vs_truth_off": ${r4(d4RecTruthOff)}, "cluster_agreement_vs_off": ${r4(d4Clu)}, "cluster_agreement_vs_truth": ${r4(d4CluTruth)}},\n"""
    println(s"[guard-recall] d4: recall(off)=${r4(d4RecOff)} " +
      s"recall(truth,on)=${r4(d4RecTruthOn)} recall(truth,off)=${r4(d4RecTruthOff)} " +
      s"cluster(off)=${r4(d4Clu)} cluster(truth)=${r4(d4CluTruth)} " +
      s"on=${r4(tD4On)}s off=${r4(tD4Off)}s truth=${r4(tTruth)}s")
    d4On.unpersist(); d4Off.unpersist(); truth.unpersist()

    // -------------------------------------------------------- d9
    def d9() = graft.queries.DedupOps.d9FuzzyDecontaminate(spark, dir)
    val (d9On, tD9On) = run(guard = true)(d9())
    val (d9Off, tD9Off) = run(guard = false)(d9())
    val d9FlagOn = d9On.select(col("doc_id")).persist()
    val d9FlagOff = d9Off.select(col("doc_id")).persist()
    val d9Hit = d9FlagOff.join(d9FlagOn, Seq("doc_id"), "left_semi").count()
    val d9Want = d9FlagOff.count()
    val d9RowsEq = d9On.exceptAll(d9Off).isEmpty &&
      d9Off.exceptAll(d9On).isEmpty
    sb ++= s"""  "d9_fuzzy_decontaminate": {"sec_on": ${r4(tD9On)}, "sec_off": ${r4(tD9Off)}, "flagged_on": ${d9FlagOn.count()}, "flagged_off": $d9Want, "flag_recall": ${r4(if (d9Want == 0) 1.0 else d9Hit.toDouble / d9Want)}, "rows_identical": $d9RowsEq},\n"""
    println(s"[guard-recall] d9: flag_recall=${r4(if (d9Want == 0) 1.0 else d9Hit.toDouble / d9Want)} rows_identical=$d9RowsEq " +
      s"on=${r4(tD9On)}s off=${r4(tD9Off)}s")
    d9On.unpersist(); d9Off.unpersist()

    // -------------------------------------------------------- d14
    def d14() = graft.queries.DedupOps.d14IncrementalMinhash(spark, dir)
    val (d14On, tD14On) = run(guard = true)(d14())
    val (d14Off, tD14Off) = run(guard = false)(d14())
    val j = d14On.select(col("doc_id"), col("match_id").as("m_on"),
        col("is_dup").as("dup_on"))
      .join(d14Off.select(col("doc_id"), col("match_id").as("m_off"),
        col("is_dup").as("dup_off")), "doc_id")
      .persist()
    val nBatch = j.count()
    val dupAgree = j.where(col("dup_on") === col("dup_off")).count()
    val matchAgree = j.where(col("m_on") === col("m_off")).count()
    sb ++= s"""  "d14_incremental_minhash": {"sec_on": ${r4(tD14On)}, "sec_off": ${r4(tD14Off)}, "batch_docs": $nBatch, "is_dup_agreement": ${r4(dupAgree.toDouble / nBatch)}, "match_id_agreement": ${r4(matchAgree.toDouble / nBatch)}}\n"""
    println(s"[guard-recall] d14: is_dup_agree=${r4(dupAgree.toDouble / nBatch)} " +
      s"match_agree=${r4(matchAgree.toDouble / nBatch)} " +
      s"on=${r4(tD14On)}s off=${r4(tD14Off)}s")

    sb ++= "}\n"
    val p = java.nio.file.Paths.get(out)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, sb.toString)
    println(s"[guard-recall] wrote $out")
    spark.stop()
  }
}
