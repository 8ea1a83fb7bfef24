package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import Study.{obj, timed}

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
  * Usage: runMain graft.Study GuardRecall <out.json> <dir> [on-only]
  * (bench/guard_recall.json), plus a printed table for COVERAGE
  * §guard-recall.
  *
  * `on-only` skips the guard-off / PPJoin-truth runs and emits
  * guard-ON wall-clocks alone (bench/guard_on_boiler*.json) — for
  * boiler corpora large enough that the unguarded n²-in-one-task lap
  * would not finish in useful time (which is the guard's whole point;
  * the recall metrics come from the smaller corpus where off still
  * runs).
  */
object GuardRecall {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val dir = args(0)
    val onOnly = args.lift(1).contains("on-only")

    val docs = Tables(spark, dir, "documents").persist()
    val nDocs = docs.count()
    val universe = docs.select(col("doc_id"))

    /** Run `build` under a guard setting, materialize, time it. */
    def guarded(guard: Boolean)(build: => DataFrame): (DataFrame, Double) =
      Study.withConf(spark, graft.operators.MinHash.GuardConfKey ->
          (if (guard) "on" else "off")) {
        graft.operators.SessionTable.invalidate() // no cross-setting reuse
        timed {
          val d = build.persist()
          d.count()
          d
        }
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

    def d2() = graft.queries.DedupOps.d2MinhashPairs(spark, dir)
    def d4() = graft.queries.DedupOps.nearDupPairs(spark, dir)
    def d9() = graft.queries.DedupOps.d9FuzzyDecontaminate(spark, dir)
    def d14() = graft.queries.DedupOps.d14IncrementalMinhash(spark, dir)

    val head = obj("dir" -> dir, "n_docs" -> nDocs,
      "max_bucket" -> graft.operators.MinHash.DefaultMaxBucket)

    if (onOnly) {
      // guard-ON wall-clocks only (two laps, warm reported): the
      // growth of these against the boiler family size is the guard's
      // sub-quadratic evidence at sizes where OFF cannot run
      def once(build: => DataFrame): Double = {
        val (df, s) = guarded(guard = true)(build)
        df.unpersist()
        s
      }
      Study.Json(head ~ obj(Seq(
        "d2_minhash_pairs" -> (() => d2()),
        "d4_neardup_pairs" -> (() => d4()),
        "d9_fuzzy_decontaminate" -> (() => d9()),
        "d14_incremental_minhash" -> (() => d14())).map { case (name, build) =>
        val (c, w) = (once(build()), once(build()))
        val laps = obj("sec_on_cold" -> c, "sec_on_warm" -> w)
        Study.step("guard-recall", obj(name -> laps))
        name -> laps
      }: _*))
    } else {
      // ---------------------------------------------------- d2 pairs
      val (d2On, tD2On) = guarded(guard = true)(d2())
      val (d2Off, tD2Off) = guarded(guard = false)(d2())
      val d2OnK = pairKey(d2On, "doc_a", "doc_b").persist()
      val d2OffK = pairKey(d2Off, "doc_a", "doc_b").persist()
      val (d2Hit, d2Want, d2Rec) = recall(d2OnK, d2OffK)
      val d2Extra = d2OnK.join(d2OffK, Seq("pa", "pb"), "left_anti").count()
      val d2Clu = clusterAgreement(d2OnK, d2OffK)
      val d2Json = obj("sec_on" -> tD2On, "sec_off" -> tD2Off,
        "pairs_on" -> d2OnK.count(), "pairs_off" -> d2Want,
        "pair_recall" -> d2Rec, "star_extras_below_threshold" -> d2Extra,
        "cluster_agreement" -> d2Clu)
      Study.step("guard-recall", obj("d2" -> d2Json))
      d2On.unpersist(); d2Off.unpersist()

      // ------------------------------------- d4 pairs vs PPJoin truth
      val (d4On, tD4On) = guarded(guard = true)(d4())
      val (d4Off, tD4Off) = guarded(guard = false)(d4())
      val (truth, tTruth) = guarded(guard = true)(
        graft.queries.DedupOps.d4NgramJaccard(spark, dir))
      val d4OnK = pairKey(d4On, "doc_a", "doc_b").persist()
      val d4OffK = pairKey(d4Off, "doc_a", "doc_b").persist()
      val truthK = pairKey(truth, "doc_a", "doc_b").persist()
      val (_, _, d4RecOff) = recall(d4OnK, d4OffK)
      val (_, nTruth, d4RecTruthOn) = recall(d4OnK, truthK)
      val (_, _, d4RecTruthOff) = recall(d4OffK, truthK)
      val d4Clu = clusterAgreement(d4OnK, d4OffK)
      val d4CluTruth = clusterAgreement(d4OnK, truthK)
      val d4Json = obj("sec_on" -> tD4On, "sec_off" -> tD4Off,
        "sec_ppjoin_truth" -> tTruth, "pairs_on" -> d4OnK.count(),
        "pairs_off" -> d4OffK.count(), "pairs_truth" -> nTruth,
        "pair_recall_vs_off" -> d4RecOff,
        "pair_recall_vs_truth_on" -> d4RecTruthOn,
        "pair_recall_vs_truth_off" -> d4RecTruthOff,
        "cluster_agreement_vs_off" -> d4Clu,
        "cluster_agreement_vs_truth" -> d4CluTruth)
      Study.step("guard-recall", obj("d4" -> d4Json))
      d4On.unpersist(); d4Off.unpersist(); truth.unpersist()

      // -------------------------------------------------------- d9
      val (d9On, tD9On) = guarded(guard = true)(d9())
      val (d9Off, tD9Off) = guarded(guard = false)(d9())
      val d9FlagOn = d9On.select(col("doc_id")).persist()
      val d9FlagOff = d9Off.select(col("doc_id")).persist()
      val d9Hit = d9FlagOff.join(d9FlagOn, Seq("doc_id"), "left_semi").count()
      val d9Want = d9FlagOff.count()
      val d9RowsEq = d9On.exceptAll(d9Off).isEmpty &&
        d9Off.exceptAll(d9On).isEmpty
      val d9Json = obj("sec_on" -> tD9On, "sec_off" -> tD9Off,
        "flagged_on" -> d9FlagOn.count(), "flagged_off" -> d9Want,
        "flag_recall" -> (if (d9Want == 0) 1.0 else d9Hit.toDouble / d9Want),
        "rows_identical" -> d9RowsEq)
      Study.step("guard-recall", obj("d9" -> d9Json))
      d9On.unpersist(); d9Off.unpersist()

      // -------------------------------------------------------- d14
      val (d14On, tD14On) = guarded(guard = true)(d14())
      val (d14Off, tD14Off) = guarded(guard = false)(d14())
      val j = d14On.select(col("doc_id"), col("match_id").as("m_on"),
          col("is_dup").as("dup_on"))
        .join(d14Off.select(col("doc_id"), col("match_id").as("m_off"),
          col("is_dup").as("dup_off")), "doc_id")
        .persist()
      val nBatch = j.count()
      val dupAgree = j.where(col("dup_on") === col("dup_off")).count()
      val matchAgree = j.where(col("m_on") === col("m_off")).count()
      val d14Json = obj("sec_on" -> tD14On, "sec_off" -> tD14Off,
        "batch_docs" -> nBatch,
        "is_dup_agreement" -> dupAgree.toDouble / nBatch,
        "match_id_agreement" -> matchAgree.toDouble / nBatch)
      Study.step("guard-recall", obj("d14" -> d14Json))

      Study.Json(head ~ obj("d2_minhash_pairs" -> d2Json,
        "d4_neardup_pairs" -> d4Json, "d9_fuzzy_decontaminate" -> d9Json,
        "d14_incremental_minhash" -> d14Json))
    }
  }
}
