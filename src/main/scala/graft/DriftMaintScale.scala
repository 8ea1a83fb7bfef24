package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import graft.operators.DerivedState
import graft.sources.Versioned
import Study.{obj, timed}

/** Measures drift-triggered state maintenance at scale (round 16,
  * VERDICT r15 #4): the claim is maintenance cost ∝ DRIFTED fraction,
  * never O(corpus rebuild).
  *
  * Band-state arm: build the minhash band state over the scaled
  * corpus, then recap at a descending cap ladder — the no-trip rung
  * (default 4096 cap) is measurement-only, and each tripping rung's
  * wall time is recorded against the rows it actually removed.
  *
  * IVF arm: build centroids+postings, measure the assignment-distance
  * drift fraction (healthy ≈ 0.1 by the p90 construction), append a
  * SHIFTED 20 % increment, drain it, measure again (drifted), and let
  * the gate retrain — recording measure cost (sample-sized, flat)
  * separately from retrain cost (the explicit rebuild).
  *
  * Usage: runMain graft.Study DriftMaintScale <out.json> <scaledSfDir>
  * <workDir> <label>
  */
object DriftMaintScale {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(srcDir, workDir, label) = args.take(3)

    // ---------------------------------------------- band-state arm
    val docsSrc = s"$workDir/docs"
    val bandSt = s"$workDir/bandstate"
    val docs = Tables(spark, srcDir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    Versioned.commit(docs, docsSrc)
    val (_, buildSec) = timed {
      DerivedState.maintainMinhashBandState(spark, docsSrc, bandSt)
    }
    val stateRows = Versioned.read(spark, bandSt).count()
    // bucket-size quantiles pick caps that trip at two fractions
    val sizes = Versioned.read(spark, bandSt)
      .groupBy("band_idx", "band_key").count()
      .select(col("count")).orderBy(col("count"))
    val nBuckets = sizes.count()
    def quantile(q: Double): Long = {
      val idx = math.min(nBuckets - 1, (q * (nBuckets - 1)).toLong)
      sizes.limit((idx + 1).toInt).orderBy(col("count").desc)
        .head().getLong(0)
    }
    val p999 = math.max(1L, quantile(0.999))
    val p99 = math.max(1L, quantile(0.99))
    Study.step("drift-maint", obj("label" -> label, "n_docs" -> nDocs,
      "rows" -> stateRows, "buckets" -> nBuckets, "p99" -> p99, "p999" -> p999))
    val ((b0, r0), sec0) = timed {
      DerivedState.recapBandState(spark, bandSt) // default 4096 cap
    }
    val ((b1, r1), sec1) = timed {
      DerivedState.recapBandState(spark, bandSt, p999.toInt)
    }
    val ((b2, r2), sec2) = timed {
      DerivedState.recapBandState(spark, bandSt, p99.toInt)
    }
    // ledger survives every recap: a fresh commit still drains
    Versioned.commit(docs.limit(100)
      .withColumn("doc_id", col("doc_id") + lit(1000000000L)), docsSrc)
    val drainAfter =
      DerivedState.maintainMinhashBandState(spark, docsSrc, bandSt)
    require(drainAfter.nonEmpty, "ledger lost: post-recap drain no-oped")

    // ------------------------------------------------------ IVF arm
    val embSrc = s"$workDir/emb"
    val centsT = s"$workDir/cents"
    val postsT = s"$workDir/posts"
    val emb = Tables(spark, srcDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val nVec = emb.count()
    Versioned.commit(emb, embSrc)
    val nlist = 256
    val (_, trainSec) = timed {
      DerivedState.buildIvfCentroids(spark, embSrc, centsT,
        "embedding", "vec_id", nlist = nlist, iters = 2, seed = 42L)
    }
    val (_, drainSec) = timed {
      DerivedState.maintainIvfPostings(spark, embSrc, centsT, postsT,
        "embedding", "vec_id")
    }
    val (fHealthy, measSec) = timed {
      DerivedState.ivfDriftFraction(spark, centsT, postsT)
    }
    // shifted 20% increment: the distribution the centroids never saw
    val shifted = emb.limit((nVec / 5).toInt)
      .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
        transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))
    Versioned.commit(shifted, embSrc)
    val (_, drain2Sec) = timed {
      DerivedState.maintainIvfPostings(spark, embSrc, centsT, postsT,
        "embedding", "vec_id")
    }
    val (fDrifted, meas2Sec) = timed {
      DerivedState.ivfDriftFraction(spark, centsT, postsT)
    }
    val ((fGate, retrained), retrainSec) = timed {
      DerivedState.retrainIvfIfDrifted(spark, embSrc, centsT, postsT,
        "embedding", "vec_id", nlist = nlist, iters = 2, seed = 42L)
    }
    require(retrained, s"shifted corpus must trip the gate ($fGate)")
    val fAfter = DerivedState.ivfDriftFraction(spark, centsT, postsT)

    def rung(cap: Long, drifted: Long, removed: Long, sec: Double) =
      obj("cap" -> cap, "drifted_buckets" -> drifted,
        "rows_removed" -> removed, "sec" -> sec)
    Study.Json(obj("label" -> label, "n_docs" -> nDocs,
      "band_state" -> obj("rows" -> stateRows, "buckets" -> nBuckets,
        "build_sec" -> buildSec,
        "rungs" -> Seq(rung(4096, b0, r0, sec0), rung(p999, b1, r1, sec1),
          rung(p99, b2, r2, sec2)),
        "post_recap_drain_ok" -> true),
      "ivf" -> obj("n_vectors" -> nVec, "nlist" -> nlist,
        "train_sec" -> trainSec, "drain_sec" -> drainSec,
        "measure_sec" -> measSec, "fraction_healthy" -> fHealthy,
        "shifted_drain_sec" -> drain2Sec, "measure2_sec" -> meas2Sec,
        "fraction_drifted" -> fDrifted, "retrain_sec" -> retrainSec,
        "fraction_after_retrain" -> fAfter)))
  }
}
