package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.JsonDSL._

import graft.operators.DerivedState
import graft.sources.Versioned
import Study.{obj, secs, timed}

/** CDF-maintained derived state at scale (round 15, VERDICT r14 #5):
  * measures [[DerivedState.maintainMinhashBandState]] against a
  * MakeScale'd graftv documents table — the initial drain builds the
  * whole state ONCE; each later drain (small appends, a point
  * delete) must cost ∝ its batch, flat across increments, never
  * O(corpus). This replaces the r14 story (state built offline by a
  * bench tool, rebuilt on schema drift) with a maintained table: an
  * ingest pipeline appends documents and the dedup index follows the
  * change feed.
  *
  * Usage: runMain graft.Study DerivedScale <out.json> <scaledSfDir>
  * <srcTable> <stateTable> <label>
  */
object DerivedScale {
  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    val Seq(srcDir, srcTbl, stateTbl, label) = args.take(4)
    def drain(): Double =
      secs(DerivedState.maintainMinhashBandState(spark, srcTbl, stateTbl))

    val docs = Tables(spark, srcDir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    // bulk ingest: ~99.9 % of the corpus in one commit
    val holdout = pmod(col("doc_id"), lit(1000))
    Versioned.commit(docs.where(holdout > 2), srcTbl, "append") // v1
    val buildSec = drain()
    val stateRows0 = Versioned.read(spark, stateTbl).count()
    System.err.println(f"[derived-scale] $label: $nDocs docs, initial " +
      f"build $buildSec%.1fs ($stateRows0 state rows)")

    // three ~0.1 % increments: per-drain cost must stay flat
    val incr = (0 to 2).map { i =>
      Versioned.commit(docs.where(holdout === i), srcTbl, "append")
      val s = drain()
      System.err.println(f"[derived-scale] $label incr$i: $s%.1fs")
      s
    }
    // a point delete propagates: state rows leave, cost ∝ batch
    Versioned.deleteWhere(spark, srcTbl,
      pmod(col("doc_id"), lit(5000)) === 7)
    val delSec = drain()
    val gone = Versioned.read(spark, stateTbl)
      .where(pmod(col("h_id"), lit(5000)) === 7).count()
    require(gone == 0L, s"delete drain left $gone stale state rows")
    // idempotence: an immediate re-drain is a no-op
    val (noop, noopSec) = timed(DerivedState
      .maintainMinhashBandState(spark, srcTbl, stateTbl))
    require(noop.isEmpty, "re-drain was not a no-op")

    Study.Json(obj("label" -> label, "n_docs" -> nDocs,
      "initial_build_sec" -> buildSec, "state_rows" -> stateRows0,
      "increment_sec" -> incr, "delete_drain_sec" -> delSec,
      "noop_drain_sec" -> noopSec))
  }
}
