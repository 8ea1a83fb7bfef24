package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Session-scoped materialized tables: compute once per (session,
  * key), keep as an eager `localCheckpoint`, let every later consumer
  * join the checkpointed result. This is the in-session model of the
  * table a production pipeline would persist to storage once per
  * corpus snapshot (signature tables, cluster labels, fitted
  * codebooks-as-tables) — the call site is exactly where a durable
  * `checkpoint()`/parquet write goes on a real cluster.
  *
  * `localCheckpoint` rather than `persist`: blocks are GC-managed and
  * never appear in the cache manager, so a long-lived session running
  * queries in a loop does not accumulate cached plans
  * (CacheHygieneSpec's invariant). Keys embed the applicationId so a
  * stopped-and-restarted session can never serve another context's
  * checkpointed blocks.
  *
  * A pin carries its measured size: the pinned relation's logical
  * stats are the bytes its blocks occupy
  * (`graftx.GraftExtensions.withMeasuredSize`), not the optimizer's
  * estimate of the plan it was built from, so joins and sorts over it
  * plan for its real size (a 500-row labels table reports KB, not tens
  * of MB). */
object SessionTable {
  private val store = TrieMap.empty[String, DataFrame]
  private val buildSecs = TrieMap.empty[String, Double]

  def of(s: SparkSession, key: String)(compute: => DataFrame): DataFrame =
    store.getOrElseUpdate(s"${s.sparkContext.applicationId}:$key", {
      val t0 = System.nanoTime()
      val df = org.apache.spark.sql.graftx.GraftExtensions
        .withMeasuredSize(compute.localCheckpoint(true))
      buildSecs.put(key, (System.nanoTime() - t0) / 1e9)
      df
    })

  /** Seconds spent building each materialized table this session,
    * keyed by the caller's short key (application-id prefix stripped).
    * The bench artifact reports this as `materialization_cost` so the
    * one-time build of a shared table (e.g. the d6/d13/d18/o11 cluster
    * labels) is attributed explicitly instead of hiding inside the
    * cold lap of whichever consumer ran first. */
  def buildCosts: Map[String, Double] = buildSecs.toMap

  /** Drop every materialized table (spec hygiene / corpus swap). */
  def invalidate(): Unit = { store.clear(); buildSecs.clear() }
}
