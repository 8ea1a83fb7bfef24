package org.apache.spark.sql.graftx

import org.apache.spark.rdd.LocalRDDCheckpointData
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** What a session holds cached: the cache manager's entries and the
  * context's persistent RDDs. [[restore]] un-caches whatever was added
  * since a [[snapshot]], so a block of code that caches and forgets to
  * unpersist leaves the session as it found it. Local checkpoints are
  * persistent RDDs too, but they are not counted: their blocks are
  * GC-managed, and a pinned `SessionTable` must keep them. */
object SessionCache {

  /** @param plans the cache-manager entries' plans
    * @param rdds the ids of persistent RDDs that are not local
    *   checkpoints */
  final case class Snapshot(plans: Seq[LogicalPlan], rdds: Set[Int])

  def snapshot(spark: SparkSession): Snapshot =
    Snapshot(entries(spark).map(_.plan), persisted(spark).keySet)

  /** Un-caches every cache-manager entry and persistent RDD that
    * `before` does not hold; entries are told apart by their plans,
    * which a re-cache of an older entry keeps. */
  def restore(spark: SparkSession, before: Snapshot): Unit = {
    val session = spark.asInstanceOf[ClassicSession]
    val known = before.plans.toSet
    entries(spark).filterNot(e => known(e.plan)).foreach { e =>
      session.sharedState.cacheManager.uncacheQuery(
        Dataset.ofRows(session, e.plan), cascade = false, blocking = false)
    }
    persisted(spark).foreach { case (id, rdd) =>
      if (!before.rdds(id)) rdd.unpersist(blocking = false)
    }
  }

  private def persisted(spark: SparkSession) =
    spark.sparkContext.getPersistentRDDs.filterNot(
      _._2.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])).toMap

  // the cache manager exposes no listing of its entries
  private def entries(spark: SparkSession): Seq[CachedData] = {
    val m = classOf[CacheManager].getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(spark.asInstanceOf[ClassicSession].sharedState.cacheManager)
      .asInstanceOf[Seq[CachedData]]
  }
}
