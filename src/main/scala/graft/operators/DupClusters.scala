package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Connected-component duplicate-cluster labels as a MATERIALIZED
  * surface (the `MinHash.signatures(materialize = true)` discipline,
  * applied to cluster labels): compute the labels ONCE per (session,
  * corpus), keep the result as an eager `localCheckpoint` — a
  * session-lifetime labels table — and let every consumer (d6's
  * cluster listing, d13's survivorship, any downstream curation stage)
  * JOIN it instead of re-running the whole simhash → pairs → components
  * pipeline inline.
  *
  * This is the round-4 verdict's "weak-lite" fix for d13: its own
  * marginal work is one cluster_id window, but it embedded a full CC
  * recompute (~7.7 s of its 10 s at sf0.1). At 100 TB the labels
  * table is what a production pipeline writes to storage once per
  * corpus snapshot; `labelsFor` is the in-session model of exactly
  * that — the kernel runs on first touch, later consumers pay one
  * join. `localCheckpoint` rather than `persist`: the blocks are
  * GC-managed and never appear in the cache manager, so a long-lived
  * session running queries in a loop does not accumulate cached plans
  * (CacheHygieneSpec's invariant), and on a real cluster the same
  * call site is where a durable `checkpoint()`/parquet write would go.
  *
  * The kernel is a union-find, not an iterative propagation: a
  * distributed min-label fixpoint needs one join + aggregate round per
  * unit of component diameter (8 and 9 rounds on the sf0.01 and sf0.1
  * pair graphs, not the 2–3 a clique union suggests) and cannot finish
  * a long near-dup chain in bounded rounds. Reference analog: the
  * content-hash dup groups of database/active.py:181–198, generalized
  * to transitive near-dup chains.
  */
object DupClusters {

  /** Pure CC kernel over an undirected pair list: returns
    * (doc_id, cluster_id = min doc_id of the component) for every doc
    * in `universe`; singletons and documents whose only pairs have a
    * null endpoint label themselves.
    *
    * One Spark job for the labels: each partition of `pairs` runs a
    * union-find linked by minimum and emits one (vertex, local root)
    * row per vertex it saw; the driver collects those rows and merges
    * them with a second union-find, whose roots are the component
    * minima. The labels then left-join `universe` as a local relation.
    *
    * Driver memory: one union-find entry per document that has at
    * least one pair, and at most (partitions of `pairs`) × that many
    * collected rows — never one row per pair. There is deliberately no
    * distributed O(log n)-round fallback (large-star/small-star, Kiveris
    * et al., SoCC 2014): no workload here has a pair graph whose
    * vertices outgrow the driver, and a second CC path would be kept
    * correct for nothing until one does.
    *
    * The id columns (both pair columns, `universe.doc_id`) must be
    * integral; anything else fails with a `require` naming the column.
    */
  def computeLabels(pairs: DataFrame, universe: DataFrame): DataFrame = {
    (pairs.schema.fields :+ universe.schema("doc_id")).foreach { f =>
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
        s"cluster labels: id column ${f.name} must be an integral type, " +
          s"got ${f.dataType.simpleString}")
    }
    val spark = universe.sparkSession
    import spark.implicits._
    val local = pairs.toDF("doc_a", "doc_b").na.drop()
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].mapPartitions(minRoots).collect()
    val labels = minRoots(local.iterator).toSeq.toDF("doc_id", "cluster_id")
    universe.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Union-find over `edges`, linked by minimum so that every root is
    * the smallest id of its set; finds halve their path. Returns
    * (vertex, root) for every vertex seen. */
  private def minRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var v = x
      while (parent.getOrElseUpdate(v, v) != v) {
        val g = parent(parent(v))
        parent(v) = g
        v = g
      }
      v
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toArray.iterator.map(v => v -> find(v))
  }

  /** The materialized labels table for `dir`'s documents corpus
    * (SessionTable discipline): the kernel runs on first touch, O(1)
    * lookups after. `compute` builds the pair list + universe lazily
    * (only invoked on a miss). */
  def labelsFor(s: SparkSession, dir: String)(
      compute: => (DataFrame, DataFrame)): DataFrame =
    SessionTable.of(s, s"dup-labels:$dir") {
      val (pairs, universe) = compute
      computeLabels(pairs, universe)
    }

  /** Drop all materialized labels (spec hygiene / corpus swap). */
  def invalidate(): Unit = SessionTable.invalidate()
}
