package graft

import scala.collection.mutable

import org.apache.spark.graftspec.JobLog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The materialized cluster-labels surface (operators.DupClusters):
  * CC correctness on planted graphs and on graph shapes checked against
  * a breadth-first-search reference, the kernel's job budget,
  * build-once semantics of the session store, and equality of the d13
  * survivorship consumed from the store vs freshly recomputed labels. */
class DupClustersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  import operators.DupClusters

  test("computeLabels: planted cliques, chains, and singletons label by component min") {
    import spark.implicits._
    // components: {1,2,3} clique, {10,11,12,13} chain (diameter 3),
    // {20,21} pair; 30, 31 singletons
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (21L, 20L) // reversed order: undirected semantics
    ).toDF("doc_a", "doc_b")
    val universe = (Seq(1L, 2L, 3L, 10L, 11L, 12L, 13L, 20L, 21L, 30L, 31L))
      .toDF("doc_id")
    val out = DupClusters.computeLabels(pairs, universe).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 31L))
  }

  /** Component-minimum labels of `universe` by breadth-first search,
    * started from every vertex in ascending order: the reference every
    * graph-shape test compares the kernel against. */
  private def bfsLabels(pairs: Seq[(Long, Long)],
      universe: Seq[Long]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, List[Long]]
    pairs.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    val label = mutable.Map.empty[Long, Long]
    (universe ++ adj.keys).distinct.sorted.foreach { root =>
      if (!label.contains(root)) {
        val queue = mutable.Queue(root)
        label(root) = root
        while (queue.nonEmpty) adj.getOrElse(queue.dequeue(), Nil)
          .foreach(n => if (!label.contains(n)) {
            label(n) = root
            queue.enqueue(n)
          })
      }
    }
    universe.map(d => d -> label(d)).toMap
  }

  private def labelsOf(pairs: DataFrame, universe: DataFrame): Map[Long, Long] =
    DupClusters.computeLabels(pairs, universe).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Kernel labels for `pairs` (shuffled, so every partition of the
    * local relation holds a scattered piece of the graph) against the
    * BFS reference. */
  private def checkShape(pairs: Seq[(Long, Long)], universe: Seq[Long]): Unit = {
    import spark.implicits._
    val shuffled = new scala.util.Random(17).shuffle(pairs)
    val got = labelsOf(shuffled.toDF("doc_a", "doc_b"), universe.toDF("doc_id"))
    val want = bfsLabels(pairs, universe)
    assert(got.size === universe.size)
    val wrong = universe.filter(d => got(d) != want(d))
    assert(wrong.isEmpty, s"${wrong.size} wrong labels, first: " +
      wrong.take(5).map(d => s"$d -> ${got(d)} (want ${want(d)})").mkString(", "))
  }

  test("graph shape: a 10,000-node path labels every node with its minimum") {
    checkShape((0L until 9999L).map(i => (i, i + 1)), (0L until 10000L) :+ 20000L)
  }

  test("graph shape: a 10,000-node star whose hub is not the minimum") {
    checkShape((0L until 10000L).filter(_ != 5000L).map(i => (5000L, i)),
      0L until 10000L)
  }

  test("graph shape: a 3-cycle given with reversed, duplicated and self-loop pairs") {
    val pairs = Seq((8L, 7L), (8L, 9L), (9L, 7L), (7L, 8L), (8L, 7L),
      (9L, 9L), (7L, 7L), (40L, 40L))
    checkShape(pairs, Seq(7L, 8L, 9L, 40L, 41L))
    assert(bfsLabels(pairs, Seq(7L, 8L, 9L)).values.toSet === Set(7L))
  }

  test("graph shape: an empty pair list labels every document with itself") {
    checkShape(Nil, Seq(3L, 1L, 2L))
  }

  test("graph shape: a pair with a null endpoint is skipped") {
    import spark.implicits._
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(2L)), (None, None), (Some(3L), Some(4L)))
      .toDF("doc_a", "doc_b")
    assert(labelsOf(pairs, (1L to 5L).toDF("doc_id")) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
  }

  test("job budget: computeLabels over a pinned sf0.001 pair list fires at most 3 jobs") {
    val sf = "/root/testdata/sf0.001"
    val pairs = queries.DedupOps.d3HammingPairs(spark, sf)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val universe = Tables(spark, sf, "documents").select(col("doc_id"))
    val (_, jobs) = JobLog.record(spark.sparkContext) {
      DupClusters.computeLabels(pairs, universe)
        .write.format("noop").mode("overwrite").save()
    }
    info(s"computeLabels + noop write: ${jobs.size} jobs")
    assert(jobs.size <= 3, jobs.mkString("\n"))
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ids = universe.collect().map(_.getLong(0)).toSeq
    assert(labelsOf(pairs, universe) === bfsLabels(edges, ids))
  }

  test("job budget: a cold d6 build at sf0.001 fires at most 9 jobs") {
    val sf = "/root/testdata/sf0.001"
    DupClusters.invalidate()
    val (d6, jobs) = JobLog.record(spark.sparkContext) {
      queries.DedupOps.d6DupClusters(spark, sf)
    }
    info(s"cold d6 build: ${jobs.size} jobs")
    assert(jobs.size <= 9, jobs.mkString("\n"))
    d6.write.format("noop").mode("overwrite").save()
  }

  test("labelsFor materializes once: second consumer runs zero Spark jobs") {
    DupClusters.invalidate()
    val sf = "/root/testdata/sf0.001"
    // first touch: runs the d3 pair build + the CC kernel
    val first = queries.DedupOps.d6DupClusters(spark, sf)
    first.write.format("noop").mode("overwrite").save()

    // parquet footer/schema reads are inherent to DataFrame
    // construction (the CacheHygieneSpec convention) — everything
    // else at build time means the CC pipeline re-ran
    @volatile var jobs = List.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        if (!site.startsWith("parquet at")) jobs ::= site
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // second touch BUILDS on the checkpointed table — zero jobs
      // before the consumer's own action (the materialize contract)
      val second = queries.DedupOps.d13KeepBest(spark, sf)
      Thread.sleep(100) // let the async listener bus settle (CacheHygieneSpec convention)
      assert(jobs.isEmpty,
        s"d13 re-ran upstream work at build time despite materialized labels: $jobs")
      second.write.format("noop").mode("overwrite").save()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("survivorship from the materialized table equals a fresh recompute") {
    val sf = "/root/testdata/sf0.001"
    val viaStore = queries.DedupOps.d13KeepBest(spark, sf).collect().toSeq

    // fresh labels, bypassing the store entirely
    val freshLabels = DupClusters.computeLabels(
      queries.DedupOps.d3HammingPairs(spark, sf)
        .select(col("doc_a"), col("doc_b")),
      Tables(spark, sf, "documents").select(col("doc_id")))
    val quality = queries.TextOps.t2QualityScore(spark, sf)
      .select(col("doc_id"), col("quality"))
    val fresh = queries.DedupOps.keepBestOf(freshLabels, quality)
      .collect().toSeq

    assert(viaStore === fresh)
  }
}
