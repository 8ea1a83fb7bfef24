package graft

import scala.collection.mutable

import org.apache.spark.sql.graftx.JobLog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The materialized cluster-labels surface (operators.DupClusters):
  * CC correctness on planted graphs and on graph shapes checked against
  * a breadth-first-search reference, the kernel's job budget, the
  * hamming bucket kernel against a relational band self-join with
  * star edges (pairs, star mode, nulls, labels, rows held per bucket),
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

  test("job budget: a cold d6 build at sf0.001 fires at most 5 jobs and shuffles once") {
    val sf = "/root/testdata/sf0.001"
    DupClusters.invalidate()
    val (d6, jobs) = JobLog.record(spark.sparkContext) {
      queries.DedupOps.d6DupClusters(spark, sf)
    }
    info(s"cold d6 build: ${jobs.size} jobs")
    // the bucket shuffle's map job, the roots collect (which reads that
    // shuffle), the labels broadcast and the pin, plus parquet schema
    // inference when this JVM has not read the table yet
    assert(jobs.size <= 5, jobs.mkString("\n"))
    assert(jobs.count(_.inSqlExecution) <= 4, jobs.mkString("\n"))
    // exactly one job reads a shuffle, and it reads exactly one
    assert(jobs.map(_.stages - 1).sum === 1, jobs.mkString("\n"))
    d6.write.format("noop").mode("overwrite").save()
  }

  private val sf = "/root/testdata/sf0.001"
  private val bandNames = (0 until 4).map(k => s"band$k")

  /** The d3 pairs as plain relational operators, the kernel's
    * reference: band explode, the band self-join with min-id star
    * edges for buckets over the cap ([[BandPairsReference]]), the
    * hamming ≤ 3 verify and a `distinct`. */
  private def referencePairs(sig: DataFrame,
      maxBucket: Int = operators.MinHash.DefaultMaxBucket): DataFrame = {
    val bands = bandNames.map(col)
    val exploded = sig.select(col("doc_id") +: bands :+
      posexplode(array(bands: _*)).as(Seq("band_idx", "band_val")): _*)
    val hamming = (0 until 4).map(k =>
      bit_count(col(s"band${k}_a").bitwiseXOR(col(s"band${k}_b"))).cast("long"))
      .reduce(_ + _)
    BandPairsReference(exploded,
        Seq("band_idx", "band_val"), "doc_id", bandNames, maxBucket)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        hamming.as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  private def kernelPairs(sig: DataFrame,
      maxBucket: Int = operators.MinHash.DefaultMaxBucket): DataFrame =
    DupClusters.hammingBucketPairs(sig, "doc_id", 3, maxBucket)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming").cast("long").as("hamming"))
      .distinct()

  private def rows(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def withGuard[A](on: Boolean)(body: => A): A = {
    spark.conf.set(operators.MinHash.GuardConfKey, if (on) "on" else "off")
    try body finally spark.conf.unset(operators.MinHash.GuardConfKey)
  }

  /** A signature relation with one band0 bucket of 12 rows (ids 1..10,
    * a repeated id 5 and a null id) over a bucket cap of 4, its members
    * 0–6 bits from id 1; a small bucket with a null id and a row with a
    * null band; and 300 random rows on other band values whose buckets
    * all outgrow the cap. */
  private def plantedSig: DataFrame = {
    import spark.implicits._
    val band1 = Seq(0, 1, 3, 7, 15, 2, 6, 14, 63, 5)
    val big = (1 to 10).map(i =>
      (Option(i.toLong), Option(1), Option(band1(i - 1)), Option(0), Option(0))) ++
      Seq((Option(5L), Option(1), Option(1), Option(0), Option(0)),
        (Option.empty[Long], Option(1), Option(0), Option(0), Option(0)))
    val small = Seq(
      (Option(20L), Option(2), Option(9), Option(9), Option(9)),
      (Option(21L), Option(2), Option(9), Option(9), Option(8)),
      (Option.empty[Long], Option(2), Option(9), Option(9), Option(9)),
      (Option(22L), Option(2), Option(9), Option.empty[Int], Option(9)))
    val rnd = new scala.util.Random(11)
    val random = (100 until 400).map(i =>
      (Option(i.toLong), Option(100 + rnd.nextInt(6)), Option(200 + rnd.nextInt(4)),
        Option(300 + (rnd.nextInt(3) << 2)), Option(400 + rnd.nextInt(5))))
    (big ++ small ++ random).toDF("doc_id" +: bandNames: _*)
  }

  test("hammingBucketPairs: sf0.001 d3 pairs equal the guarded band self-join's") {
    val sig = queries.DedupOps.simhash64Of(Tables(spark, sf, "documents"))
    val want = rows(referencePairs(sig))
    assert(want.nonEmpty)
    assert(rows(queries.DedupOps.d3HammingPairs(spark, sf)) === want)
    assert(DupClusters.hammingBucketPairs(sig, "doc_id", 3).collect()
      .forall(r => r.getLong(0) < r.getLong(1) && r.getInt(2) <= 3))
  }

  test("hammingBucketPairs: a bucket over the cap star-links, guard on and off") {
    val sig = plantedSig
    val on = withGuard(on = true)(rows(kernelPairs(sig, maxBucket = 4)))
    val off = withGuard(on = false)(rows(kernelPairs(sig, maxBucket = 4)))
    assert(on === withGuard(on = true)(rows(referencePairs(sig, maxBucket = 4))))
    assert(off === withGuard(on = false)(rows(referencePairs(sig, maxBucket = 4))))
    // the planted bucket: star edges from id 1 with the guard on, plus
    // the small band1 = 1 bucket {2, 5}; every pair within 3 bits with
    // it off. Id 22 (a null band) and the null ids pair with nothing.
    assert(on.filter(_._2 <= 10) === Set((1L, 2L, 1L), (1L, 3L, 2L),
      (1L, 4L, 3L), (1L, 5L, 1L), (1L, 6L, 1L), (1L, 7L, 2L), (1L, 8L, 3L),
      (1L, 10L, 2L), (2L, 5L, 0L)))
    assert(off.contains((2L, 6L, 2L)) && !on.exists(p => p._1 == 2L && p._2 == 6L))
    assert(on.contains((20L, 21L, 1L)) && off.contains((20L, 21L, 1L)))
    assert(!(on ++ off).exists(p => p._1 == 22L || p._2 == 22L))
    assert(on.size < off.size)
    assert((on ++ off).forall(p => p._1 < p._2 && p._3 <= 3))
  }

  test("hammingBucketPairs: documents with a null doc_id or null text") {
    import spark.implicits._
    val base = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[(Option[Long], Option[String])]
      .collect().toSeq
    val (id0, text0) = base.collectFirst { case (Some(i), t @ Some(_)) => (i, t) }.get
    val planted = base ++ Seq((None, text0), (None, None),
      (Some(900001L), None), (Some(900002L), text0))
    val sig = queries.DedupOps.simhash64Of(planted.toDF("doc_id", "text"))
    val got = rows(kernelPairs(sig))
    assert(got === rows(referencePairs(sig)))
    assert(got.contains((id0, 900002L, 0L)))
    assert(!got.exists(p => p._1 == 900001L || p._2 == 900001L))
  }

  test("hammingBucketLabels equal computeLabels and BFS over the reference pairs") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val cases = Seq(
      (queries.DedupOps.simhash64Of(docs), docs.select(col("doc_id")),
        operators.MinHash.DefaultMaxBucket),
      (plantedSig, ((1L to 30L) ++ (100L until 400L)).toDF("doc_id"), 4))
    cases.foreach { case (sig, universe, cap) =>
      val ref = referencePairs(sig, cap).select(col("doc_a"), col("doc_b"))
      val labels = DupClusters.hammingBucketLabels(sig, "doc_id", 3, universe, cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === labelsOf(ref, universe))
      val edges = ref.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(labels === bfsLabels(edges, universe.collect().map(_.getLong(0)).toSeq))
      assert(labels.exists { case (d, c) => d != c })
    }
  }

  test("bucket stream holds at most maxBucket + 1 rows of a bucket with the guard on") {
    def bucket(key: Long, n: Int) = (0 until n).map(i =>
      operators.BandRow(key, i.toLong, hasId = true, Array(i & 7, 0, 0, 0)))
    val input = bucket(1L, 100) ++ bucket(2L, 3) ++ bucket(3L, 5)
    def stream(maxBucket: Int) = new operators.BucketStream(input.iterator,
      operators.BandRows, operators.BandRow.within(3), maxBucket)
    val guarded = stream(4)
    val starPairs = guarded.pairs.toList
    assert(guarded.peakHeld === 5)
    // star from id 0 in buckets 1 and 3, all pairs in bucket 2
    assert(starPairs.count(_._1 == 0L) === 99 + 2 + 4)
    assert(starPairs.size === 99 + 3 + 4)
    val whole = stream(Int.MaxValue)
    assert(whole.pairs.size === 100 * 99 / 2 + 3 + 10)
    assert(whole.peakHeld === 100)
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
