package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{InputAdapter, LogicalRDD, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.graftx.JobLog
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the SCALING.md claims: pushdown,
  * pruning, broadcast joins. These are the properties that decide
  * 100 TB behavior — a regression here is a performance bug even if
  * results stay correct. */
class PlanSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted") match {
      case m => qe.explainString(m)
    }
  }

  test("engine session default: 64k AQE coalesce floor ships with GraftExtensions") {
    // round 17 (VERDICT r16 #2): the floor must come from the ENGINE
    // (GraftExtensions.applySessionDefaults), not the harness session
    // builders — library users get what the bench measures.
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val s2 = spark.newSession() // same extensions, fresh session conf
    s2.range(10).selectExpr("sum(id)").collect() // builds the optimizer
    assert(s2.conf.get(key) == "64k")
    // an explicitly-set session conf always wins over the default
    val s3 = spark.newSession()
    s3.conf.set(key, "2m")
    s3.range(10).selectExpr("sum(id)").collect()
    assert(s3.conf.get(key) == "2m")
  }

  test("projection query prunes columns and pushes the IsNotNull filter") {
    val plan = formatted(queries.Relational.f1Projection(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_extendedprice)]"))
    // ReadSchema must carry only the 3 projected columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_linenumber") &&
      readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_quantity"))
  }

  test("range filter pushes the BETWEEN bounds to the scan") {
    val plan = formatted(queries.Relational.f8RangeFilter(spark, sf))
    assert(plan.contains("GreaterThanOrEqual(p_size,10)"))
    assert(plan.contains("LessThanOrEqual(p_size,20)"))
  }

  test("star join broadcasts every dimension (no fact-side extra shuffle)") {
    val plan = formatted(queries.Relational.j3RevenueByRegion(spark, sf))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 3) // customer, nation, region at minimum
  }

  test("semi and anti joins plan as join strategies, not subquery loops") {
    assert(formatted(queries.Relational.j4SemiJoin(spark, sf)).contains("LeftSemi"))
    assert(formatted(queries.Relational.u2AntiJoin(spark, sf)).contains("LeftAnti"))
  }

  test("split assignment plans with no single-partition exchange (scale-safe rank)") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
    // audit the lazy plan: the production assign() checkpoints its
    // result (the returned plan would just be an RDD scan)
    val plan = formatted(operators.Splits.assignImpl(
      df, "o_orderkey", "plancheck", 0.8, 7L, materialize = false))
    assert(!plan.contains("SinglePartition"),
      "global-window rank would funnel all rows through one task")
    assert(plan.toLowerCase.contains("rangepartitioning"),
      "rank must ride a distributed range partitioning")
  }

  test("dbfilter scalar reference stays a broadcast join (no collect in plan)") {
    val plan = formatted(queries.Relational.f4DbfilterScalar(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"))
  }

  test("stratified sample windows are partitioned by the stratum key") {
    val plan = formatted(queries.Extras.o7StratifiedSample(spark, sf))
    assert(!plan.contains("SinglePartition"),
      "an unpartitioned window would funnel the corpus through one task")
    assert(plan.contains("Window"))
  }

  test("DOS-convergence scalars are broadcast joins, not collects") {
    val plan = formatted(queries.Relational.a3DosConvergence(spark, sf))
    val nBroadcast = "BroadcastNestedLoopJoin".r.findAllIn(plan).length +
      "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 2, "ref-candidate and best-candidate scalars " +
      "must ride broadcast single-row joins")
    assert(!plan.contains("CollectLimit"))
  }

  test("IVF/LSH candidate joins are equi-joins on the short key") {
    // round 14: SUB-CAP corpora (the fixture's 500 vectors) probe the
    // whole pool through a BROADCAST of the tiny corpus — the exact
    // regime, by design (IntKmeans.TrainCap). The banded equi-join is
    // the AT-SCALE plan, asserted below on an above-cap corpus.
    val lshSmall = formatted(operators.Similarity.s2AnnLsh(spark, sf))
    assert(lshSmall.contains("BroadcastNestedLoopJoin") ||
      lshSmall.contains("BroadcastHashJoin"),
      "sub-cap LSH must broadcast the corpus, never shuffle it")
    assert(!lshSmall.contains("CartesianProduct"),
      "even the exact small-corpus scan must broadcast, not cartesian")
    // ABOVE the cap: the banded equi-join, never all-pairs
    import spark.implicits._
    val big = (0L until (graft.operators.IntKmeans.TrainCap + 200L))
      .map(i => (i, Seq.tabulate(8)(j => ((i * 31 + j) % 997).toFloat / 1e3f)))
      .toDF("vec_id", "embedding")
    val lshBig = formatted(graft.operators.IntKmeans.lshTopK(
      big, big.where(org.apache.spark.sql.functions.col("vec_id") < 3),
      "embedding", "vec_id",
      k = 5, dim = 8, seed = 42L))
    assert(lshBig.contains("SortMergeJoin") ||
      lshBig.contains("ShuffledHashJoin") ||
      lshBig.contains("BroadcastHashJoin"),
      "at-scale bucket join must be an equi-join")
    assert(!lshBig.contains("CartesianProduct") &&
      !lshBig.contains("BroadcastNestedLoopJoin"),
      "at-scale ANN must never plan an all-pairs join")
  }

  test("minhash near-dup candidates come from a band equi-join, never a cartesian") {
    val plan = formatted(queries.DedupOps.nearDupPairs(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must stay one band-bucket pass on (source, band_idx, band_key)")
    // the verify stage joins candidates to per-doc token sets by key
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"))
  }

  test("decontamination broadcasts the benchmark gram set (corpus never shuffles on gram)") {
    val plan = formatted(queries.DedupOps.d8Decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      "the small benchmark gram set must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("tf-idf: N rides a broadcast single-row join, wordcount aggs are partial") {
    val plan = formatted(queries.TextOps.t10TfIdf(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "the corpus-count scalar must broadcast, not collect")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      "token counts must map-side combine before the shuffle")
  }

  test("sequence packing windows are bucket-partitioned (no single-partition cumsum)") {
    val plan = formatted(queries.PackOps.p1PackSequences(spark, sf))
    assert(plan.contains("Window"))
    val windowLines = plan.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!plan.contains("SinglePartition"),
      "a global-order cumulative sum would funnel the corpus through one task:\n" + windowLines)
  }

  test("collocations: top-k is a TakeOrdered, N broadcasts, no cartesian") {
    val plan = formatted(queries.TextOps.t12Collocations(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-50 must plan as TakeOrdered, not a global sort + limit")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "the bigram-total scalar must broadcast, not collect")
    assert(!plan.contains("CartesianProduct"))
  }

  test("chunk windows: single scan, no shuffle at all") {
    val plan = formatted(queries.PackOps.p2ChunkWindows(spark, sf))
    assert(plan.contains("Generate"), "the window explode must be a Generate")
    // no exchange: the oracle-determinism orderBy reads its one-partition
    // input in place — and no join/aggregate shuffle exists
    val exchanges = plan.linesIterator
      .count(_.matches("""\(\d+\) Exchange.*"""))
    assert(exchanges === 0, s"expected no exchange, got:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashAggregate"))
  }

  test("simhash signatures: row-local, the executed plan has no exchange") {
    val df = queries.DedupOps.d3Simhash(spark, sf)
    assert(df.collect().nonEmpty) // executedPlan is now AQE's final plan
    assert(exchanges(df.queryExecution.executedPlan).isEmpty,
      df.queryExecution.executedPlan.toString)
  }

  /** The input node under each global sort of `plan`, looking through
    * codegen inputs, AQE shuffle reads and query stages. */
  private def sortInputs(plan: SparkPlan): Seq[SparkPlan] = {
    def under(p: SparkPlan): SparkPlan = p match {
      case i: InputAdapter => under(i.child)
      case r: AQEShuffleReadExec => under(r.child)
      case q: ShuffleQueryStageExec => under(q.plan)
      case other => other
    }
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case SortExec(_, true, child, _) => under(child)
    }
  }

  /** The exchange under each global sort of `plan`. */
  private def sortExchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    sortInputs(plan).collect { case e: ShuffleExchangeLike => e }

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeLike => e }

  private def initialPlan(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].initialPlan

  /** Runs `df`; the partitionings under the global sorts it executed. */
  private def sortPartitionings(df: org.apache.spark.sql.DataFrame): Seq[Partitioning] = {
    df.collect()
    sortExchanges(df.queryExecution.executedPlan).map(_.outputPartitioning)
  }

  private def isRange(p: Partitioning): Boolean = p.isInstanceOf[RangePartitioning]

  private def isOnePartition(p: SparkPlan): Boolean = p.nodeName == "OnePartition"

  // the lap queries whose global sort reads less than the 64k AQE floor:
  // over an aggregate's shuffle output, which is not one partition
  // before AQE coalesces it ...
  private val smallSortsOverShuffle = Seq("o5_split_assign", "d1_exact_dedup")
  // ... and over row-local operators on a one-partition scan (d6's is
  // the pinned labels relation)
  private val smallSortsInPlace = Seq("f5_catalog_find", "p2_chunk_windows",
    "t1_token_stats", "d3_simhash", "d6_dup_clusters")

  test("small global sorts shuffle to one partition, with no range partitioning") {
    smallSortsOverShuffle.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val executed = sortPartitionings(df)
      val plans = s"$q:\n${df.queryExecution.executedPlan}"
      assert(executed.nonEmpty && executed.forall(_ == SinglePartition), plans)
      assert(!exchanges(df.queryExecution.executedPlan)
        .exists(e => isRange(e.outputPartitioning)), plans)
    }
  }

  test("small global sorts over one partition read it with no exchange") {
    smallSortsInPlace.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plans = s"$q:\n${df.queryExecution.executedPlan}"
      // f5's sort input is empty at sf0.001, so AQE's empty-relation
      // propagation removes the executed sort and only the initial plan
      // shows it
      Seq(initialPlan(df), df.queryExecution.executedPlan).foreach { p =>
        assert(sortInputs(p).forall(isOnePartition), plans)
        assert(exchanges(p).forall(e => !isRange(e.outputPartitioning)), plans)
      }
      assert(sortInputs(initialPlan(df)).nonEmpty, plans)
    }
  }

  test("a sort with no exchange passes AQE's requirement check: its union's aggregate stays coalesced") {
    // AQE keeps a coalesced shuffle read only if the whole final stage
    // still meets every operator's distribution requirement, the sort's
    // included
    val sorted = spark.read.parquet(s"$sf/supplier.parquet")
      .select(org.apache.spark.sql.functions.col("s_suppkey").as("k"))
      .orderBy("k")
    val agg = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(org.apache.spark.sql.functions.col("o_custkey").as("k")).count()
      .select("k")
    val df = sorted.union(agg)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(sortInputs(plan).nonEmpty && sortInputs(plan).forall(isOnePartition), plan.toString)
    assert(new AdaptiveSparkPlanHelper {}.collect(plan) { case r: AQEShuffleReadExec => r }
      .exists(_.hasCoalescedPartition), plan.toString)
  }

  test("a small sort over a 3-file parquet directory keeps its SinglePartition exchange") {
    val dir = tempDir("graft-plan-spec-").resolve("three").toString
    spark.range(0, 300).selectExpr("(id * 7919) % 300 AS k", "id AS v")
      .repartition(3).write.parquet(dir)
    assert(spark.read.parquet(dir).rdd.getNumPartitions === 3)
    val df = spark.read.parquet(dir).orderBy("k")
    val parts = sortPartitionings(df)
    assert(parts.nonEmpty && parts.forall(_ == SinglePartition),
      df.queryExecution.executedPlan.toString)
    assert(df.collect().map(_.getLong(0)).toSeq === (0L until 300L))
  }

  test("the no-exchange sorts return the AQE-off rows in the AQE-off order") {
    smallSortsInPlace.foreach { q =>
      val off = Study.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
        SparkEntry.queries(q)(spark, sf).collect().toSeq
      }
      assert(SparkEntry.queries(q)(spark, sf).collect().toSeq === off, q)
    }
  }

  // with a range-partitioned sort each fired one more: f5 2, o5 4, d1 4,
  // p2 3, t1 3 (a first collect pays the one-time jobs); a SinglePartition
  // exchange still cost p2 and t1 a shuffle job each
  Seq("f5_catalog_find" -> 1, "o5_split_assign" -> 3, "d1_exact_dedup" -> 3,
      "p2_chunk_windows" -> 1, "t1_token_stats" -> 1).foreach { case (q, budget) =>
    test(s"$q: the small global sort fires no range-sampling job ($budget jobs)") {
      SparkEntry.queries(q)(spark, sf).collect()
      val df = SparkEntry.queries(q)(spark, sf)
      val jobs = JobLog.record(spark.sparkContext)(df.collect())._2
      assert(jobs.size <= budget, jobs.mkString("\n"))
    }
  }

  test("d6_dup_clusters: a warm read of the pinned labels is one job") {
    SparkEntry.queries("d6_dup_clusters")(spark, sf).collect()
    val df = SparkEntry.queries("d6_dup_clusters")(spark, sf)
    val jobs = JobLog.record(spark.sparkContext)(df.collect())._2
    assert(jobs.size <= 1, jobs.mkString("\n"))
  }

  test("s1_knn_bruteforce: the probe side skips the corpus repartition (4 jobs)") {
    SparkEntry.queries("s1_knn_bruteforce")(spark, sf).collect()
    val df = SparkEntry.queries("s1_knn_bruteforce")(spark, sf)
    val jobs = JobLog.record(spark.sparkContext)(df.collect())._2
    assert(jobs.size <= 4, jobs.mkString("\n"))
  }

  test("the pinned dup-labels relation reports its measured size") {
    val df = SparkEntry.queries("d6_dup_clusters")(spark, sf)
    df.collect()
    val sizes = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRDD => l.stats.sizeInBytes
    }
    // the optimizer's pre-pin estimate was tens of MB
    assert(sizes.size === 1 && sizes.head > 0 && sizes.head < (1 << 20), sizes)
  }

  test("a global sort above the AQE floor keeps its range partitioning") {
    val parts = Study.withConf(spark,
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      sortPartitionings(SparkEntry.queries("p2_chunk_windows")(spark, sf))
    }
    assert(parts.nonEmpty && parts.forall(isRange), parts)
  }

  test("the small-sort rule does nothing with AQE off or coalescing off") {
    Seq("spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled")
      .foreach { key =>
        val parts = Study.withConf(spark, key -> "false") {
          sortPartitionings(SparkEntry.queries("p2_chunk_windows")(spark, sf))
        }
        assert(parts.nonEmpty && parts.forall(isRange), s"$key: $parts")
      }
  }

  test("the small-sort rule leaves a user's repartitionByRange ranged") {
    val df = operators.Splits.assignImpl(spark.read.parquet(s"$sf/orders.parquet"),
      "o_orderkey", "plancheck", 0.8, 7L, materialize = false)
    df.collect()
    val ranged = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }
    assert(ranged.nonEmpty && ranged.forall(e => isRange(e.outputPartitioning)),
      df.queryExecution.executedPlan.toString)
    // a global sort straight over the user's range exchange keeps it too
    val sorted = spark.read.parquet(s"$sf/orders.parquet")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("o_orderkey"))
      .orderBy("o_orderkey")
    val parts = sortPartitionings(sorted)
    assert(parts.nonEmpty && parts.forall(isRange), sorted.queryExecution.executedPlan.toString)
  }

  test("salted skew join: build side replicates via Generate, join keys carry the salt") {
    val plan = formatted(queries.Relational.j10SkewJoin(spark, sf))
    assert(plan.contains("Generate"),
      "build-side salt replication must plan as a sequence explode")
    assert(plan.contains("__salt"),
      "the join must run on the salted key pair")
    assert(!plan.contains("CartesianProduct"))
  }

  test("sliding windows: no single-partition window, corpus collapses in a partial agg") {
    val df = queries.Extras.w7SlidingWindow(spark, sf)
    val plan = formatted(df)
    // the one single-partition exchange allowed is the small final
    // sort's (GraftExtensions.SmallSortSinglePartition)
    val funnels = exchanges(initialPlan(df)).filter(_.outputPartitioning == SinglePartition)
    assert(funnels.forall(sortExchanges(initialPlan(df)).contains),
      "the sliding-window agg must shuffle on (window, event_type), not funnel")
    assert(plan.contains("HashAggregate"),
      "overlapping windows must aggregate, not window-function, the corpus")
  }

  test("incremental minhash probe: history rides the checkpoint, only the batch is scanned") {
    operators.SessionTable.invalidate()
    queries.DedupOps.d14IncrementalMinhash(spark, sf) // populate the store
    val plan = formatted(queries.DedupOps.d14IncrementalMinhash(spark, sf))
    // the batch side scans parquet (its subtrees unify at runtime via
    // exchange reuse); the HISTORY side must ride the checkpointed
    // table — its defining NOT-batch filter may never reappear as a
    // recompute, and an RDD scan must be present
    assert(!plan.contains("NOT (pmod"),
      s"history side recomputed its filter instead of riding the checkpoint:\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"no checkpointed history scan in the plan:\n$plan")
  }

  test("edit-distance join: equi-join candidates, never a cartesian or nested loop") {
    val plan = formatted(queries.DedupOps.d16EditdistJoin(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      "PassJoin exists to avoid the O(N²) pair space")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must be an equi-join on segment keys")
  }

  // formatted explain prints every node twice (tree + numbered detail)
  // — count the detail headers / Arguments lines, which appear exactly
  // once per physical node.
  private def nScans(plan: String): Int =
    "\\(\\d+\\) Scan parquet".r.findAllIn(plan).length
  private def nHashExchanges(plan: String): Int =
    "Arguments: hashpartitioning".r.findAllIn(plan).length

  test("cube plans as one Expand + hash aggregates, not one scan per grouping set") {
    val plan = formatted(queries.Relational.a11Cube(spark, sf))
    assert(plan.contains("Expand"),
      "CUBE must expand grouping sets inline")
    assert(nScans(plan) === 1,
      "all four grouping sets must share a single orders scan")
    assert(nHashExchanges(plan) === 1,
      "all four grouping sets must ride one keyed shuffle")
  }

  test("SCD2 windows share one customer-key shuffle") {
    val plan = formatted(queries.Relational.u5Scd2Merge(spark, sf))
    assert(!plan.contains("SinglePartition"),
      "change-fold windows must stay keyed by o_custkey")
    assert(plan.contains("hashpartitioning(o_custkey"))
    // lag and lead ride the same sort order: exactly one hash exchange
    assert(nHashExchanges(plan) === 1,
      s"expected ONE keyed shuffle for both windows:\n$plan")
  }

  test("time-weighted average: window and agg share the user_id partitioning") {
    val plan = formatted(queries.Extras.w8TimeWeighted(spark, sf))
    assert(!plan.contains("SinglePartition"))
    assert(nHashExchanges(plan) === 1,
      s"lead window and weighted agg must reuse one user_id shuffle:\n$plan")
  }

  test("z-order layout: dim stats broadcast, one bucket-agg shuffle") {
    val plan = formatted(queries.Extras.z1ZorderLayout(spark, sf))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the 1-row dim-stats must broadcast onto the scan")
    assert(nHashExchanges(plan) === 1,
      s"the interleave must stay stateless: only the bucket agg shuffles:\n$plan")
  }

  test("keyword extraction: rank window prunes via WindowGroupLimit, no SinglePartition") {
    val plan = formatted(queries.TextOps.t16Keywords(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"the kw_rank <= 3 predicate must prune group buffers before the sort:\n$plan")
    // the rank window must partition by doc_id (the scalar count(*)
    // agg's own 1-row SinglePartition exchange is benign)
    assert(plan.contains("windowspecdefinition(doc_id"),
      s"rank window must be keyed by doc_id:\n$plan")
  }

  test("DSIR weights: model and constants broadcast, corpus never nested-loops on itself") {
    val plan = formatted(queries.TextOps.t17DsirWeights(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      "the vocab²-bounded model side must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("event transitions: lag window keyed by user, normalize window keyed by prev_type") {
    val plan = formatted(queries.Extras.w9Transitions(spark, sf))
    assert(!plan.contains("SinglePartition"),
      s"no window may collapse to one partition:\n$plan")
  }

  test("mix gap: corpus collapses in one source agg, totals broadcast") {
    val plan = formatted(queries.PackOps.m13MixGap(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "the 1-row totals must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("ngram novelty: gram-keyed equi-join, no cartesian, no single-partition window") {
    val plan = formatted(queries.TextOps.t18NgramNovelty(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the owner join must stay a gram-keyed equi-join:\n$plan")
    assert(!plan.contains("SinglePartition"))
  }

  test("k-means summary: one cell-keyed agg over the GEMM assignment scan") {
    val plan = formatted(
      queries.SimilarityOps.c1KmeansSummary(spark, sf))
    assert(plan.contains("MapPartitions"), "assignment must be the batched-GEMM map")
    assert(plan.contains("BroadcastExchange"), "the k-row centroid table must broadcast")
    assert(!plan.contains("SinglePartition"))
  }
}
