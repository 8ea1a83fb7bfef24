package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Cache hygiene over the WHOLE registered query surface:
  *
  *  1. no query leaves `Dataset.persist` entries in the cache manager —
  *     neither at build time nor after materialization (a long-lived
  *     session running queries in a loop must not accumulate cached
  *     plans; operators that pin a shuffle internally, e.g.
  *     `Splits.assign`, must release it before returning);
  *  2. the dedup family's query BUILDERS are side-effect free — they
  *     run zero Spark jobs before the caller's first action (their
  *     shared intermediates are lazy `localCheckpoint(false)`, not
  *     eager); iterative/driver-control operators (d6 connected
  *     components, o5 prefix-sum split, s3 Lloyd rounds) are exempt by
  *     nature and listed explicitly;
  *  3. localCheckpoint blocks are GC-managed: once results are
  *     unreachable, a GC cycle lets the ContextCleaner drain
  *     `getPersistentRDDs` back to empty.
  */
class CacheHygieneSpec extends AnyFunSuite {

  // getOrCreate shares the suite JVM's session: other suites may have
  // left cache entries / persisted RDDs behind. This spec's claim is
  // about the QUERY SURFACE, so it starts from a clean cache and
  // asserts relative to a persistent-RDD baseline snapshot.
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
      .getOrCreate()
    s.sharedState.cacheManager.clearCache()
    s
  }

  private val sf = "/root/testdata/sf0.001"

  /** Builders allowed to run jobs at build time: genuinely iterative
    * or driver-coordinated control flow (converged loops / prefix
    * sums), where laziness is impossible by construction. */
  private val eagerByNature = Set(
    "d6_dup_clusters",  // union-find roots collected and merged on the driver
    "d13_keep_best",    // builds on d6's union-find clusters
    "d18_dedup_weights", // builds on d6's union-find clusters
    "o11_cluster_split", // builds on d6's union-find clusters
    "o5_split_assign",  // partition-count collect + prefix sum
    "s2_ann_lsh",       // adaptivePlanes sizes nPlanes from a count()
    "s3_ann_ivf",       // Lloyd iterations for the IVF centroids
    "s4_ann_ivfpq",     // PQ codebook training at build
    "s6_pca_project",   // covariance treeReduce at fit time
    "c1_kmeans_summary", // Lloyd iterations for the cluster centroids
    "d10_semdedup",     // Lloyd iterations for the SemDeDup quantizer
    "d12_bloom_dedup",  // Bloom filter build over the corpus windows
    "mm2_image_phash",  // (id, pHash) signature table pinned at build
                        // so the JPEG decode pass runs once (r16)
    "d16_editdist_join", // bounded (id, s) relation pinned at build —
                        // four consumers re-ran the text scan (r17)
    "m6_materials_e2e", // cfgs/cfgAtoms pinned at build — four
                        // branches re-ran the substitution chain (r16)
    "d14_incremental_minhash", // history signature table materialized at build
    "j10_skew_join",    // bounded top-k hot-key detection pass at build
    "m7_curation",      // staged curation runner (per-stage counts)
    "m10_quality_classifier", // L-BFGS training iterations at fit time
    "m15_nb_quality",   // O(1) class-count collection at model build
    "p1_pack_sequences", // global-offset prefix sum (max id + bucket sums)
    "s9_aflux",         // canned multi-page ingest assembles a local fixture
    "m12_embedding_filter", // seed-centroid aggregation at build
    "t14_bpe_train",    // capped-sample merge learning at build
    "t19_bpe_encode",   // capped-sample merge learning at build
    "p3_curriculum",    // bucket-count prefix sum at build (the o5/p1 shape)
    "p4_shard_manifest", // composes p3's bucket-count prefix sum
    "sk3_heavy_hitters", // per-source CMS blobs collected + merged at build
    "sk4_theta_intersect", // per-source theta sketches collected at build
    "v18_compact",      // commits + binpack compaction at build
    "v17_bloom",        // commits + bloom-probed DML/select at build
    "v16_dv",           // commits + DV delete/update + OPTIMIZE at build
    "v15_clone",        // commits + zero-copy clone + divergence at build
    "v13_widen",        // commits + widening ALTERs + per-step aggs at build
    "v14_rename",       // commits + rename/drop/re-add + per-step aggs at build
    "v1_time_travel",   // versioned-table commits + per-version 1-row collects at build
    "v6_cdf_apply",     // versioned-table commits + CDF reconstruction at build
    "v2_merge_upsert",  // commit/merge/delete pipeline at build (same shape)
    "v3_source_read",   // commits + DSv2 reads collected at build
    "v4_change_feed",   // commits + CDC aggregate collected at build
    "v5_schema_evolution", // commits + evolved read collected at build
    "v7_merge_composite", // composite-key merge pipeline at build (v2 shape)
    "v8_partitioned",   // partitioned commits + pruned reads at build
    "v9_sql_merge",     // SQL MERGE/DELETE pipeline at build (v2 shape)
    "v10_create",       // CTAS + fresh-path saves + SQL merge at build
    "v11_cdc_replicate", // commit/merge/CDC-apply replication at build
    "v12_convert",      // in-place adoption + COW delete at build
    "m10_logistic_det"  // fixed-point GD iterations at fit time
  )

  test("no registered query leaves cache-manager entries behind") {
    // s9_aflux's only input is the reference's canned AFLUX response
    // (FIXTURES.md §A6), outside the repository: checked where present
    val afluxFixture = java.nio.file.Files.exists(
      java.nio.file.Paths.get(graft.sources.Aflux.PaperFixture))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n != "s9_aflux" || afluxFixture)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a Dataset.persist entry behind at BUILD time")
      df.write.format("noop").mode("overwrite").save()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a Dataset.persist entry behind after running")
    }
  }

  test("query builders run no Spark jobs before the first action") {
    // Parquet footer/schema reads at plan-build time (`spark.read
    // .parquet`, callSite "parquet at Tables.scala") are inherent to
    // DataFrame construction and metadata-sized — they don't count as
    // "running the query early". Everything else does.
    @volatile var jobs = List.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        if (!site.startsWith("parquet at")) jobs ::= site
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        if (!eagerByNature(name)) {
          Thread.sleep(50) // let the async listener bus settle
          jobs = Nil
          fn(spark, sf) // build only — no action
          Thread.sleep(50)
          assert(jobs.isEmpty,
            s"$name ran ${jobs.size} Spark job(s) during BUILD: $jobs")
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("localCheckpoint blocks drain via the ContextCleaner after GC") {
    // Other suites in this JVM may hold persisted RDDs via live
    // references; this test asserts only that NOTHING NEW survives —
    // materialize the checkpoint-heaviest queries, drop every
    // reference, then GC until the cleaner has unpersisted the blocks.
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Seq("d2_minhash_pairs", "d4_ngram_jaccard", "d16_editdist_join")
      .foreach(n =>
        SparkEntry.queries(n)(spark, sf)
          .write.format("noop").mode("overwrite").save())
    def leftover =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- baseline
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var drained = leftover.isEmpty
    while (!drained && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
      drained = leftover.isEmpty
    }
    assert(drained,
      "localCheckpoint blocks still pinned 30s after results became " +
        s"unreachable: ${leftover.toSeq.sorted}")
  }
}
