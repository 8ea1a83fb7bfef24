package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload is named by the modules that register its queries. The
  * lap is the fixed set of operations every run times; the registered
  * queries outside the lap are listed in the run record, never dropped
  * silently. `warmupLaps` untimed laps (about 3 s) run before the timed
  * ones: after the set-ups and the check pass the JIT is still compiling
  * the engine, and a run's first warm lap was ~10% slower than the next. */
final case class Workload(name: String, modules: Seq[String],
    registered: Seq[String], tables: Seq[String], lap: Seq[String],
    alIters: Int, warmupLaps: Int)

object Workloads {
  type Builder = (SparkSession, String) => DataFrame

  /** Queries no run can attempt, with the reason. */
  val skipped: Map[String, String] = {
    val seedFixture = "reads the engine's fixtures/*.parquet through " +
      "graft.sources.SeedFixture's absolute path, which exists only in " +
      "the development checkout, not in a benchmark checkout"
    Map("s9_aflux" -> ("reads the AFLOW paper fixture " +
      "tests/files/aflow/data.json of the reference project, which is " +
      "not in this repository; it returns when the file is added")) ++
      Seq("g13_supercell", "g1_enum_sampled", "g1_enumerated",
        "g2_substitution", "g3_vacancy", "g4_distortion", "g8_hessian_eigen",
        "g9_prototypes", "m6_materials_e2e").map(_ -> seedFixture)
  }

  private def keys(mods: (String, Map[String, Builder])*)
      : (Seq[String], Seq[String]) =
    (mods.map(_._1), mods.flatMap(_._2.keys).sorted)

  def apply(name: String): Workload = name match {
    case "materials" =>
      val (m, r) = keys(
        "queries.Relational" -> graft.queries.Relational.queries,
        "queries.Extras" -> graft.queries.Extras.queries,
        "queries.MaterialsOps" -> graft.queries.MaterialsOps.queries,
        "sources.Aflux" -> graft.sources.Aflux.queries)
      // aggregate (q1), join (j3), split (o5) and catalog (f5): short
      // queries whose time is mostly driver, planning and scheduling,
      // next to one active-learning iteration
      Workload(name, m, r, Seq("lineitem", "orders", "customer", "nation",
        "region", "supplier"), Seq("q1_pricing_summary",
        "j3_revenue_by_region", "o5_split_assign", "f5_catalog_find"),
        alIters = 1, warmupLaps = 1)
    case "curation" =>
      val (m, r) = keys(
        "queries.DedupOps" -> graft.queries.DedupOps.queries,
        "queries.SimilarityOps" -> graft.queries.SimilarityOps.queries,
        "queries.TextOps" -> graft.queries.TextOps.queries,
        "queries.PackOps" -> graft.queries.PackOps.queries)
      // d6 reads the dup-labels SessionTable, built in each cold lap;
      // d1 is an exact-dedup shuffle; one query each from the
      // similarity, text and packing modules
      Workload(name, m, r, Seq("documents", "embeddings"), Seq(
        "d6_dup_clusters", "d1_exact_dedup", "s1_knn_bruteforce",
        "t1_token_stats", "p2_chunk_windows"), alIters = 0, warmupLaps = 4)
    case "lake" =>
      val (m, r) = keys(
        "sources.Versioned" -> graft.sources.Versioned.queries)
      // not in BENCHMARK.json: its warm lap alone takes ~16 s at 4 cores
      Workload(name, m, r, Seq("documents"), Seq("v1_time_travel",
        "v2_merge_upsert", "v4_change_feed", "v11_cdc_replicate", "v16_dv",
        "v18_compact"), alIters = 0, warmupLaps = 1)
    case other => sys.error(s"unknown workload '$other' " +
      "(expected materials, curation or lake)")
  }
}
