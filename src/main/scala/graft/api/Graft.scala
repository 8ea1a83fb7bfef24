package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stable public facade of the graft engine — the library surface a
  * user consumes on their OWN tables, independent of the bench/oracle
  * fixture harness. Every method is a thin delegation to the kernel
  * that backs the corresponding query-surface entry (named in each
  * scaladoc as `qid:`), so the facade can never drift from the
  * oracle-checked behavior; column contracts are spelled out per
  * family.
  *
  * Quickstart (the README walk-through): given `docs(doc_id: long,
  * text: string)` —
  *
  * {{{
  * import graft.api.Graft
  * val sig    = Graft.dedup.minhashSignatures(docs, "doc_id", "text")
  * val pairs  = Graft.dedup.minhashCandidatePairs(sig, "doc_id", threshold = 0.75)
  * val labels = Graft.dedup.clusterLabels(
  *   pairs.select($"id_a" as "doc_a", $"id_b" as "doc_b"),
  *   docs.select($"doc_id"))
  * val split  = Graft.dedup.clusterSplit(labels)   // leakage-safe train/holdout/test
  * }}}
  *
  * Scale notes live on the kernels themselves (each scaladoc states
  * its shuffle shape); nothing here adds work — calling through the
  * facade builds the same plan as calling the kernel.
  */
object Graft {

  // ------------------------------------------------------------------
  /** Deduplication family — contracts: documents are `(id, text)`;
    * pair relations are `(doc_a, doc_b)`; label relations are
    * `(doc_id, cluster_id)`. */
  object dedup {
    import graft.queries.DedupOps

    /** qid: d1_exact_dedup — one keeper (min id) per exact content
      * hash; one shuffle on the hash. */
    def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      DedupOps.exactDedupOf(docs, idCol, textCol)

    /** qid: d2_minhash_lsh — MinHash signatures + LSH band keys per
      * document. `materialize = true` is the persisted-signature-table
      * surface for corpus snapshots. */
    def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
        k: Int = 16, bands: Int = 2, shingleN: Int = 3,
        materialize: Boolean = false): DataFrame =
      graft.operators.MinHash.signatures(docs, idCol, textCol, k, bands,
        shingleN, materialize)

    /** qid: d2_minhash_pairs — banded candidate pairs `(id_a, id_b,
      * est_jaccard)` from a signature table: one shuffle on the band
      * keys, each bucket's pairs verified inside its partition, never
      * doc×doc. Band buckets over `maxBucket` members (boilerplate
      * mega-buckets) star-pair to their min-id representative instead
      * of emitting n² pairs — cluster semantics preserved, adversarial
      * corpora bounded (SCALING §8). */
    def minhashCandidatePairs(sig: DataFrame, idCol: String, k: Int = 16,
        bands: Int = 2, threshold: Double = 0.75,
        maxBucket: Int = graft.operators.MinHash.DefaultMaxBucket): DataFrame =
      graft.operators.MinHash.candidatePairs(sig, idCol, k, bands, threshold,
        maxBucket)

    /** qid: d14_incremental_minhash — probe a signature batch against
      * a (materialized) history signature table; cost is proportional
      * to the batch. */
    def incrementalMinhashProbe(batch: DataFrame, history: DataFrame): DataFrame =
      DedupOps.incrementalProbeOf(batch, history)

    /** qid: d3_simhash — 64-bit SimHash over `(doc_id, text)`: one
      * row `(doc_id, n_tok, simhash, band0..band3)` per input row with
      * non-null text, computed row-locally (no shuffle). `doc_id` is
      * expected unique; rows sharing a `doc_id` are not merged. */
    def simhash(docs: DataFrame): DataFrame = DedupOps.simhash64Of(docs)

    /** qid: d6_dup_clusters — connected-component labels `(doc_id,
      * cluster_id = component minimum)` from a pair list + id universe.
      * One Spark job: a union-find per pair partition, merged on the
      * driver, which holds one entry per document that has a pair.
      * Both pair columns and `universe.doc_id` must be integral types
      * (a `require` names the offending column). At scale, persist
      * the result once per corpus snapshot and join it from every
      * consumer (keepBest / dedupWeights / clusterSplit). */
    def clusterLabels(pairs: DataFrame, universe: DataFrame): DataFrame =
      graft.operators.DupClusters.computeLabels(pairs, universe)

    /** qid: d13_keep_best — per-cluster survivorship: keep the
      * highest-quality member (`quality` = `(doc_id, quality)`),
      * ties to the smallest id. */
    def keepBest(labels: DataFrame, quality: DataFrame): DataFrame =
      DedupOps.keepBestOf(labels, quality)

    /** qid: d18_dedup_weights — dropless SoftDeDup: every cluster
      * member keeps weight 1e6/|cluster| micro-units. */
    def dedupWeights(labels: DataFrame): DataFrame =
      DedupOps.dedupWeightsOf(labels)

    /** qid: o11_cluster_split — leakage-safe train/holdout/test audit
      * keyed on the CLUSTER (every near-dup lands in one split). */
    def clusterSplit(labels: DataFrame): DataFrame =
      DedupOps.clusterSplitOf(labels)

    /** qid: d11_window_dedup — exact k-token-window dedup verdicts
      * over `(doc_id, text)`. */
    def windowDedup(docs: DataFrame, k: Int): DataFrame =
      DedupOps.windowDedupOf(docs, k)

    /** qid: d15_substring_strip — remove every k-token window already
      * seen (lowest doc, leftmost position wins). */
    def substringStrip(docs: DataFrame, k: Int): DataFrame =
      DedupOps.substringStripOf(docs, k)

    /** qid: d12_bloom_dedup — incremental ingest dedup: incoming docs
      * probe a Bloom filter built once over the corpus history. */
    def bloomDedup(corpus: DataFrame, incoming: DataFrame, k: Int,
        fpp: Double = 0.01): DataFrame =
      DedupOps.bloomDedupOf(corpus, incoming, k, fpp)

    /** qid: d10_semdedup — SemDeDup over `(id, vector)`: integer-
      * Lloyd clusters + within-cell cosine-to-earlier-id verdicts at
      * `tau` (cross-engine deterministic, see operators/IntKmeans;
      * same ~unit-scale input precondition as similarity.ivfTopK). */
    def semDedup(emb: DataFrame, vCol: String, idCol: String, nlist: Int,
        tau: Double, iters: Int = 2, seed: Long = 42L): DataFrame =
      graft.operators.Similarity.semDedup(emb, vCol, idCol, nlist, tau,
        iters, seed)
  }

  // ------------------------------------------------------------------
  /** Similarity / embedding family — vectors are `array<float|double>`
    * columns beside a numeric id. */
  object similarity {
    import graft.operators.Similarity

    /** qid: s2_ann_lsh — LSH-bucketed approximate top-k with 1-bit
      * multiprobe; brute-force recall is spec-pinned. */
    def annTopK(corpus: DataFrame, queries: DataFrame, vCol: String,
        idCol: String, k: Int, nPlanes: Int, seed: Long, dim: Int): DataFrame =
      Similarity.annTopK(corpus, queries, vCol, idCol, k, nPlanes, seed, dim)

    /** Float-Lloyd IVF-Flat top-k (capped-sample quantizer,
      * batched-GEMM assignment, per-cell candidates) — the general
      * library kernel; `ivfTopK` below is its cross-engine-
      * deterministic twin. */
    def ivfTopKFloat(corpus: DataFrame, queries: DataFrame, vCol: String,
        idCol: String, k: Int, nlist: Int, nprobe: Int, iters: Int = 2,
        seed: Long = 42L): DataFrame =
      Similarity.Ivf.topK(corpus, queries, vCol, idCol, k, nlist, nprobe,
        iters, seed)

    /** qid: s3_ann_ivf — deterministic integer IVF-Flat top-k: every
      * quantizer/probe/rerank decision is exact integer arithmetic,
      * so results replay bit-for-bit across engines and versions.
      * Input-scale precondition (applies to every Int* deterministic
      * kernel): vectors must be ~unit scale — the bit-for-bit
      * guarantee needs every quantized product/partial sum below
      * 2^52 (|x| ≤ maxExactQ(dim)/1e4, ≈ 26 for 64-dim); the kernel
      * validates the training sample and fails loudly on violation
      * (IntKmeans.sampleTrain).
      *
      * `nprobe = 0` (the default since round 16) is AUTO: probe
      * GREATEST(4, nlist/16) cells, widened to ≥ nlist/4 below the
      * small-corpus line (N < 8192) where narrow probes only cost
      * recall — DEFAULT calls hold recall@10 ≥ 0.8 at every measured
      * rung (bench/ann_recall.json). Explicit nprobe ≥ 1 keeps the
      * caller's count (still small-corpus-widened, the pqTopK rule
      * since round 13). */
    def ivfTopK(corpus: DataFrame, queries: DataFrame, vCol: String,
        idCol: String, k: Int, nlist: Int, nprobe: Int = 0,
        iters: Int = 2, seed: Long = 42L): DataFrame =
      graft.operators.IntKmeans.topK(corpus, queries, vCol, idCol, k,
        nlist, nprobe, iters, seed)

    /** qid: s4_ann_ivfpq — deterministic integer IVF-PQ top-k (ADC
      * shortlist + exact cosine rerank; codes/tables exact ints).
      * Same ~unit-scale input precondition as `ivfTopK`. */
    def pqTopK(corpus: DataFrame, queries: DataFrame, vCol: String,
        idCol: String, k: Int, nlist: Int, m: Int = 8, ksub: Int = 16,
        nprobe: Int = 0, iters: Int = 2, seed: Long = 42L): DataFrame =
      graft.operators.IntKmeans.pqTopK(corpus, queries, vCol, idCol, k,
        nlist, m, ksub, nprobe, iters, seed)

    /** qid: s2_ann_lsh — deterministic sign-projection LSH top-k
      * (hash-derived ±1 planes, exact integer projections). Same
      * ~unit-scale input precondition as `ivfTopK` (the cosine rerank
      * squares quantized values).
      *
      * `probeHamming = 0` (the default since round 15) means AUTO:
      * the plane count is capped and the multiprobe radius derived
      * from corpus size so DEFAULT calls hold recall across scales —
      * BEHAVIOR CHANGE from the pre-r15 default of fixed 1-bit
      * multiprobe; callers wanting the old behavior pin
      * `probeHamming = 1`. Any value ≥ 1 is an explicit fixed
      * Hamming-ball radius. */
    def lshTopK(corpus: DataFrame, queries: DataFrame, vCol: String,
        idCol: String, k: Int, dim: Int, seed: Long = 42L,
        probeHamming: Int = 0): DataFrame =
      graft.operators.IntKmeans.lshTopK(corpus, queries, vCol, idCol, k,
        dim, seed, probeHamming)

    /** qid: c1_kmeans_summary — per-cluster sizes + exact integer
      * inertia (q8 units) from the deterministic integer Lloyd. */
    def kmeansSummary(emb: DataFrame, idCol: String, vCol: String,
        k: Int, iters: Int = 10, seed: Long = 42L): DataFrame =
      graft.queries.SimilarityOps.kmeansSummaryOf(emb, idCol, vCol, k,
        iters, seed)

    /** Float PCA projection — treeReduce covariance fit + projection
      * (fit is O(d²) driver traffic regardless of corpus size). */
    def pcaProject(df: DataFrame, idCol: String, vCol: String,
        nComponents: Int): DataFrame =
      graft.operators.Pca.project(df, idCol, vCol,
        graft.operators.Pca.fit(df, vCol, nComponents))

    /** qid: s6_pca_project — the cross-engine-deterministic integer
      * twin (quantized scatter, power iteration + Hotelling
      * deflation, all Long math): same one-pass O(d²)-driver-traffic
      * shape, but the projection replays bit-for-bit in SQL. */
    def pcaProjectDeterministic(df: DataFrame, idCol: String,
        vCol: String, nComponents: Int, iters: Int = 24,
        seed: Long = 7L): DataFrame =
      graft.operators.IntPca.project(df, idCol, vCol,
        graft.operators.IntPca.fit(df, idCol, vCol, nComponents, iters,
          seed))

    /** Adaptive IVF cell count: clamp(4·⌈√N⌉, [16, 65536]). */
    def adaptiveNlist(n: Long): Int = Similarity.adaptiveNlist(n)
  }

  // ------------------------------------------------------------------
  /** Sketch family (r8) — the cross-engine-deterministic sketches:
    * every estimate is exact md5-derived integer arithmetic, so
    * sketch STATE and results replay bit-for-bit across engines,
    * versions, and partitionings, and per-key state is fixed-size
    * and losslessly mergeable (registers: per-bucket MAX for HLL,
    * cell-wise SUM for CMS, re-applied bottom-k for quantiles). */
  object sketches {
    import graft.operators.{DetCms, DetHll, DetQuantiles}

    /** qid: sk1_approx_distinct — per-key HLL register table from a
      * token column; ≤ 4096 rows per key at any corpus size. */
    def hllRegisters(df: DataFrame, keys: Seq[String],
        tok: Column): DataFrame =
      DetHll.registers(df, keys, tok)

    /** Fold (possibly merged) registers to the deterministic
      * estimate: (keys..., <approxName>, hll_empty, hll_sum_q40). */
    def hllEstimate(regs: DataFrame, keys: Seq[String],
        approxName: String = "approx"): DataFrame =
      DetHll.estimate(regs, keys, approxName)

    /** qid: sk3_heavy_hitters — deterministic CMS heavy hitters over
      * a `(source, text)` relation at support φ = phiMicro/10⁶. */
    def heavyHitters(docs: DataFrame, phiMicro: Long): DataFrame =
      DetCms.heavyHittersOf(docs, phiMicro)

    /** CMS register table from an exact `(token, n)` count relation
      * — additive across sources/batches. */
    def cmsRegisters(counts: DataFrame): DataFrame =
      DetCms.registers(counts)

    /** Min-count estimates for `cand(token)` rows against a CMS
      * register table. */
    def cmsEstimate(cand: DataFrame, regs: DataFrame): DataFrame =
      DetCms.estimate(cand, regs)

    /** qid: a9_quantiles_approx — deterministic bottom-k sample
      * quantiles of `value` per `group` (`id` a unique row key). */
    def sampleQuantiles(df: DataFrame, group: String, value: String,
        id: Column, k: Int = DetQuantiles.K): DataFrame =
      DetQuantiles.quantiles(df, group, value, id, k)
  }

  // ------------------------------------------------------------------
  /** Text-curation family — documents are `(doc_id, text)` unless
    * noted; scores quantize to micro-units for cross-engine parity. */
  object text {
    import graft.queries.TextOps

    /** qid: t2_quality_score — stopword-ratio + length-saturation
      * quality with the shared bin rule (the single source of truth
      * m10/m14/o10 also consume). */
    def qualityScore(docs: DataFrame): DataFrame =
      TextOps.qualityScoreOf(docs)

    /** qid: t10_tfidf_capped — TF-IDF with a min-df floor so the
      * model side stays on the Zipf head. */
    def tfidf(docs: DataFrame, minDf: Long): DataFrame =
      TextOps.tfidfCappedOf(docs, minDf)

    /** qid: t11_lm_xent_capped — unigram LM cross-entropy quality
      * signal with a min-count floor. */
    def lmCrossEntropy(docs: DataFrame, minCount: Long): DataFrame =
      TextOps.lmXentCappedOf(docs, minCount)

    /** qid: t16_keywords — per-doc top-k TF-IDF keywords
      * (WindowGroupLimit rank pruning). */
    def keywords(docs: DataFrame, topK: Int): DataFrame =
      TextOps.keywordsOf(docs, topK)

    /** qid: t17_dsir — DSIR importance weights toward a target slice
      * given by `targetPred` over the doc row. */
    def dsirWeights(docs: DataFrame, targetPred: Column): DataFrame =
      TextOps.dsirWeightsOf(docs, targetPred)

    /** qid: t18_novelty — per-doc fraction of n-grams unseen in any
      * earlier (smaller-id) document. */
    def ngramNovelty(docs: DataFrame, n: Int): DataFrame =
      TextOps.ngramNoveltyOf(docs, n)

    /** qid: t13_gopher_rules — Gopher-style repetition/length/stop
      * gates, one boolean per rule. */
    def gopherRules(docs: DataFrame): DataFrame =
      TextOps.gopherRulesOf(docs)

    /** qid: t12_collocations — PMI collocation mining over adjacent
      * token pairs. */
    def collocations(docs: DataFrame): DataFrame =
      TextOps.collocationsOf(docs)

    /** qid: m15_nb_quality — discretized Naive Bayes quality
      * classifier (closed-form integer counts, deterministic; the
      * oracle-checkable sibling of the MLlib m10 surface). */
    def nbQualityClassifier(docs: DataFrame): DataFrame =
      graft.fit.QualityModel.nbClassifierOf(docs)
  }

  // ------------------------------------------------------------------
  /** Packing / mixture family — inputs carry `(source, doc_id, text)`
    * unless noted. */
  object pack {
    import graft.queries.PackOps

    /** qid: p2_chunk_windows — fixed-window/stride chunking with
      * exact tail handling. */
    def chunkWindows(docs: DataFrame, win: Int, stride: Int): DataFrame =
      PackOps.chunkWindowsOf(docs, win, stride)

    /** qid: m9_mix_plan — per-source target shares → sampling plan. */
    def mixPlan(docs: DataFrame): DataFrame = PackOps.mixPlanOf(docs)

    /** qid: m13_mix_gap — achieved-vs-target mixture gap report. */
    def mixGap(docs: DataFrame): DataFrame = PackOps.mixGapOf(docs)

    /** qid: m11_mix_execute — deterministic keyed-digest downsample
      * executing the m9 plan. */
    def mixExecute(docs: DataFrame): DataFrame = PackOps.mixExecuteOf(docs)

    /** qid: m7_curation / shard manifests — deterministic shard
      * manifest with per-shard token accounting. */
    def shardManifest(docs: DataFrame): DataFrame =
      PackOps.shardManifestOf(docs)
  }

  // ------------------------------------------------------------------
  /** Split / sampling family. */
  object splits {
    /** qid: o5_split_assign — reproducible train/holdout/test
      * assignment by keyed digest + scale-safe range-partitioned rank
      * (no single-partition global window). */
    def assign(df: DataFrame, idCol: String, splitName: String,
        trainFrac: Double, seed: Long): DataFrame =
      graft.operators.Splits.assign(df, idCol, splitName, trainFrac, seed)

    /** Persist an assignment (id → split) for exact replay. */
    def persist(assign: DataFrame, path: String): Unit =
      graft.operators.Splits.persistAssignment(assign, path)

    /** Re-apply a persisted assignment to a table. */
    def apply(df: DataFrame, idCol: String, assignment: DataFrame,
        split: String): DataFrame =
      graft.operators.Splits.apply(df, idCol, assignment, split)
  }

  // ------------------------------------------------------------------
  /** Materials-domain family — the reference engine's own surface:
    * seed configurations flow as `Dataset[graft.core.Config]` (the
    * atom-level row type), generators are per-seed flatMaps (the
    * seed table is the unit of parallelism — SCALING rule 7), and
    * the relational outputs mirror the oracle-checked g-family
    * queries. Deterministic under a pinned `ranSeed`. */
  object materials {
    import org.apache.spark.sql.Dataset
    import graft.core.Config
    import graft.generators.{Enumerated, Generators, Hessian, Prototypes}

    /** The committed AgPd seed pair as a Dataset (qid feeds
      * g2/g3/g4/g13/m6). */
    def seeds(spark: SparkSession): Dataset[Config] =
      graft.pipeline.MaterialsPipeline.seedDs(spark)

    /** qid: g2_substitution — stoichiometric site substitution,
      * content-hash-deduped per seed. */
    def substitution(seeds: Dataset[Config], stoich: Map[String, Double],
        nconfigs: Int, ranSeed: Long): Dataset[Config] = {
      import seeds.sparkSession.implicits._
      seeds.flatMap(c => Generators.substitution(c, stoich, nconfigs, ranSeed))
    }

    /** qid: g3_vacancy — exhaustive-then-capped vacancy generation. */
    def vacancy(seeds: Dataset[Config], vacPerAtom: Double, nconfigs: Int,
        ranSeed: Long): Dataset[Config] = {
      import seeds.sparkSession.implicits._
      seeds.flatMap(c =>
        Generators.vacancy(c, vacPerAtom, nconfigs, ranSeed))
    }

    /** qid: g4_distortion — random-strain + rattle generation. */
    def distortion(seeds: Dataset[Config], nconfigs: Int, covDiag: Double,
        volumeFactor: Double, rattle: Double,
        ranSeed: Long): Dataset[Config] = {
      import seeds.sparkSession.implicits._
      seeds.flatMap(c => Generators.distortion(c, nconfigs, covDiag,
        volumeFactor, rattle, ranSeed))
    }

    /** qid: g13_supercell — diagonal/HNF supercell expansion. */
    def supercell(seeds: Dataset[Config], spec: Seq[Int]): Dataset[Config] = {
      import seeds.sparkSession.implicits._
      seeds.map(c => Generators.supercell(c, spec))
    }

    /** qid: g1_enumerated — Hart–Forcade derivative-superstructure
      * enumeration, distributed over the (size × HNF-class) grid.
      * Output: (size, hnf_index, labeling, uuid, symbols). */
    def enumerate(spark: SparkSession, lattice: String, a: Double,
        species: Seq[String], minSize: Int, maxSize: Int): DataFrame = {
      import spark.implicits._
      val pcell = Enumerated.primitiveCell(lattice, a)._1
      val grid = for {
        n <- minSize to maxSize
        (hnf, idx) <- Enumerated.hnfClasses(pcell, n.toLong).zipWithIndex
      } yield (n, idx, hnf.map(_.toSeq).toSeq)
      spark.createDataset(grid).repartition(col("_2"))
        .flatMap { case (n, idx, rows) =>
          Enumerated.labelingsFor(lattice, a, species,
            rows.map(_.toArray).toArray, idx)
            .map(e => (e.size, e.hnfIndex, e.labeling, e.config.uuid,
              e.config.symbols))
        }
        .toDF("size", "hnf_index", "labeling", "uuid", "symbols")
    }

    /** qid: g9_prototypes — prototype-library decoration over the
      * species-permutation grid; `latpars` maps element → lattice
      * parameter (vegard-interpolated per decoration). */
    def prototypes(spark: SparkSession, names: Seq[String],
        species: Seq[String],
        latpars: Map[String, Double]): Dataset[Config] = {
      import spark.implicits._
      spark.createDataset(Prototypes.generate(names, species, latpars))
    }

    /** qid: g8_hessian_eigen — frozen-phonon eigen pseudo-configs for
      * one seed through a calculator (G7 displacements → forces → H →
      * eigSym). The per-seed matrix is task-local; parallelize by
      * mapping this over a seed Dataset. */
    def hessianEigen(seed: Config,
        calc: graft.calculators.Calculator): Seq[Config] =
      Hessian.forSeed(seed, calc)

    /** qid: m6_materials_e2e — the full generate → widen → stub-DFT →
      * split → summary slice. */
    def endToEnd(spark: SparkSession, ranSeed: Long = 42L): DataFrame =
      graft.pipeline.MaterialsPipeline.endToEnd(spark, ranSeed)
  }

  // ------------------------------------------------------------------
  /** Multimodal family — media rows are `Multimodal.MediaRow`
    * (media_id, kind ∈ image|audio|video, payload binary, typed
    * metadata); every decode kernel is a REAL pure-JVM codec (T.81
    * JPEG, BMP, RIFF/PCM WAV, Y4M) dispatched on magic bytes and run
    * in partition batches (the Arrow/pandas-UDF boundary shape). */
  object media {
    import org.apache.spark.sql.Dataset
    import graft.operators.Multimodal

    /** qid: mm1_multimodal_features — decode + per-row 8-bin feature
      * histogram across all three modalities. */
    def decodeFeatures(media: Dataset[Multimodal.MediaRow])
        : Dataset[Multimodal.MediaFeatures] =
      Multimodal.decodeFeatures(media)

    /** Box-average image resize, re-encoded in the source format;
      * non-image rows pass through. */
    def resizeImages(media: Dataset[Multimodal.MediaRow], outW: Int,
        outH: Int): Dataset[Multimodal.MediaRow] =
      Multimodal.resizeImages(media, outW, outH)

    /** Every rate-th frame of each video, re-encoded standalone. */
    def sampleFrames(media: Dataset[Multimodal.MediaRow],
        rate: Int): Dataset[Multimodal.Frame] =
      Multimodal.sampleFrames(media, rate)

    /** qid: mm2_image_phash — DCT perceptual hash over decoded
      * pixels; 64-bit hash as a long. */
    def phash64(img: graft.sources.Bmp.Image): Long =
      Multimodal.phash64(img)
  }

  // ------------------------------------------------------------------
  /** Event/session analytics family — events are `(user_id, event_id,
    * ts epoch-nanos long, event_type, ...)`; `event_id` breaks
    * same-timestamp ordering ties deterministically. */
  object events {
    import graft.queries.Extras

    /** qid: w9_transitions — per-user event-type transition counts. */
    def transitions(events: DataFrame): DataFrame = Extras.transitionsOf(events)

    /** qid: w10_session_window — native session_window aggregation
      * (streaming twin in graft.streaming). */
    def sessionWindows(events: DataFrame): DataFrame =
      Extras.sessionWindowOf(events)

    /** qid: w11_engaged_time — per-user union of engagement
      * intervals (sweep-free interval merge). */
    def engagedTime(events: DataFrame, windowSecs: Long): DataFrame =
      Extras.engagedTimeOf(events, windowSecs)
  }

  /** Versioned table format (SURVEY §1.3 / S12b) — Delta-style
    * manifest-log tables on plain parquet: atomic commits, time
    * travel, restore, vacuum, file-granular copy-on-write merge /
    * delete, and an exactly-once foreachBatch streaming sink. */
  object tables {
    import graft.sources.Versioned

    /** qid: v1_time_travel — commit `df` ("append" | "overwrite");
      * returns the new version. `mergeSchema = true` allows ADDITIVE
      * append evolution (new nullable columns; old files null-fill).
      * qid: v8_partitioned — `partitionBy` lays the commit out
      * hive-style per partition value (appends inherit the table's
      * layout; partition values become manifest point stats, so
      * partition-filtered connector scans prune to the matching
      * files). */
    def commit(df: DataFrame, path: String, mode: String = "append",
        mergeSchema: Boolean = false,
        partitionBy: Seq[String] = Nil): Int =
      Versioned.commit(df, path, mode, mergeSchema, partitionBy)

    /** Snapshot read, latest or as-of a version. */
    def read(spark: SparkSession, path: String,
        asOf: Option[Int] = None): DataFrame =
      Versioned.read(spark, path, asOf)

    /** qid: v2_merge_upsert — copy-on-write upsert on a single key;
      * only stats-range-intersecting files are rewritten. */
    def merge(updates: DataFrame, path: String, key: String): Int =
      Versioned.merge(updates, path, key)

    /** qid: v7_merge_composite — MERGE on a COMPOSITE key (any mix of
      * integral and STRING columns) with Delta-style clauses:
      * `WhenMatched.Update/Delete/Ignore` and
      * `WhenNotMatched.Insert/Ignore`, clause conditions over the
      * source row. Defaults reproduce the plain upsert. */
    def merge(updates: DataFrame, path: String, keys: Seq[String],
        whenMatched: Versioned.WhenMatched = Versioned.WhenMatched.Update(None),
        whenNotMatched: Versioned.WhenNotMatched =
          Versioned.WhenNotMatched.Insert(None)): Int =
      Versioned.merge(updates, path, keys, whenMatched, whenNotMatched)

    /** MERGE with Delta-style clause CHAINS (first-match-wins; every
      * clause but the last needs a condition) and partial-column
      * `UPDATE SET` / `INSERT (cols)` maps — the CDC composite
      * (tombstone-delete + upsert-if-newer in ONE merge). The source
      * is materialized once; see [[Versioned.mergeClauses]]. */
    def mergeClauses(updates: DataFrame, path: String, keys: Seq[String],
        matched: Seq[Versioned.WhenMatched],
        notMatched: Seq[Versioned.WhenNotMatched],
        notMatchedBySource: Seq[Versioned.WhenMatched] = Nil,
        mergeSchema: Boolean = false): Int =
      Versioned.mergeClauses(updates, path, keys, matched, notMatched,
        notMatchedBySource, mergeSchema)

    /** Copy-on-write delete of rows matching `pred`. */
    def deleteWhere(spark: SparkSession, path: String,
        pred: org.apache.spark.sql.Column): Int =
      Versioned.deleteWhere(spark, path, pred)

    /** Copy-on-write UPDATE of rows matching `pred`: each `set`
      * column takes its expression over the row, others keep their
      * values (SQL `UPDATE t SET c = expr WHERE pred`). */
    def updateWhere(spark: SparkSession, path: String,
        pred: org.apache.spark.sql.Column,
        set: Map[String, org.apache.spark.sql.Column]): Int =
      Versioned.updateWhere(spark, path, pred, set)

    /** Non-destructive rollback: checkpoint `toVersion`'s live set as
      * a NEW version (history intact). */
    def restore(path: String, toVersion: Int): Int =
      Versioned.restore(path, toVersion)

    /** Drop data/change files unreachable from the last
      * `retainVersions` snapshots. Files younger than `graceMs` are
      * never reclaimed (in-flight concurrent-writer guard); pass 0
      * only when no concurrent writer can exist. */
    def vacuum(path: String, retainVersions: Int = 10,
        graceMs: Long = Versioned.DefaultVacuumGraceMs): Seq[String] =
      Versioned.vacuum(path, retainVersions, graceMs)

    /** All committed versions, ascending. */
    def versions(path: String): Seq[Int] = Versioned.versions(path)

    /** Exactly-once micro-batch commit: no-op (None) if `appId` has
      * already committed `batchId` or later. */
    def commitIfAbsent(df: DataFrame, path: String, appId: String,
        batchId: Long): Option[Int] =
      Versioned.commitIfAbsent(df, path, appId, batchId)

    /** foreachBatch adapter for an exactly-once versioned sink. */
    def streamingSink(path: String, appId: String): (DataFrame, Long) => Unit =
      Versioned.streamingSink(path, appId)

    /** OPTIMIZE: compact the live set (streaming small-files cure);
      * rows unchanged, old layout still time-travelable. `clusterBy`
      * (1–2 columns; 2 interleave via the Morton key) range-lays the
      * files so footer stats prune later merges/scans — OPTIMIZE
      * ZORDER BY. */
    def optimize(spark: SparkSession, path: String, numFiles: Int = 1,
        clusterBy: Seq[String] = Nil): Int =
      Versioned.optimize(spark, path, numFiles, clusterBy)

    /** Row-level change feed (Delta CDF semantics, r10): appends emit
      * `insert` rows; merges their persisted pre/post images; deletes
      * their removed rows; optimize nothing. Tagged `_change_type` +
      * `_commit_version`. Overwrite/restore in range error loudly
      * (re-baseline). */
    def readChanges(spark: SparkSession, path: String, fromVersion: Int,
        toVersion: Int): DataFrame =
      Versioned.readChanges(spark, path, fromVersion, toVersion)

    /** Timestamp time travel (r10): read as of a wall-clock instant —
      * the latest commit whose (monotone-adjusted) stamp is ≤ `tsMs`.
      * DSv2 twin: `option("timestampAsOf", …)`. */
    def readAsOfTimestamp(spark: SparkSession, path: String,
        tsMs: Long): DataFrame =
      Versioned.readAsOfTimestamp(spark, path, tsMs)

    /** The commit instant `timestampAsOf` resolves against. */
    def commitTimestamp(path: String, version: Int): Long =
      Versioned.commitTimestamp(path, version)

    /** DESCRIBE HISTORY: one row per version (op, adjusted commit
      * instant, checkpoint flag, file count, CDF availability). */
    def history(spark: SparkSession, path: String): DataFrame =
      Versioned.history(spark, path)
  }

  /** Content hashing / provenance (SURVEY §2.5 D7, S12). */
  object hashing {

    /** qid: d7_content_hash — hierarchical chunked relation hash over
      * a `(groupCols…, row_h)` relation: adaptive hash-prefix buckets,
      * bounded agg buffers at any group size, partition-invariant. */
    def chunkedHashAgg(rows: DataFrame, groupCols: Seq[String]): DataFrame =
      graft.core.Hashing.chunkedHashAgg(rows, groupCols)

    /** Whole-relation content-version digest (one hex string) —
      * the provenance-manifest surface. */
    def tableHash(df: DataFrame): String = graft.core.Hashing.tableHash(df)

    /** The chunked hash as ONE Spark SQL statement over a registered
      * view — the pure-SQL session surface (byte-identical result;
      * MinHashSpec asserts it). */
    def tableHashSql(relation: String, groupCols: Seq[String]): String =
      graft.core.Hashing.tableHashSql(relation, groupCols)

    /** Register the native + composed graft SQL functions
      * (dot_product, sorted_intersect_size, positional_equal_count,
      * keep_alpha_space, shingles, content_hash, chunk_len, fnmatch)
      * on an already-built session. */
    def registerSqlFunctions(spark: SparkSession): Unit =
      org.apache.spark.sql.graftx.GraftExtensions.register(spark)
  }
}
