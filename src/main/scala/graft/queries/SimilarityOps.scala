package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity search over the embedding column.
  *
  * `s1_knn_bruteforce` is the exact baseline: query-set × corpus
  * cosine, top-k per query. At scale the query set is the broadcast
  * side (a handful of probes against a 100 TB corpus → one scan, no
  * shuffle of the corpus); the per-query top-k is a windowed
  * row_number over a small candidate set.
  *
  * The sub-linear scale path (LSH-bucketed ANN) is
  * graft.operators.Similarity (not SQL-expressible → spec-tested).
  */
object SimilarityOps {

  private def dot(x: Column, y: Column): Column =
    org.apache.spark.sql.graftx.VectorExpressions.dotProduct(x, y) // codegen'd inner loop

  def s1KnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    def vectors(t: DataFrame): DataFrame = t
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v")))) // per-vector, pre-join
    val e = vectors(Tables(s, dir, "embeddings").repartition(col("vec_id")))
    // the probes read the plain scan: the corpus repartition would cost
    // the broadcast side a shuffle job of its own
    val q = vectors(Tables(s, dir, "embeddings").where(col("vec_id") < 5))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cos = round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cos.as("cos_sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
  }

  /** S5 BM25 top-k retrieval — the lexical side of similarity search
    * (Robertson–Spärck Jones; the scoring function every sparse
    * retrieval/RAG stack runs beside the dense ANN path). Query set =
    * the deterministic `doc_id % 101` slice (the d8 bench-slice
    * discipline), query docs scored against the non-query corpus with
    * k1 = 1.2, b = 0.75, query-term weight 1 (short-query convention).
    *
    * Scale shape: term-at-a-time scoring — the corpus postings table
    * (doc,term,tf — the t9 wordcount volume) joins the BROADCAST
    * query-term table and the vocab-sized df table (AQE broadcasts),
    * then one partial-agg shuffle on (query,doc) and a per-query
    * window top-k over the scored candidates. The corpus never
    * shuffles on anything wider than its own postings; nothing is
    * doc×doc. The query set is PINNED (`doc_id < 5050` caps it at the
    * sf0.1 slice, 50 queries) because a retrieval workload does not
    * grow with the corpus — an unpinned slice made the bench measure
    * Q×N, not retrieval. (This synthetic corpus's ~31-token
    * vocabulary still makes every query term hit every doc — the
    * term-at-a-time worst case — and the shape holds; a realistic
    * vocabulary only shrinks the candidate fan-out.)
    *
    * Determinism across engines: per-(term,doc) score quantizes to
    * integer micro-units (the t10/t11 discipline) so the per-doc sum
    * is order-free integer arithmetic; float constants are written as
    * identical literals (2.2, 1.2, 0.25, 0.75) in both engines rather
    * than derived (1.2+1 ≠ parsed 2.2 at the ulp). */
  def s5Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val toks = split(col("text"), " ")
    val isQ = pmod(col("doc_id"), lit(101)) === 0 && col("doc_id") < 5050
    // ROUND-16 SHAPE (same values, fewer passes/shuffles; guide §2.3–
    // 2.4): (a) the query/corpus split is a doc_id PREDICATE, so the
    // old corpusIds broadcast join is a plain pushed filter; (b) `dl`
    // rides the postings aggregate (first(dl) — one value per doc) so
    // the per-doc-length join and its corpus scan disappear; (c) df is
    // only consumed for QUERY tokens (the scoring join is inner on the
    // broadcast query terms), so dfreq semi-restricts to the tiny
    // query vocabulary FIRST and then always BROADCASTS — the old plan
    // sort-merge-joined the full postings against an all-vocab df
    // table (full postings sort + exchange, a second corpus explode
    // feeding an all-vocab shuffle). The corpus now crosses the wire
    // once: the (doc,token) partial-agg shuffle.
    val tf = docs
      .repartition(col("doc_id")) // spread the explode (single-split file)
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val tfCorpus = tf.where(!isQ)
    val stats = docs.where(!isQ)
      .agg(count(lit(1)).as("n_docs"), avg(size(toks)).as("avgdl"))
    val qterms = tf.where(isQ)
      .select(col("doc_id").as("query_id"), col("token"))
    val qtok = qterms.select(col("token")).distinct()
    val dfreq = tfCorpus.join(broadcast(qtok), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val sat = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    // ts is per-(token, doc) — it does NOT depend on the query — so it
    // is computed on the postings BEFORE the query-terms join (round
    // 16): the join fans each posting out once per query sharing the
    // token (measured ~40× on this worst-case shared-vocab corpus, and
    // Q× in general), and evaluating log/divide/round after the
    // fan-out multiplied the scoring arithmetic by exactly that factor.
    val scored = tfCorpus
      .join(broadcast(dfreq), "token") // ≤ |query vocab| rows
      .crossJoin(broadcast(stats))
      .select(col("token"), col("doc_id"),
        round(idf * sat * lit(1e6), 0).cast("long").as("ts"))
    scored
      .join(broadcast(qterms), "token")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ts")).as("score_micro"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
  }

  /** S8 hybrid retrieval — reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009) of the lexical and dense rankers every
    * RAG stack combines: RRF(d) = Σ_r 1/(k + rank_r(d)) with k = 60
    * over the s5 BM25 top-10 and the dense cosine top-10, same pinned
    * query set (`doc_id % 101 = 0 AND doc_id < 5050`; embeddings and
    * documents share the id space).
    *
    * Scale shape: the lexical side is s5's (broadcast query terms,
    * one (query,doc) agg shuffle); the dense side is the s1 shape
    * (broadcast query vectors × one corpus scan, per-query top-k
    * window). The fusion itself joins two ≤10·|Q|-row rank lists —
    * AQE broadcasts them — and the final top-k windows on query_id.
    * Nothing is doc×doc; the corpus is scanned twice (postings +
    * vectors), never shuffled wider than its own postings.
    *
    * Determinism: ranks are integers, 1/(60+rk) is a single double
    * division written identically in both engines, the two-term sum
    * has a fixed order (lex + dense), and the fused score quantizes
    * to micro-units before ranking; ties break on doc_id. */
  def s8HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lex = s5Bm25(s, dir)
      .select(col("query_id"), col("doc_id"), col("rk").as("rk_lex"))
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val isQ = pmod(col("vec_id"), lit(101)) === 0 && col("vec_id") < 5050
    val q = e.where(isQ)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cos = round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
    val dense = e.where(!isQ).crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id").as("doc_id"), cos.as("cos_sim"))
      .withColumn("rk_dense", row_number().over(wd).cast("long"))
      .where(col("rk_dense") <= 10)
      .select(col("query_id"), col("doc_id"), col("rk_dense"))
    val rrf = round((
      coalesce(lit(1.0) / (lit(60.0) + col("rk_lex").cast("double")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(60.0) + col("rk_dense").cast("double")), lit(0.0))
    ) * lit(1e6), 0).cast("long")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), rrf.as("rrf_micro"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 10)
  }

  /** C1 k-means clustering summary over the embedding corpus — the
    * clustering pass a topic-balanced sampler or SemDeDup-style
    * curation stage starts from. Same training discipline as the IVF
    * coarse quantizer (capped keyed-digest sample, driver-local
    * Lloyd, ≤4 MB driver traffic) and its batched-GEMM full-corpus
    * assignment — clustering IS the IVF build minus the index, so the
    * scale argument is identical: one corpus pass for assignment, one
    * k-sized broadcast join for distances, one cell-keyed agg.
    *
    * Output is the per-cluster summary (sizes + inertia), not the
    * corpus-sized assignment (which a caller gets from the assignment
    * kernel directly).
    *
    * Round 7: runs on the cross-engine-deterministic integer Lloyd
    * (operators/IntKmeans.scala — farthest-first init, exact integer
    * distances, floor-mean updates), so inertia is EXACT integer
    * arithmetic in q8 units ((1e-4)² quantization) and the whole
    * summary has a DuckDB oracle (IntKmeans.oracleC1) instead of a
    * rows-only check. CurationOpsSpec asserts blob recovery,
    * determinism, and the inertia bound. */
  def c1KmeansSummary(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    kmeansSummaryOf(emb, "vec_id", "embedding", k = 8, iters = 10, seed = 42L)
  }

  /** The c1 kernel over an arbitrary (id, vector) relation. */
  def kmeansSummaryOf(emb: DataFrame, idCol: String, vCol: String,
      k: Int, iters: Int, seed: Long): DataFrame = {
    import graft.operators.IntKmeans
    val spark = emb.sparkSession
    import spark.implicits._
    val q = IntKmeans.quantize(emb, idCol, vCol)
    val cents = IntKmeans.lloyd(
      IntKmeans.sampleTrain(q, idCol, seed, cap = 8192),
      k, iters, farthest = true)
    val centTable = cents.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toDouble)) }.toSeq.toDF("cell", "cent")
    // |v−c|² = v·v − 2 v·c + c·c over integer-valued doubles — every
    // product and partial sum is an exact integer below 2^53, so the
    // expansion is EXACT (and ≥ 0 exactly); each dot is a codegen'd
    // native expression (zip_with/aggregate lambdas are interpreted —
    // the SCALING rule-4 ban on interpreted per-element work in a
    // corpus-sized scan)
    val dot = IntKmeans.doti(_, _)
    val d2 = dot(col("qvd"), col("qvd")) -
      lit(2.0) * dot(col("qvd"), col("cent")) + dot(col("cent"), col("cent"))
    IntKmeans.assign(q, idCol, cents)
      .join(broadcast(centTable), "cell")
      .select(col("cell"), d2.cast("long").as("d2_q8"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("d2_q8")).as("inertia_q8"))
      .select(col("cell").cast("long").as("cluster_id"), col("n"),
        col("inertia_q8"),
        round(col("inertia_q8").cast("double") / col("n"), 0)
          .cast("long").as("mean_d2_q8"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_knn_bruteforce" -> (s1KnnBruteforce _),
    "s5_bm25" -> (s5Bm25 _),
    // s2/s3/s4: oracle-green since r7 via the deterministic integer
    // kernels (IntKmeans.oracleS2/S3/S4 — hash-derived ±1 LSH planes,
    // integer IVF quantizer, residual IVF-PQ with ADC); recall vs s1
    // is additionally asserted in OperatorsSpec.
    "s2_ann_lsh" -> (graft.operators.Similarity.s2AnnLsh _),
    "s3_ann_ivf" -> (graft.operators.Similarity.s3AnnIvf _),
    "s4_ann_ivfpq" -> (graft.operators.Similarity.s4AnnIvfPq _),
    // oracle-green since r7: deterministic integer power-iteration
    // PCA (IntPca.oracleS6); the float Breeze path stays the library
    // API and IntPcaSpec pins their agreement
    "s6_pca_project" -> (graft.operators.IntPca.s6PcaProject _),
    // oracle-green since r7: integer Lloyd replayed in DuckDB
    // (IntKmeans.oracleC1); CurationOpsSpec asserts blob recovery,
    // determinism, and the inertia bound
    "c1_kmeans_summary" -> (c1KmeansSummary _),
    "s7_scalar_quantize" -> (graft.operators.Quantize.s7ScalarQuantize _),
    "s8_hybrid_rrf" -> (s8HybridRrf _),
    "d10_semdedup" -> (graft.operators.Similarity.d10SemDedup _),
    "mm1_multimodal_features" -> (graft.operators.Multimodal.featureSummary _),
    // oracle since r16 (was rows-only): every variant's decoded
    // pixels reach DuckDB via the synthesis law + the two golden
    // fixtures, so the full banded pairing hash-checks
    // (Multimodal.oracleMm2Full); completeness vs the planted
    // cross-codec twins stays spec'd
    "mm2_image_phash" ->
      ((s: SparkSession, d: String) =>
        graft.operators.Multimodal.imagePhashPairs(s, d)),
    // oracle (r9): the pHash LAW itself — pool/DCT/median in exact
    // integer arithmetic over the lossless BMP half, hash-checked
    // against the synthesis-law twin (the mm5 recipe); the JPEG half
    // keeps mm2's principled rows-only story
    "mm2_phash_bmp" ->
      (graft.operators.Multimodal.imagePhashBmp _),
    // oracle (r10): the JPEG half under the GOLDEN-PIXEL fixture —
    // the real T.81 decode feeds the integer pHash / histogram laws,
    // DuckDB replays them over the committed decode
    // (fixtures/golden_jpeg_pixels.parquet); the unoracled surface is
    // now the decoder alone, and the decoder is pinned against drift
    "mm2_phash_jpeg_golden" ->
      (graft.operators.Multimodal.imagePhashJpegGolden _),
    "mm1_hist_jpeg_golden" ->
      (graft.operators.Multimodal.imageHistJpegGolden _),
    // oracle since r8: PCM WAV / Y4M are LOSSLESS, so features from
    // the REAL decode equal the oracle's synthesis-law replay
    "mm3_audio_features" -> (graft.operators.Multimodal.audioFeatures _),
    "mm4_video_framestats" ->
      (graft.operators.Multimodal.videoFrameStats _),
    "mm5_image_stats" -> (graft.operators.Multimodal.imageStats _),
    "m12_embedding_filter" -> (graft.operators.EmbedFilter.m12EmbeddingFilter _),
  )

  /** The s5 oracle, shared verbatim with s8's lexical CTE (the d13
    * discipline: reused sub-definitions cannot diverge). */
  private val s5Sql: String =
    """WITH tok AS (
      | SELECT doc_id, unnest(string_split(text, ' ')) AS token
      | FROM documents),
      |tf AS (
      | SELECT doc_id, token, COUNT(*) AS tf
      | FROM tok GROUP BY doc_id, token),
      |dlen AS (
      | SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
      | FROM documents),
      |stats AS (
      | SELECT COUNT(*) AS n_docs, AVG(len(string_split(text, ' '))) AS avgdl
      | FROM documents WHERE NOT (doc_id % 101 = 0 AND doc_id < 5050)),
      |dfreq AS (
      | SELECT token, COUNT(*) AS df FROM tf
      | WHERE NOT (doc_id % 101 = 0 AND doc_id < 5050) GROUP BY token),
      |qterms AS (
      | SELECT doc_id AS query_id, token FROM tf
      | WHERE doc_id % 101 = 0 AND doc_id < 5050),
      |scored AS (
      | SELECT q.query_id, t.doc_id,
      |  ROUND(LN(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
      |    * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)))
      |    * 1e6)::BIGINT AS ts
      | FROM tf t
      | JOIN qterms q USING (token)
      | JOIN dfreq f USING (token)
      | JOIN dlen d ON t.doc_id = d.doc_id
      | CROSS JOIN stats s
      | WHERE NOT (t.doc_id % 101 = 0 AND t.doc_id < 5050)),
      |summed AS (
      | SELECT query_id, doc_id, SUM(ts)::BIGINT AS score_micro
      | FROM scored GROUP BY query_id, doc_id),
      |ranked AS (
      | SELECT query_id, doc_id, score_micro,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY score_micro DESC, doc_id ASC) AS rk
      | FROM summed)
      |SELECT query_id, doc_id, score_micro, rk
      |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  private val s8Sql: String =
    s"""WITH lex AS (
      | SELECT query_id, doc_id, rk AS rk_lex FROM ($s5Sql)),
      |e AS (
      | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (
      | SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm FROM e),
      |q AS (
      | SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
      | WHERE vec_id % 101 = 0 AND vec_id < 5050),
      |cosed AS (
      | SELECT q.query_id, n.vec_id AS doc_id,
      |  ROUND(list_sum([q.qv[i] * n.v[i] for i in range(1, len(n.v) + 1)]) /
      |    (q.qn * n.nrm), 6) AS cos_sim
      | FROM n CROSS JOIN q
      | WHERE NOT (n.vec_id % 101 = 0 AND n.vec_id < 5050)),
      |dense AS (
      | SELECT query_id, doc_id, rk_dense FROM (
      |  SELECT query_id, doc_id,
      |   ROW_NUMBER() OVER (PARTITION BY query_id
      |     ORDER BY cos_sim DESC, doc_id ASC) AS rk_dense
      |  FROM cosed) WHERE rk_dense <= 10),
      |fused AS (
      | SELECT COALESCE(l.query_id, d.query_id) AS query_id,
      |  COALESCE(l.doc_id, d.doc_id) AS doc_id,
      |  ROUND((COALESCE(1.0 / (60.0 + l.rk_lex), 0.0) +
      |         COALESCE(1.0 / (60.0 + d.rk_dense), 0.0)) * 1e6)::BIGINT
      |    AS rrf_micro
      | FROM lex l FULL OUTER JOIN dense d
      |  ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
      |reranked AS (
      | SELECT query_id, doc_id, rrf_micro,
      |  ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY rrf_micro DESC, doc_id ASC) AS rk
      | FROM fused)
      |SELECT query_id, doc_id, rrf_micro, rk
      |FROM reranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  val oracle: Map[String, String] = Map(
    "s5_bm25" -> s5Sql,
    "s8_hybrid_rrf" -> s8Sql,
    "mm3_audio_features" -> graft.operators.Multimodal.oracleMm3,
    "mm4_video_framestats" -> graft.operators.Multimodal.oracleMm4,
    "mm5_image_stats" -> graft.operators.Multimodal.oracleMm5,
    "mm2_phash_bmp" -> graft.operators.Multimodal.oracleMm2Bmp,
    "mm2_phash_jpeg_golden" ->
      graft.operators.Multimodal.oracleMm2JpegGolden,
    // oracle (r16, VERDICT r15 #8): the FULL cross-codec pairing —
    // every variant's pixels reach DuckDB (synthesis law + golden +
    // twin-golden), the banded pigeonhole pairing law replays as
    // all-pairs SQL; only the codec pair itself stays engine-side
    // (drift-pinned by GoldenPixelsSpec)
    "mm2_image_phash" ->
      graft.operators.Multimodal.oracleMm2Full(),
    // oracle (r16): mm1's kind-level summary is integer-quantized
    // (floor-ppm bin occupancy, exact byte counts, one IEEE divide
    // per average), so the synthesis laws + the golden JPEG decode
    // replay it bit-exactly across all three modalities
    "mm1_multimodal_features" ->
      graft.operators.Multimodal.oracleMm1Full,
    "mm1_hist_jpeg_golden" -> graft.operators.Multimodal.oracleMm1Golden,
    // r7 conversions (VERDICT r6 task #4): the clustering step is the
    // cross-engine-deterministic integer Lloyd, so the full unrolled
    // iteration chain replays in DuckDB — see operators/IntKmeans.scala
    "c1_kmeans_summary" ->
      graft.operators.IntKmeans.oracleC1(k = 8, seed = 42L, cap = 8192,
        iters = 10, dim = 64),
    "d10_semdedup" ->
      graft.operators.IntKmeans.oracleD10(tau = 0.3, seed = 42L,
        cap = 8192, iters = 2, dim = 64),
    "s3_ann_ivf" ->
      graft.operators.IntKmeans.oracleS3(k = 10, seed = 42L, cap = 8192,
        iters = 2, dim = 64, queryPred = "vec_id < 5"),
    "s2_ann_lsh" ->
      graft.operators.IntKmeans.oracleS2(k = 10, seed = 42L, dim = 64,
        queryPred = "vec_id < 5"),
    "s4_ann_ivfpq" ->
      graft.operators.IntKmeans.oracleS4(k = 10, seed = 42L, cap = 8192,
        iters = 2, dim = 64, m = 8, ksub = 16, rerankMult = 4,
        queryPred = "vec_id < 5"),
    "s6_pca_project" ->
      graft.operators.IntPca.oracleS6(r = 8,
        iters = graft.operators.IntPca.Iters,
        seed = graft.operators.IntPca.Seed, dim = 64),
    "s7_scalar_quantize" ->
      """WITH e AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        | SELECT vec_id, v,
        |  CASE WHEN list_max([abs(x) for x in v]) = 0 THEN 0.0
        |       ELSE list_max([abs(x) for x in v]) / 127.0 END AS scale
        | FROM e),
        |c AS (
        | SELECT vec_id, v, scale,
        |  CASE WHEN scale = 0 THEN [0 for x in v]
        |       ELSE [ROUND(x / scale)::INT for x in v] END AS codes
        | FROM s)
        |SELECT vec_id,
        | ROUND(scale * 1e9)::BIGINT AS scale_nano,
        | len([x for x in codes if abs(x) = 127])::BIGINT AS n_sat,
        | list_sum([abs(x)::BIGINT for x in codes])::BIGINT AS code_l1,
        | list_sum([codes[i]::BIGINT * i for i in range(1, len(codes) + 1)])::BIGINT AS code_dot,
        | list_sum([ROUND((v[i] - codes[i] * scale) * (v[i] - codes[i] * scale) * 1e12)::BIGINT
        |           for i in range(1, len(codes) + 1)])::BIGINT AS err_pico
        |FROM c ORDER BY vec_id""".stripMargin,
    // m12: the quantize-before-reassociable-sum discipline — the
    // centroid is the elementwise integer SUM of tenth-milli-quantized
    // label-0 seed vectors (cosine is scale-invariant, so sum = mean
    // up to the norm), dot/norms are exact integer arithmetic, and
    // only the final cosine touches doubles via the same
    // non-reassociable shape as the Spark side
    "m12_embedding_filter" ->
      """WITH e AS (
        | SELECT vec_id, label,
        |  [ROUND(x::DOUBLE * 1e4)::BIGINT FOR x IN embedding] AS qv
        | FROM embeddings),
        |cent AS (
        | SELECT i, SUM(qv[i])::BIGINT AS c
        | FROM e, range(1, 65) AS t(i)
        | WHERE label = 0
        | GROUP BY i),
        |cl AS (
        | SELECT list(c ORDER BY i) AS cv, SUM(c * c)::BIGINT AS nb
        | FROM cent),
        |scored AS (
        | SELECT e.vec_id,
        |  list_sum([e.qv[i] * cl.cv[i] FOR i IN range(1, 65)])::BIGINT AS dot_q,
        |  list_sum([e.qv[i] * e.qv[i] FOR i IN range(1, 65)])::BIGINT AS na,
        |  cl.nb AS nb
        | FROM e CROSS JOIN cl),
        |sel AS (
        | SELECT vec_id, dot_q,
        |  CASE WHEN na = 0 THEN 0.0
        |       ELSE ROUND(dot_q::DOUBLE / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)), 6)
        |  END AS cos_sim
        | FROM scored)
        |SELECT vec_id, dot_q, cos_sim, cos_sim >= 0.7 AS keep
        |FROM sel ORDER BY vec_id""".stripMargin,
    "s1_knn_bruteforce" ->
      """WITH e AS (
        | SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        | SELECT q.query_id, e.vec_id,
        |  ROUND(list_sum([q.qv[i]*e.v[i] for i in range(1,65)]) /
        |   (sqrt(list_sum([q.qv[i]*q.qv[i] for i in range(1,65)])) *
        |    sqrt(list_sum([e.v[i]*e.v[i] for i in range(1,65)]))), 6) AS cos_sim
        | FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        | SELECT query_id, vec_id, cos_sim,
        |  ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, vec_id ASC) AS rk
        | FROM scored)
        |SELECT query_id, vec_id, cos_sim, rk
        |FROM ranked WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin,
  )
}
