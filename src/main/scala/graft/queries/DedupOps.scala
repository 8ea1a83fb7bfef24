package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{StructField, StructType}
import graft.Tables

/** Deduplication operators for training-data pipelines, generalizing
  * the reference's content-hash dedup (SURVEY §2.5 D1–D7; reference
  * database/active.py:181–198) to text corpora:
  *
  *  - exact dedup: hash-groupBy (one shuffle on the hash)
  *  - MinHash + LSH: shingle → k minhashes → banded keys →
  *    equi-join on band key. This is the 100 TB shape: candidate
  *    generation is a shuffle join on short keys, never an n² block
  *    compare; the n² work happens only inside band buckets.
  *  - SimHash: nibble-majority signature over the token set
  *  - n-gram Jaccard: exact verify within small blocks
  *
  * All pure `functions._` column expressions — codegen'd, no UDFs.
  */
object DedupOps {

  private[graft] val K = 16 // minhash signature length
  private def toks: Column = split(col("text"), " ")

  /** Word 3-shingles of the token array. */
  private def shingles(t: Column): Column =
    transform(sequence(lit(0), size(t) - 3), i =>
      concat_ws(" ",
        element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))

  /** Signature table via the reusable operator API
    * (graft.operators.MinHash — explode → codegen'd hash →
    * groupBy(min)). Query builders never persist it: reuse across the
    * two sides of a self-join relies on exchange reuse (identical
    * canonicalized subtrees → one shuffle), so building a query runs
    * no Spark jobs and leaves no `Dataset.persist` entries behind
    * (CacheHygieneSpec runs every registered query and asserts the
    * cache manager stays empty). */
  private def sigDf(s: SparkSession, dir: String): DataFrame =
    graft.operators.MinHash.signatures(
      Tables(s, dir, "documents"), "doc_id", "text",
      k = K, bands = 2, shingleN = 3, materialize = false)

  /** The d1 kernel over an arbitrary document relation: keeper
    * (min id) per exact content hash; one shuffle on the hash. The
    * facade (api.Graft.dedup.exactDedup) delegates here. */
  def exactDedupOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** D1 exact dedup: keeper (min id) per content hash. */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame =
    exactDedupOf(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("keeper"))

  /** D2a MinHash signatures + LSH band keys per document. Single
    * pass over the table — nothing to reuse, so no persist. */
  def d2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    sigDf(s, dir)
      .select(col("doc_id"), col("band_0").as("band0"),
        col("band_1").as("band1"), col("mh0"), col(s"mh${K - 1}"))
      .orderBy(col("doc_id"))

  /** D2b LSH candidate pairs: the signature table's band rows go
    * through one band-bucket pass (`DupClusters.bucketPairs`, via
    * `MinHash.candidatePairs`) that verifies the estimated Jaccard
    * inside each bucket, so the signature pass (the expensive
    * shingle→hash→agg pass) has one consumer and runs once. No persist,
    * no checkpoint: building the query runs zero jobs, leaves zero
    * cache entries, and a throwing caller leaks nothing
    * (CacheHygieneSpec asserts all three). At 100 TB the
    * signature table would instead be persisted once per corpus
    * snapshot as its own table — `MinHash.signatures(materialize=
    * true)` is that surface. */
  def d2MinhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sig = sigDf(s, dir)
    graft.operators.MinHash.candidatePairs(sig, "doc_id",
        k = K, bands = 2, threshold = 0.75)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("est_jaccard"))
  }

  /** D14 incremental near-dup probe against a MATERIALIZED signature
    * table — the persisted-signature surface d2's scaladoc promises
    * ("at 100 TB the signature table would be persisted once per
    * corpus snapshot"), exercised end-to-end: the corpus history
    * (doc_id % 10 ≠ 0) has its minhash signatures computed ONCE per
    * session (SessionTable, the d6-labels discipline) and every
    * incoming batch (here the doc_id % 10 = 0 slice — the d12
    * incremental framing) signs only ITSELF and band-joins the
    * checkpointed history. At 100 TB this is the nightly-ingest
    * shape: signature build cost is proportional to the BATCH, the
    * history never recomputes and never reshuffles (the band join
    * shuffles band keys, not documents). Each batch doc reports its
    * best history match (max est_jaccard, ties to the smallest id —
    * total and deterministic) or −1. */
  def d14IncrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val history = graft.operators.SessionTable.of(s, s"minhash-sigs:$dir") {
      graft.operators.MinHash.signatures(
        docs.where(!isBatch), "doc_id", "text",
        k = K, bands = 2, shingleN = 3, materialize = false)
    }
    val batch = graft.operators.MinHash.signatures(
      docs.where(isBatch), "doc_id", "text",
      k = K, bands = 2, shingleN = 3, materialize = false)
    incrementalProbeOf(batch, history)
  }

  /** The d14 kernel over arbitrary batch/history signature tables
    * (spec-testable; also asserts materialized ≡ recomputed history).
    *
    * MATCH-IDENTITY CONTRACT (pinned round 11; measured in
    * bench/guard_recall.json at 1.0 is_dup / 0.9896 match_id
    * agreement): when the history-side cap fires on a mega-bucket,
    *  - `is_dup` is CAP-INVARIANT — every bucket member shares a full
    *    band with the probe, so est ≥ bands⁻¹·(k/bands)/k = 0.5, the
    *    verdict threshold, regardless of which members survive;
    *  - `match_id` is the best match (max est, ties to min id) among
    *    the SURVIVING probed subset — deterministic across runs (the
    *    cap is an xxhash64 threshold plus the guaranteed min-id
    *    member), but NOT necessarily the global argmax: a dropped
    *    member with a higher whole-signature est yields its rank to
    *    the best survivor. Downstreams that join on `match_id` across
    *    differently-capped runs must treat it as a cluster
    *    representative, not a stable foreign key. The global argmax
    *    cannot be cap-guaranteed: est_jaccard is a property of the
    *    (probe, member) PAIR, so no fixed per-bucket subset contains
    *    every probe's argmax. MinHashSpec encodes this contract
    *    against a planted mega-bucket. */
  private def explodedBands(df: DataFrame, side: String): DataFrame = {
    val sigArr = array((0 until K).map(i => col(s"mh$i")): _*)
    df.select(
      col("doc_id").as(s"${side}_id"), sigArr.as(s"sig_$side"),
      posexplode(array(col("band_0"), col("band_1")))
        .as(Seq("band_idx", "band_key")))
  }

  /** The PERSISTENT state-table form of a signature history (round
    * 14, VERDICT r13 #5): exploded to one row per (doc, band) with
    * the skew cap already applied, ready to be WRITTEN ONCE —
    * ideally bucketed on `band_key` (operators.Bucketed) so every
    * later increment's probe join plans ZERO state-side exchange —
    * and probed by [[incrementalProbeAgainstState]] per increment.
    * Recomputing history signatures per increment (what the scale
    * probe used to measure) costs O(corpus) per batch; the state
    * table makes each increment O(batch + matched buckets). */
  def minhashBandState(history: DataFrame): DataFrame =
    // skew guard: cap the HISTORY side per band bucket — each batch
    // doc probes ~DefaultMaxBucket history members per bucket (the
    // bucket's min id + a deterministic hash subset; count-pass
    // discipline, no band-key window); a history mega-bucket is by
    // construction a pile of near-identical docs, so the best-match
    // semantics survive with bounded fan-out, and the guaranteed
    // min-id member keeps the rank-1 tiebreak stable. Gate-scale
    // buckets are far under the cap → bit-identical results there.
    graft.operators.MinHash.capBucketMembers(
      explodedBands(history, "h"), Seq("band_idx", "band_key"), "h_id")

  def incrementalProbeOf(batch: DataFrame, history: DataFrame): DataFrame =
    incrementalProbeAgainstState(batch, minhashBandState(history))

  /** Probe a signature `batch` against an already-materialized band
    * STATE table ([[minhashBandState]]'s shape). */
  def incrementalProbeAgainstState(batch: DataFrame,
      state: DataFrame): DataFrame = {
    val b = explodedBands(batch, "b")
    val h = state
    val estJ = org.apache.spark.sql.graftx.PositionalEqual
      .equalCount(col("sig_b"), col("sig_h"))
      .cast("double") / K
    // distinct: a pair colliding in both bands must count once (estJ
    // is a pure function of the pair, so the triple collapses exactly)
    val hits = b.join(h, Seq("band_idx", "band_key"))
      .select(col("b_id"), col("h_id"), estJ.as("est_jaccard"))
      .distinct()
    val best = hits.withColumn("rn", row_number().over(
        Window.partitionBy(col("b_id"))
          .orderBy(col("est_jaccard").desc, col("h_id"))))
      .where(col("rn") === 1)
      .select(col("b_id").as("doc_id"), col("h_id").as("match_id"),
        col("est_jaccard"))
    batch.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("est_jaccard"), lit(0.0)).as("est_jaccard"),
        (coalesce(col("est_jaccard"), lit(0.0)) >= 0.5).as("is_dup"))
  }

  /** D3 SimHash signatures of the fixture's documents. */
  private def simhash64(s: SparkSession, dir: String): DataFrame =
    simhash64Of(Tables(s, dir, "documents"))

  /** 64-bit SimHash per row of a `(doc_id, text)` relation — d3, the
    * dup-labels build (d6/d13/d18/o11) and m7's dedup_simhash stage.
    * Bit j is the majority, over the distinct tokens of
    * `split(text, " ")`, of bit j of md5(token)'s first 64 bits; the
    * 64 bits replaced an r1 16-bit scheme whose 2^16 signatures could
    * not separate a self-similar corpus. Rows with null text are
    * dropped; every other row yields one row — `doc_id` is expected
    * unique, duplicates are not merged. Returns doc_id, n_tok, the
    * 64-char bit-string signature and the 4×16-bit pigeonhole band
    * keys, computed by the row-local `graftx.Simhash64` kernel in the
    * scan's projection: no shuffle, no token explode, no aggregate. */
  def simhash64Of(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        org.apache.spark.sql.graftx.Simhash64
          .simhash64(array_distinct(toks)).as("sig"))
      .select(col("doc_id"), col("sig.*"))

  /** D3 SimHash signature table (public shape). */
  def d3Simhash(s: SparkSession, dir: String): DataFrame =
    simhash64(s, dir)
      .select(col("doc_id"), col("n_tok"), col("simhash"))
      .orderBy(col("doc_id"))

  /** D4 exact n-gram (token-set) Jaccard near-dup pairs, blocked by
    * source — the verify stage run after LSH candidate generation.
    *
    * Prefix-filtered inverted-index join (PPJoin-style): tokens get a
    * global order (ascending document frequency, token tiebreak); a
    * pair with J ≥ t MUST share a token within each side's first
    * nt − ceil(t·nt) + 1 tokens of that order, so the index join runs
    * over prefixes only (~10% of tokens at t=0.9, and the rarest
    * ones — small, skew-free postings: no stopword blow-up).
    * Candidates are then verified EXACTLY against the full token
    * sets, so results are identical to the unfiltered join (and the
    * DuckDB oracle). */
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val threshold = 0.9
    // tset is SORTED once per document (array_sort's StringType order
    // is UTF8String binary order) so the pair-verify below is a
    // merge walk instead of a per-pair hash set — the sort cost
    // amortizes over every candidate pair the doc appears in
    val d = Tables(s, dir, "documents")
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(toks)).as("tset"))
      .withColumn("nt", size(col("tset")))
    // d is read by the prefix index and the verify re-join; the three
    // consumers share the repartition(doc_id) exchange below the
    // tokenize/select, so the scan+shuffle dedupes at physical
    // planning (ReuseExchange) — no persist, no checkpoint, no
    // build-time jobs (see d2MinhashPairs)
    val tok = d.select(col("doc_id"), col("source"), col("nt"),
      explode(col("tset")).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val prefix = tok.join(dfreq, "tok")
      .withColumn("pos", row_number().over(w))
      .where(col("pos") <= col("nt") - ceil(col("nt") * threshold) + 1)
    val a = prefix.select(col("source"), col("tok"), col("doc_id").as("doc_a"),
      col("nt").as("na"), col("pos").as("pa"))
    val b = prefix.select(col("source"), col("tok"), col("doc_id").as("doc_b"),
      col("nt").as("nb"), col("pos").as("pb"))
    // PPJoin size + positional filters (Xiao et al., WWW'08, public):
    // J ≥ t needs overlap o = ⌈t·(na+nb)/(1+t)⌉; a posting shared at
    // ranks (pa, pb) of the common (df, tok) order can support at most
    // 1 + min(na−pa, nb−pb) overlap. Sound as an ANY-posting filter:
    // a true pair's FIRST common token lies in both prefixes and has
    // zero shared tokens before it, so its posting always passes. On
    // this small-vocab corpus (weak prefix selectivity) these two
    // predicates cut the candidate set ~2–3× before the distinct.
    val o = ceil((col("na") + col("nb")) * lit(threshold / (1 + threshold)))
    val cand = a.join(b, Seq("source", "tok"))
      .where(col("doc_a") < col("doc_b")
        && col("na") >= col("nb") * threshold
        && col("nb") >= col("na") * threshold
        && lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >= o)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val ta = d.select(col("doc_id").as("doc_a"), col("tset").as("ta"),
      col("nt").as("na"))
    val tb = d.select(col("doc_id").as("doc_b"), col("tset").as("tb"),
      col("nt").as("nb"))
    val inter = org.apache.spark.sql.graftx.SortedIntersect
      .sortedIntersectSize(col("ta"), col("tb"))
    val j = inter.cast("double") / (col("na") + col("nb") - inter)
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"), j.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** D4-prod: the d2→d4 COMPOSITION — minhash-band candidate
    * generation (xxhash64 codegen path, `MinHash.signaturesFast`)
    * feeding d4's EXACT token-set-Jaccard verify. This is the dedup
    * discipline the reference applies (active.py:181–198 generalized:
    * cheap candidate generation, exact verification), and the scale
    * path that replaces d4's prefix-filtered inverted index for large
    * corpora: the index join touches every (token, doc) posting, while
    * the bands touch k integers per doc.
    *
    * Minhash items are the DISTINCT TOKENS (shingleN = 1) — the same
    * universe d4's exact Jaccard measures — so band recall maps
    * directly onto the verify threshold: with r = 6 rows/band and
    * b = 12 bands, P(candidate | J ≥ 0.9) = 1 − (1 − J⁶)¹² ≈ 0.9999,
    * while J ≤ 0.4 pairs surface at < 5 % (r = 6 keeps the
    * shared-vocabulary baseline of a same-generator corpus out of the
    * candidate set — r = 4 let J ≈ 0.4 pairs flood the join).
    * Candidates ([[nearDupCandidates]]) go STRAIGHT to the exact
    * token-set verify: the per-candidate exact check intersects two
    * |tset|-element arrays, so it beats a k-term minhash estimate
    * whenever |tset| < k — on this corpus decisively (≤ 31-token
    * vocabulary vs k = 72; an estimate gate measured 2× the whole
    * verify stage). Results are identical to d4NgramJaccard
    * (MinHashSpec asserts set equality at sf0.01); no oracle
    * (engine-specific hash), the exact twin IS the oracle-checked d4
    * entry. Band keys include `source` — d4's blocking — so
    * candidates never cross blocks. */
  def nearDupPairs(s: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame = {
    val bands = 12
    val docs = Tables(s, dir, "documents")
    val sig = graft.operators.MinHash.signaturesFast(
      docs, "doc_id", "text", k = 72, bands = bands, shingleN = 1,
      materialize = false)
    val cand = nearDupCandidates(sig
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*))
          .as(Seq("band_idx", "band_key"))))
    val d = docs
      .select(col("doc_id"), array_sort(array_distinct(toks)).as("tset"))
      .withColumn("nt", size(col("tset")))
    val ta = d.select(col("doc_id").as("doc_a"), col("tset").as("ta"),
      col("nt").as("na"))
    val tb = d.select(col("doc_id").as("doc_b"), col("tset").as("tb"),
      col("nt").as("nb"))
    val inter = org.apache.spark.sql.graftx.SortedIntersect
      .sortedIntersectSize(col("ta"), col("tb"))
    val j = inter.cast("double") / (col("na") + col("nb") - inter)
    // provably-lossless prune before the O(|set|) intersect (the d4
    // PPJoin length bound): J = |∩|/|∪| ≤ min(n)/max(n), so J ≥ t
    // requires min(n)·10⁶ ≥ ⌈t·10⁶⌉·max(n) — exact integers, no
    // true pair can be dropped, output set unchanged
    val tMicro = math.round(threshold * 1000000L)
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .where(least(col("na"), col("nb")).cast("long") * lit(1000000L) >=
        lit(tMicro) * greatest(col("na"), col("nb")).cast("long"))
      .select(col("doc_a"), col("doc_b"), j.as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** d4's candidate step: distinct `(doc_a, doc_b)` pairs, doc_a <
    * doc_b, of documents that share a (source, band_idx, band_key)
    * bucket of `exploded`, from the band-bucket pass
    * (`DupClusters.bucketPairs`) with no verify. A bucket over
    * `maxBucket` rows (a boilerplate mega-bucket, SCALING.md item 8)
    * star-pairs to its min doc_id instead of emitting n² pairs; never
    * triggered at gate scale, so the candidate set is the plain band
    * self-join's there. */
  private[graft] def nearDupCandidates(exploded: DataFrame,
      maxBucket: Int = graft.operators.MinHash.DefaultMaxBucket): DataFrame = {
    val id = exploded.schema("doc_id").dataType
    graft.operators.DupClusters.bucketPairs(exploded,
        Seq("source", "band_idx", "band_key"), "doc_id", Nil,
        StructType(Seq(StructField("doc_a", id), StructField("doc_b", id))),
        maxBucket)((x, y, _) => Some(Row(x.get(0), y.get(0))))
      .distinct()
  }

  /** D5 embedding near-dup: cosine ≥ threshold within label blocks
    * (blocked exact compare; the LSH/ANN scale path lives in
    * graft.operators.Similarity). */
  def d5EmbeddingDedup(s: SparkSession, dir: String): DataFrame = {
    // codegen'd dot product (org.apache.spark.sql.graftx.DotProduct) — bit-identical
    // to the interpreted formulation, ~order-of-magnitude faster
    def dot(x: Column, y: Column): Column =
      org.apache.spark.sql.graftx.VectorExpressions.dotProduct(x, y)
    // norms are per-vector, so compute them BEFORE the pair join
    val e = Tables(s, dir, "embeddings")
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("label"),
      col("v").as("vb"), col("nrm").as("nb"))
    val cos = round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
    a.join(b, "label")
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cos.as("cos_sim"))
      .where(col("cos_sim") >= 0.3)
  }

  /** D3c: graded near-dup pairs by simhash hamming distance ≤ 3, via
    * pigeonhole banding — the 64-bit signature splits into 4 bands of
    * 16 bits; distance ≤ 3 flips at most 3 bands, so at least one
    * matches exactly. Pairs come from `DupClusters.hammingBucketPairs`:
    * one shuffle on the (band, 16-bit value) bucket, then each bucket
    * is verified inside its partition (popcount of XOR over the 4 band
    * ints). Its band-bucket skew guard is enforced per bucket in that
    * same pass: a bucket past `MinHash.DefaultMaxBucket` rows (a
    * corpus of near-identical boilerplate on one band value) links its
    * members to its min-id row instead of emitting n² pairs, holding
    * at most cap + 1 rows (never triggered at gate scale). A pair that
    * agrees on two bands comes twice from the kernel, hence the
    * `distinct`. */
  def d3HammingPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.DupClusters.hammingBucketPairs(simhash64(s, dir),
        "doc_id", NearDupHamming)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming").cast("long").as("hamming"))
      .distinct()

  /** Bit distance within which two SimHash signatures are near
    * duplicates (d3's pairs, the dup-labels clusters). */
  private val NearDupHamming = 3

  /** D3b: exact-duplicate groups by simhash collision (hamming-0
    * pairing; the graded hamming-distance join is the ANN-style
    * extension). */
  def d3SimhashDups(s: SparkSession, dir: String): DataFrame =
    d3Simhash(s, dir)
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .where(col("n_docs") > 1)
      .orderBy(col("keeper"))

  /** D6: duplicate CLUSTERS — connected components over the simhash
    * near-dup pair graph (the step every dedup pipeline needs after
    * pair generation: pick one keeper per component, not per pair —
    * pairs alone under-delete transitive duplicate chains).
    *
    * Labels come from `DupClusters.hammingBucketLabels`: a union-find
    * per bucket partition fed by the verified d3 pairs, merged on the
    * driver, so the cost does not grow with component diameter.
    * cluster_id is the component's minimum doc_id; singleton docs keep
    * their own id. */
  def d6DupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir).orderBy(col("doc_id"))

  /** The MATERIALIZED labels table for `dir` (operators.DupClusters):
    * the simhash → components pipeline runs once per session per
    * corpus; d6, d13, and any downstream curation stage all JOIN the
    * same checkpointed table — the production shape, where labels are
    * written once per corpus snapshot. The components are those of
    * d3's pair graph, built by `DupClusters.hammingBucketLabels` in
    * one shuffle: each bucket partition feeds its verified pairs
    * straight into its union-find, and the driver merges the roots
    * over the documents universe. The signature table is read once by
    * that one pass, so it is not pinned. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    graft.operators.DupClusters.labelsFor(s, dir)(
      graft.operators.DupClusters.hammingBucketLabels(simhash64(s, dir),
        "doc_id", NearDupHamming, Tables(s, dir, "documents")))

  /** D18 soft-dedup training weights — the DROPLESS alternative to
    * d13's keep-one survivorship: every member of a duplicate cluster
    * stays in the corpus but its training weight is divided by the
    * cluster size (w = 1/|cluster|), so each piece of CONTENT
    * contributes one unit of training mass regardless of how many
    * near-copies exist. Down-weighting instead of dropping preserves
    * the corpus's natural distribution while removing the duplicate
    * amplification — the SoftDeDup discipline. Scale shape: joins the
    * same MATERIALIZED cluster-labels table d6/d13 consume (computed
    * once per session per corpus), one cluster_id agg for sizes, one
    * cluster_id equi-join back — cluster sizes are clique-bounded, so
    * neither the agg nor the join has hot keys. Weights are integer
    * micro-units; the oracle reuses d6's shared CC CTE verbatim. */
  def d18DedupWeights(s: SparkSession, dir: String): DataFrame =
    dedupWeightsOf(clusterLabels(s, dir)).orderBy(col("doc_id"))

  /** The d18 kernel over an arbitrary `(doc_id, cluster_id)` label
    * relation. The facade (api.Graft.dedup.dedupWeights) delegates
    * here. */
  def dedupWeightsOf(labels: DataFrame): DataFrame = {
    val sz = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csize"))
    labels.join(sz, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("csize"),
        round(lit(1e6) / col("csize"), 0).cast("long").as("weight_micro"))
  }

  /** O11 leakage-safe splits — train/holdout/test assignment keyed on
    * the NEAR-DUP CLUSTER, not the document: every member of a
    * duplicate cluster lands in the same split by construction, so a
    * test document can never have a near-copy in train (the
    * train/test contamination that doc-keyed splits silently allow —
    * the same defect d8/d9 detect against external benchmarks,
    * produced internally by the split itself). Assignment is the
    * o6-style engine-neutral keyed digest: md5("split:"+cluster_id)
    * compared as a hex string against the 'cc'/'e6' thresholds
    * (≈ 79.7 % / 10.2 % / 10.2 %) — identical bytes in both engines,
    * no float, no engine hash. Output is the per-split audit (doc and
    * cluster counts) plus the leaked-cluster count, provably 0 here
    * and > 0 for a doc-keyed split on the same corpus (spec-pinned
    * contrast). Scale shape: labels are the materialized d6 table;
    * one split-keyed agg + a cluster-keyed audit agg whose single-row
    * result broadcasts. */
  def o11ClusterSplit(s: SparkSession, dir: String): DataFrame =
    clusterSplitOf(clusterLabels(s, dir))

  /** The o11 kernel over an arbitrary (doc_id, cluster_id) labels
    * relation — spec-testable with planted clusters. */
  def clusterSplitOf(labels: DataFrame): DataFrame = {
    val h = md5(concat(lit("split:"), col("cluster_id")))
    val assigned = labels.withColumn("split",
      when(h < "cc", "train").when(h < "e6", "holdout").otherwise("test"))
    val leaks = assigned.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("nsp"))
      .agg(coalesce(sum(when(col("nsp") > 1, 1L).otherwise(0L)), lit(0L))
        .as("leaked_clusters"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .crossJoin(broadcast(leaks))
  }

  /** D13 duplicate-cluster survivorship — the curation step AFTER
    * clustering: each near-dup cluster keeps its highest-quality
    * member and drops the rest. A real dedup pass keeps the best
    * representative, not an arbitrary one (the reference keeps
    * first-seen, database/active.py:181–198; generalized here to the
    * t2 quality argmax with ties breaking to the smallest doc_id, so
    * the choice is total and deterministic). Scale shape: the
    * MATERIALIZED d6 cluster labels (computed once per session per
    * corpus — see `clusterLabels`) join the t2 quality table on
    * doc_id (both corpus-cardinality), then ONE shuffle on cluster_id
    * for the per-cluster window — nothing pairwise, no inline CC
    * recompute, and cluster sizes are clique-sized (bounded by the
    * dup multiplicity), so the window partitions cannot be hot. */
  def d13KeepBest(s: SparkSession, dir: String): DataFrame =
    keepBestOf(
      clusterLabels(s, dir),
      graft.queries.TextOps.t2QualityScore(s, dir)
        .select(col("doc_id"), col("quality")))

  /** The d13 kernel over arbitrary (doc_id, cluster_id) labels and
    * (doc_id, quality) scores — spec-testable with planted clusters. */
  def keepBestOf(clusters: DataFrame, quality: DataFrame): DataFrame = {
    val byCluster = Window.partitionBy(col("cluster_id"))
    val ranked = byCluster.orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("keep", row_number().over(ranked) === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        col("n_members"), col("keep"))
  }

  /** D8 decontamination — benchmark n-gram overlap removal (the
    * GPT-3/Pile-style eval-set hygiene pass): any training document
    * sharing an 8-gram with the benchmark set is flagged. The
    * benchmark gram set is SMALL by construction (test sets are tiny
    * next to a 100 TB corpus), so the scale shape is a broadcast
    * semi-ish join against the corpus gram stream — the corpus never
    * shuffles on the gram key. Here the benchmark stand-in is the
    * deterministic doc_id % 97 slice of the same table. */
  def d8Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val docs = Tables(s, dir, "documents")
    val isBench = pmod(col("doc_id"), lit(97)) === 0
    val benchGrams = docs.where(isBench)
      .select(explode(array_distinct(
        graft.operators.MinHash.shingleCol(col("text"), n))).as("gram"))
      .distinct()
    val corpus = docs.where(!isBench)
    val corpusGrams = corpus.select(col("doc_id"),
      explode(array_distinct(
        graft.operators.MinHash.shingleCol(col("text"), n))).as("gram"))
    val hits = corpusGrams.join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    corpus.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** D9 FUZZY decontamination — the paraphrase-robust cousin of d8's
    * exact 8-gram overlap (near-verbatim benchmark rewrites share few
    * exact 8-grams but most of their shingle set): corpus docs whose
    * minhash LSH bands collide with a benchmark doc and whose
    * estimated Jaccard clears the threshold are flagged. Both band
    * sides derive from the SAME signature subtree (one shingle→hash→
    * agg pass, ReuseExchange dedupes it — the d2 discipline), the
    * benchmark side is tiny by construction, and est_jaccard = m/16
    * is binary-exact so the oracle compares without rounding slop.
    * Production twin: `MinHash.signaturesFast` per the d2 note. */
  def d9FuzzyDecontaminate(s: SparkSession, dir: String): DataFrame =
    fuzzyContaminated(sigDf(s, dir), pmod(col("doc_id"), lit(97)) === 0)

  /** The d9 kernel over an arbitrary signature table and benchmark
    * predicate (spec-testable with planted paraphrases). */
  def fuzzyContaminated(sig: DataFrame, isBench: Column): DataFrame = {
    val bandCols = array(col("band_0"), col("band_1"))
    val sigArr = array((0 until K).map(i => col(s"mh$i")): _*)
    def side(benchSide: Boolean, prefix: String) =
      sig.where(if (benchSide) isBench else !isBench)
        .select(col("doc_id").as(s"${prefix}_id"), sigArr.as(s"sig_$prefix"),
          posexplode(bandCols).as(Seq("band_idx", "band_key")))
    val estJ = org.apache.spark.sql.graftx.PositionalEqual
      .equalCount(col("sig_c"), col("sig_b"))
      .cast("double") / K
    // skew guard: cap the BENCH side per band bucket (corpus rows must
    // all be probed, but each corpus row's fan-out is then bounded by
    // the cap; gate-scale bench buckets are tiny → results unchanged)
    val benchCapped = graft.operators.MinHash.capBucketMembers(
      side(benchSide = true, "b"), Seq("band_idx", "band_key"), "b_id")
    side(benchSide = false, "c")
      .join(benchCapped, Seq("band_idx", "band_key"))
      .select(col("c_id").as("doc_id"), col("b_id"), estJ.as("est_j"))
      .where(col("est_j") >= 0.5)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("b_id")).as("n_bench_hits"),
        max(col("est_j")).as("max_est_jaccard"))
  }

  /** D11 exact-substring window dedup (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * their ExactSubstr at fixed window granularity: any 50-token
    * substring shared between two docs marks verbatim reuse; 20
    * tokens here, proportionate to this corpus's ~54-token docs):
    * every doc's distinct k-token sliding windows hash into a global
    * window table; a doc sharing any window with an EARLIER doc is
    * flagged, with per-doc shared-window counts for span-level
    * removal downstream. Scale shape: window stream is one explode
    * (corpus-token-count-sized, the t9 wordcount volume), one
    * shuffle on the window hash for first-owner minima, and the
    * windows→firsts join reuses that exchange (same key) before the
    * per-doc roll-up — never doc×doc. Docs shorter than k tokens
    * have no windows and survive via the left join. */
  def d11WindowDedup(s: SparkSession, dir: String): DataFrame =
    windowDedupOf(Tables(s, dir, "documents"), 20)

  /** The d11 kernel over an arbitrary (doc_id, text) relation —
    * spec-testable with constructed overlap/disjoint/short docs. */
  def windowDedupOf(docs: DataFrame, k: Int): DataFrame = {
    // repartition(h): one full-row shuffle both consumers (first-owner
    // agg + the probe join) read — without it the agg's partial-agg
    // exchange and the join's row exchange differ and the explode+md5
    // window pass executes twice (round 16; the d4/d15 discipline)
    val wins = docs
      .repartition(col("doc_id")) // spread the explode (single-split file)
      .select(col("doc_id"), explode(array_distinct(
        graft.operators.MinHash.shingleCol(col("text"), k))).as("win"))
      .select(col("doc_id"), md5(col("win")).as("h"))
      .repartition(col("h"))
    val firsts = wins.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = wins.join(firsts, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .as("n_shared"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("is_dup"))
  }

  /** D12 Bloom-gated INCREMENTAL dedup — the shape dedup takes once a
    * corpus is in production and new data arrives in batches: the
    * HISTORICAL corpus's 20-token window hashes are summarized ONCE
    * into a Bloom filter (a fixed-size mergeable bitset — ~1.2 GB per
    * 10⁹ windows at 1 % fp — aggregated to the driver and broadcast;
    * at 100 TB the filter would be built once and persisted beside
    * the corpus, not rebuilt per batch), and each incoming batch
    * probes it WITHOUT shuffling against history. Only bloom-flagged
    * windows reach the exact verify pass, and there the corpus side
    * stays shuffle-free too: history scans once against the BROADCAST
    * flagged-window set (a semi join), so the only shuffled data all
    * session is flagged-slice-sized. Bloom filters have no false
    * negatives, so the verify stage sees every true duplicate —
    * false positives only cost verify volume, never correctness —
    * which is why the output is exactly the exhaustive window
    * intersection and the DuckDB oracle can check it in full.
    * Incoming batch = the deterministic `doc_id % 89` slice (the d8
    * bench-slice discipline). */
  def d12BloomDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val isNew = pmod(col("doc_id"), lit(89)) === 0
    bloomDedupOf(docs.where(!isNew), docs.where(isNew), k = 20, fpp = 0.01)
  }

  /** The d12 kernel over arbitrary (doc_id, text) corpus/incoming
    * relations — spec-testable with planted window copies. Build-time
    * note: the filter construction is necessarily eager (two jobs:
    * the window count sizing the filter — an overcount of duplicate
    * windows, which only widens it — and the bitset aggregation);
    * d12 is in CacheHygieneSpec's eagerByNature set. */
  def bloomDedupOf(corpus: DataFrame, incoming: DataFrame, k: Int,
      fpp: Double): DataFrame = {
    val (corWins, bloom) = bloomStateOf(corpus, k, fpp)
    bloomProbeOf(corWins, bloom, incoming, k)
  }

  /** Build-once half of d12: the corpus window-hash relation plus the
    * Bloom filter over it. In the streaming twin
    * (streaming/BloomDedupStream) this runs ONCE at stream start and
    * every micro-batch probes it — the production ingest shape where
    * the history is never recomputed; the batch entry simply builds
    * and probes in one call. */
  def bloomStateOf(corpus: DataFrame, k: Int, fpp: Double)
      : (DataFrame, Option[org.apache.spark.util.sketch.BloomFilter]) = {
    val winCol = explode(array_distinct(
      graft.operators.MinHash.shingleCol(col("text"), k)))
    // ONE corpus pass (round 17): the window explode+md5 fed three
    // actions — the sizing count, the stat.bloomFilter aggregation,
    // and the exact-verify semi join in bloomProbeOf — so the corpus
    // text was tokenized three times. Pin the window-hash relation
    // once (the d3/d4 signature-table discipline; the streaming twin
    // BloomDedupStream.prepare already pinned exactly this frame);
    // the count and the filter build read pinned blocks.
    val corWins = corpus.select(winCol.as("win"))
      .select(md5(col("win")).as("h"))
      .localCheckpoint()
    val nWins = corWins.count()
    // stat.bloomFilter NPEs on an empty relation (null agg buffer in
    // 4.x); an empty history flags nothing by definition
    val bloom = if (nWins == 0) None
      else Some(corWins.stat.bloomFilter("h", nWins, fpp))
    (corWins, bloom)
  }

  /** Probe half of d12 over an arbitrary incoming slice: Bloom-gate
    * the incoming window hashes, exact-verify the flagged slice
    * against the corpus window relation, report per-doc verdicts. */
  def bloomProbeOf(corWins: DataFrame,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter],
      incoming: DataFrame, k: Int): DataFrame = {
    val winCol = explode(array_distinct(
      graft.operators.MinHash.shingleCol(col("text"), k)))
    // lazy pin (round 17): the incoming window table feeds the bloom
    // probe (twice — the matched-hash broadcast build and the hits
    // join) and the per-doc count, so the slice was tokenized three
    // times; localCheckpoint(false) materializes on the first
    // consuming job and adds no build-time action (micro-batch-safe:
    // foreachBatch hands over plain batch frames).
    val incWins = incoming
      .select(col("doc_id"), winCol.as("win"))
      .select(col("doc_id"), md5(col("win")).as("h"))
      .localCheckpoint(false)
    val flagged = bloom match {
      case None => incWins.where(lit(false))
      case Some(b) =>
        val bc = incoming.sparkSession.sparkContext.broadcast(b)
        val mightContain = udf((h: String) => bc.value.mightContainString(h))
        incWins.where(mightContain(col("h")))
    }
    // exact verify: history scans once against the broadcast flagged
    // set; both distincts shuffle only flagged-slice-sized data
    val matchedH = corWins
      .join(broadcast(flagged.select(col("h")).distinct()), Seq("h"), "left_semi")
      .distinct()
    val hits = flagged.join(broadcast(matchedH), "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_windows"))
    val perDoc = incWins.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"))
    incoming.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_hit_windows"), lit(0L)).as("n_hit_windows"),
        (coalesce(col("n_hit_windows"), lit(0L)) > 0).as("is_dup"))
  }

  /** Sketch-based distinct counting — oracle-green since r7 via the
    * cross-engine-deterministic HLL (operators/DetHll.scala): the
    * register state and the estimate are exact md5-derived integer
    * arithmetic, so the full result (not just an error bound) replays
    * in DuckDB. Output keeps the mergeable sketch statistics
    * (hll_empty, hll_sum_q40) alongside the estimate — the state IS
    * the publishable object at 100 TB. */
  def sk1ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_partkey").cast("string").as("tok"))
    // ONE lineitem pass (round 17): the exact-count twin was a second
    // full scan joined back onto the estimate — the per-bucket counts
    // now ride the register aggregation (every row lands in exactly
    // one (flag, bucket) group, so sum(__bn) IS count(*) per flag)
    // and the est×cnt join disappears (guide §1.2, §2.4).
    graft.operators.DetHll.estimateWithCount(
      graft.operators.DetHll.registersWithCount(
        li, Seq("l_returnflag"), col("tok")),
      Seq("l_returnflag"), "approx_parts", "n")
      .select(col("l_returnflag"), col("approx_parts"), col("n"),
        col("hll_empty"), col("hll_sum_q40"))
  }

  /** D15: exact-substring REMOVAL — the deletion step of Lee-et-al
    * ExactSubstr dedup (d11 flags documents; real pipelines cut the
    * duplicated spans and keep the rest). Every k-token window keyed
    * by content hash keeps its FIRST occurrence (min (doc_id, start))
    * corpus-wide — self-repetition included; every other occurrence
    * becomes a removal span, overlapping/touching spans merge per
    * document, and the cleaned text drops the covered tokens.
    *
    * Scale shape: window extraction is a per-row explode; the only
    * corpus-wide shuffle is the first-owner groupBy on the window
    * hash (wordcount volume, the d11 key); span merging runs in
    * doc_id-keyed windows (never SinglePartition) and the span list
    * per document is bounded by the document's own length, so the
    * reconstruction join is row-local. Output carries md5(cleaned)
    * rather than the text so the result stays narrow; a caller doing
    * the real rewrite keeps the `kept` array instead of hashing it. */
  def d15SubstringStrip(s: SparkSession, dir: String): DataFrame =
    substringStripOf(Tables(s, dir, "documents"), 20)

  /** The d15 kernel over an arbitrary (doc_id, text) relation —
    * spec-testable with planted copies, partial overlaps, and
    * self-repetition. `k` = window length in tokens. Position keys
    * pack (doc_id, start) into one long with stride `maxTok`, so a
    * document of ≥ maxTok tokens would silently collide keys across
    * documents — the guard turns that into a loud `raise_error`
    * instead (spec-exercised with a small maxTok). */
  def substringStripOf(docs: DataFrame, k: Int,
      maxTok: Long = 1000000L): DataFrame = {
    // repartition(doc_id): spreads the window explode+md5 across cores
    // (the fixture is a single scan split) AND is the one exchange the
    // final rebuild join reuses for its probe side
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .repartition(col("doc_id"))
    // repartition(h): the window table feeds TWO consumers (the
    // first-owner agg and the dup-probe join) whose exchanges differ,
    // so without it the explode+md5 pass ran twice (the d4 shared-
    // exchange discipline; round 16). One full-row shuffle on h
    // replaces the partial-agg exchange + the join exchange, and both
    // consumers are already h-clustered afterwards.
    val wins = base.where(size(col("t")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - (k - 1)), i =>
          struct(i.as("i"),
            md5(array_join(slice(col("t"), i, lit(k)), " ")).as("h")))).as("w"))
      .select(col("doc_id"), col("w.i").as("i"), col("w.h").as("h"))
      .repartition(col("h"))
    val guardedI = when(col("i") < maxTok, col("i")).otherwise(raise_error(
      concat(lit(s"d15: document of >= $maxTok tokens — position key "
        + "would collide; raise maxTok (doc_id "),
        col("doc_id").cast("string"), lit(")"))))
    val posKey = col("doc_id") * lit(maxTok) + guardedI
    val firsts = wins.groupBy(col("h")).agg(min(posKey).as("first_key"))
    val dups = wins.join(firsts, "h")
      .where(posKey =!= col("first_key"))
      .select(col("doc_id"), col("i").as("lo"), (col("i") + k).as("hi"))
    // merge overlapping/touching spans: classic running-max interval
    // union, all inside doc_id-keyed windows
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("lo"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy(col("doc_id")).orderBy(col("lo"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val spans = dups
      .withColumn("prev_hi", max(col("hi")).over(wPrev))
      .withColumn("is_new",
        when(col("prev_hi").isNull || col("lo") > col("prev_hi"), 1L)
          .otherwise(0L))
      .withColumn("span_id", sum(col("is_new")).over(wCum))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
    val spanArr = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("lo"), col("hi"))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("hi") - col("lo")).cast("long").as("n_removed"))
    val indexed = transform(col("t"), (tk, ix) =>
      struct(tk.as("tk"), (ix + 1).as("ix")))
    val kept = when(col("spans").isNull, col("t")).otherwise(
      transform(filter(indexed, x =>
        !exists(col("spans"), sp =>
          x("ix") >= sp("lo") && x("ix") < sp("hi"))),
        x => x("tk")))
    base.join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tok"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        md5(array_join(kept, " ")).as("cleaned_md5"))
  }

  /** SK2: mergeable-sketch set operations — the pattern that makes
    * sketches matter at 100 TB: per-source (per-day, per-shard) HLL
    * sketches of the distinct-token space are built in ONE corpus
    * pass and then COMBINED without ever rescanning the data (a
    * per-bucket MAX merge is lossless — the union of sketches IS the
    * sketch of the union). A real pipeline stores these
    * per-partition sketches and answers "how many new tokens does
    * source X add to the union of the rest?" from kilobytes.
    * Oracle-green since r7 via the deterministic HLL
    * (operators/DetHll.scala): here the `__union__` row is computed
    * by MERGING the per-source register tables, while the DuckDB
    * twin recomputes the direct single-pass sketch of all sources —
    * their hash-equality is the lossless-merge identity, now checked
    * by the correctness gate every round instead of a spec fixture. */
  def sk2SketchUnion(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DetHll
    val toks = Tables(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
    // both consumers reference the identical registers subtree, so
    // ReuseExchange computes the corpus-sized aggregation once (the
    // d2 signature-subtree discipline); no checkpoint needed
    val regs = DetHll.registers(toks, Seq("source"), col("tok"))
    val per = DetHll.estimate(regs, Seq("source"), "est_distinct")
    val exact = toks.groupBy(col("source"))
      .agg(count_distinct(col("tok")).as("exact_distinct"))
    // union WITHOUT rescanning: per-bucket MAX over the register rows
    val uregs = regs.groupBy(col("bucket"))
      .agg(max(col("mx")).as("mx"))
      .withColumn("source", lit("__union__"))
    val union = DetHll.estimate(uregs, Seq("source"), "est_distinct")
      .withColumn("exact_distinct", lit(null).cast("long"))
    per.join(exact, "source")
      .select(col("source"), col("est_distinct"), col("exact_distinct"),
        col("hll_empty"), col("hll_sum_q40"))
      .unionByName(union.select(col("source"), col("est_distinct"),
        col("exact_distinct"), col("hll_empty"), col("hll_sum_q40")))
  }

  /** SK3: heavy hitters (frequent tokens) via Count-Min sketch — the
    * counting half of the mergeable-sketch discipline sk2 establishes
    * for cardinality. Heavy hitter = token holding ≥ φ of the
    * corpus's token mass (the Cormode–Muthukrishnan support
    * semantic — NOT top-k, which no local candidate tier can
    * guarantee). Per-source CMS sketches are built in ONE pass
    * (`count_min_sketch` partial-aggregates inside each task, so only
    * sketch blobs cross the shuffle) and merge ADDITIVELY on the
    * driver (CMS merge is cell-wise sum — the merged sketch is
    * bit-identical to a sketch of the concatenated stream at equal
    * seed, which the spec asserts). The candidate tier has a REAL
    * pigeonhole guarantee: a token with global count ≥ φ·N has
    * per-source count ≥ φ·N/S in at least one of the S sources, so
    * the support filter n·S·10⁶ ≥ φµ·N recalls EVERY true heavy
    * hitter — the spec plants a token below every per-source top-10
    * that is still the global #1 and asserts it survives. The final
    * est ≥ φ·N gate cannot drop a true hitter (CMS only ever
    * OVER-counts); near-threshold false positives are the standard
    * CMS trade. Only O(sources × sketch_bytes) plus the candidate
    * relation ever leave the executors.
    *
    * Oracle-green since r8: the sk3 QUERY surface runs on the
    * cross-engine-deterministic md5-bucket CMS
    * (operators/DetCms.scala — integer registers, 4-way MIN estimate,
    * exact-integer φ gate), which replays bit-for-bit in DuckDB
    * (DetCms.oracleSk3), completing the sketch family's hash-level
    * oracles. This native-blob kernel (heavyHittersOf below) stays
    * the general library surface — OperatorsSpec asserts its
    * no-false-negative recall, upper-bound guarantee, and merge
    * identity, and DetCmsSpec pins the two tiers' agreement. */
  def sk3HeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.DetCms
      .heavyHittersOf(Tables(s, dir, "documents"), 10000L) // φ = 1%

  /** The sk3 kernel over an arbitrary (source, text) relation.
    * `phiMicro` = support threshold φ in millionths of the corpus
    * token mass. All comparisons are exact integer arithmetic. */
  def heavyHittersOf(docs: DataFrame, phiMicro: Long): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val toks = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
    // sketch tier: one pass → per-source CMS blob + token mass; the
    // driver sees O(sources × sketch_bytes) and two scalars
    val perSrc = toks.groupBy(col("source"))
      .agg(expr("count_min_sketch(token, 0.001d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("m"))
      .collect()
    val blobs = perSrc.map(_.getAs[Array[Byte]]("cms"))
    val nMass = perSrc.map(_.getAs[Long]("m")).sum
    val nSrc = perSrc.length.toLong
    val mergedBytes: Array[Byte] =
      if (blobs.isEmpty) Array.emptyByteArray
      else {
        val m = blobs.map(CountMinSketch.readFrom)
          .reduce { (a, b) => a.mergeInPlace(b); a }
        val bos = new java.io.ByteArrayOutputStream()
        m.writeTo(bos)
        bos.toByteArray
      }
    val bc = docs.sparkSession.sparkContext.broadcast(mergedBytes)
    // candidate tier: per-source support filter — pigeonhole-complete
    val candidates = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") * lit(nSrc) * lit(1000000L) >= lit(phiMicro * nMass))
      .select(col("token")).distinct()
    val est = udf { (t: String) =>
      Sk3Probe.sketchFor(bc.value).estimateCount(t)
    }
    candidates
      .withColumn("est_count", est(col("token")))
      .where(col("est_count") * lit(1000000L) >= lit(phiMicro * nMass))
  }

  /** SK4: theta-sketch set INTERSECTIONS — the operation HLL (sk2)
    * cannot do: pairwise distinct-token overlap between sources,
    * estimated from per-source sketches without ever joining token
    * sets. Theta sketches keep the k smallest hashes (order- and
    * partition-independent ⇒ bit-deterministic), union/intersect in
    * sketch space, and degrade gracefully: below k retained entries
    * they are EXACT (the driver-gate regime, which is why the DuckDB
    * oracle can assert equality with true pairwise counts); above k
    * they estimate with ~1/√k error (the 100 TB regime, covered by
    * the spec's forced-estimation-mode bound).
    *
    * Scale shape: one distinct (source, token) shuffle (vocab-
    * bounded, Heaps' law), one per-source stream builds a fixed-size
    * sketch (`mapGroups` — the group NEVER materializes, the sketch
    * is O(k)), and only sources × ~32 KB of compact sketches reach
    * the driver, where the pairwise set algebra runs on kilobytes. */
  def sk4ThetaIntersect(s: SparkSession, dir: String): DataFrame =
    thetaIntersectOf(Tables(s, dir, "documents"))

  /** The sk4 kernel over an arbitrary (source, text) relation. */
  def thetaIntersectOf(docs: DataFrame): DataFrame = {
    import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
    import org.apache.datasketches.memory.Memory
    val sp = docs.sparkSession
    import sp.implicits._
    val sketches = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .where(length(col("token")) > 0)
      .distinct()
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val sk = UpdateSketch.builder().build()
        it.foreach(t => sk.update(t._2))
        (src, sk.compact().toByteArray)
      }
      .collect().sortBy(_._1)
    def wrap(b: Array[Byte]) = Sketches.wrapSketch(Memory.wrap(b))
    val rows = for {
      (sa, ba) <- sketches.toSeq
      (sb, bb) <- sketches.toSeq if sa < sb
    } yield {
      val inter = SetOperation.builder().buildIntersection()
      inter.intersect(wrap(ba)); inter.intersect(wrap(bb))
      val union = SetOperation.builder().buildUnion()
      union.union(wrap(ba)); union.union(wrap(bb))
      (sa, sb, math.rint(wrap(ba).getEstimate).toLong,
        math.rint(wrap(bb).getEstimate).toLong,
        math.rint(inter.getResult.getEstimate).toLong,
        math.rint(union.getResult.getEstimate).toLong)
    }
    rows.toDF("source_a", "source_b", "est_a", "est_b",
        "est_intersect", "est_union")
  }

  /** D16 edit-distance near-dup join (operators.EditDistance,
    * PassJoin pigeonhole candidates + thresholded levenshtein verify):
    * all document pairs whose chars 101–148 are within edit distance
    * 3 — the exact-criterion complement to d2's probabilistic MinHash
    * tier. The 48-char mid-document slice is where this fixture's
    * near-dup perturbations actually land (the head-48 slice is
    * byte-identical across copies, which would exercise nothing);
    * strings shorter than 24 chars at that offset are excluded on
    * BOTH sides (short-string edit distance is dominated by length
    * difference and belongs to d1's exact tier). */
  def d16EditdistJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 101, 48).as("pre"))
    graft.operators.EditDistance
      .selfJoin(docs, "doc_id", "pre", k = 3, minLen = 24, maxLen = 48)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d3_hamming_pairs" -> (d3HammingPairs _),
    "sk2_sketch_union" -> (sk2SketchUnion _),
    "sk3_heavy_hitters" -> (sk3HeavyHitters _),
    "sk4_theta_intersect" -> (sk4ThetaIntersect _),
    "d15_substring_strip" -> (d15SubstringStrip _),
    "d3_simhash_dups" -> (d3SimhashDups _),
    "d6_dup_clusters" -> (d6DupClusters _),
    "d13_keep_best" -> (d13KeepBest _),
    "d18_dedup_weights" -> (d18DedupWeights _),
    "o11_cluster_split" -> (o11ClusterSplit _),
    "d8_decontaminate" -> (d8Decontaminate _),
    "d9_fuzzy_decontaminate" -> (d9FuzzyDecontaminate _),
    "sk1_approx_distinct" -> (sk1ApproxDistinct _),
    "d1_exact_dedup" -> (d1ExactDedup _),
    "d2_minhash_lsh" -> (d2MinhashLsh _),
    "d2_minhash_pairs" -> (d2MinhashPairs _),
    "d14_incremental_minhash" -> (d14IncrementalMinhash _),
    "d3_simhash" -> (d3Simhash _),
    "d4_ngram_jaccard" -> (d4NgramJaccard _),
    "d4_neardup_pairs" -> ((s: SparkSession, dir: String) => nearDupPairs(s, dir)),
    "d5_embedding_dedup" -> (d5EmbeddingDedup _),
    "d11_window_dedup" -> (d11WindowDedup _),
    "d12_bloom_dedup" -> (d12BloomDedup _),
    "d16_editdist_join" -> (d16EditdistJoin _),
  )

  // ------------------------------------------------------------- oracle SQL

  // Mirrors MinHash.signatures exactly: one md5 per shingle, 60 bits
  // of the digest parsed to a bigint (nibble arithmetic — DuckDB has
  // no hex→int cast), then the k affine maps with the SAME (a_i, b_i)
  // constants interpolated from MinHash.affineCoeffs.
  private val sigSql: String =
    graft.operators.MinHash.affineCoeffs(K).map { case (a, b) =>
      s"list_min([($a * x + $b) % ${graft.operators.MinHash.Mod} for x in xs])"
    }.mkString("[", ", ", "]")

  private val sigCte: String =
    s"""WITH tok AS (
       | SELECT doc_id, string_split(text, ' ') AS t FROM documents
       | WHERE len(string_split(text, ' ')) >= 3),
       |shing AS (
       | SELECT doc_id, list_transform(range(1, len(t)-1),
       |   i -> array_to_string(t[i:i+2], ' ')) AS sh FROM tok),
       |xs AS (
       | SELECT doc_id,
       |  [list_sum([(strpos('0123456789abcdef', substr(md5(s), j, 1)) - 1)::BIGINT
       |     * (1::BIGINT << (4 * (15 - j))) for j in range(1, 16)])::BIGINT
       |   % ${graft.operators.MinHash.Mod} for s in sh] AS xs
       | FROM shing),
       |sig AS (SELECT doc_id, $sigSql AS sig FROM xs),
       |band AS (
       | SELECT doc_id, sig,
       |  md5(array_to_string(sig[1:${K / 2}], ',')) AS band0,
       |  md5(array_to_string(sig[${K / 2 + 1}:$K], ',')) AS band1
       | FROM sig)""".stripMargin

  // 64-bit mirror of simhash64: nibble j of md5 → 4 bits; bit j of the
  // signature comes from nibble j/4, shift 3 - j%4.
  private val simhashBitSums: String = (0 until 64)
    .map(j => s"SUM((nb[${j / 4 + 1}] >> ${3 - j % 4}) & 1) AS s$j")
    .mkString(", ")
  private val simhashBits: String = (0 until 64)
    .map(j => s"CASE WHEN s$j * 2 > n_tok THEN '1' ELSE '0' END")
    .mkString("concat(", ", ", ")")
  private val simhashBands: String = (0 until 4).map { k =>
    (0 until 16).map(i =>
      s"CASE WHEN s${16 * k + i} * 2 > n_tok THEN ${1 << (15 - i)} ELSE 0 END")
      .mkString("(", " + ", s")::INT AS band$k")
  }.mkString(", ")

  private val simhashBaseSql: String =
    s"""WITH tk AS (
       | SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       | FROM documents),
       |hh AS (SELECT doc_id, md5(tok) AS h FROM tk),
       |nib AS (SELECT doc_id,
       |  [strpos('0123456789abcdef', substr(h, i, 1)) - 1
       |   for i in range(1, 17)] AS nb FROM hh),
       |agg AS (SELECT doc_id, COUNT(*) AS n_tok, $simhashBitSums
       |        FROM nib GROUP BY doc_id)
       |SELECT doc_id, n_tok, $simhashBits AS simhash, $simhashBands
       |FROM agg""".stripMargin

  /** The d6 connected-components CTE chain (through `cc`), shared by
    * the d6 and d13 oracles so the cluster definition cannot diverge
    * between them. Ends inside the WITH list: append either d6's
    * final aggregate or d13's `, cl AS ... SELECT`. */
  private val ccClustersSql: String =
    s"""WITH RECURSIVE base AS ($simhashBaseSql),
       |banded AS (
       | SELECT doc_id, band0, band1, band2, band3, b AS band_idx,
       |  CASE b WHEN 0 THEN band0 WHEN 1 THEN band1
       |         WHEN 2 THEN band2 ELSE band3 END AS band_val
       | FROM base CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(b)),
       |pairs AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM banded a JOIN banded b
       |   ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |      AND a.doc_id < b.doc_id
       | WHERE bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
       |   + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) <= 3),
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM pairs
       | UNION ALL SELECT doc_b, doc_a FROM pairs),
       |cc(doc_id, comp) AS (
       | SELECT doc_id, doc_id FROM documents
       | UNION
       | SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.doc_id = e.src
       | WHERE cc.comp < e.dst)""".stripMargin

  /** Subquery: min-doc_id keeper per 64-bit simhash over `src`
    * (doc_id, text) — the m7 oracle's dedup_simhash stage. Mirrors
    * `simhash64Of` exactly as simhashBaseSql mirrors simhash64, but
    * parameterized on the source relation so it can run mid-pipeline
    * over the normalized, exact-deduped corpus. */
  private[graft] def simhashKeepersSql(src: String): String =
    s"""(WITH tk2 AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM $src),
       | hh2 AS (SELECT doc_id, md5(tok) AS h FROM tk2),
       | nib2 AS (SELECT doc_id,
       |   [strpos('0123456789abcdef', substr(h, i, 1)) - 1
       |    for i in range(1, 17)] AS nb FROM hh2),
       | agg2 AS (SELECT doc_id, COUNT(*) AS n_tok, $simhashBitSums
       |         FROM nib2 GROUP BY doc_id)
       | SELECT MIN(doc_id) AS doc_id FROM agg2 GROUP BY $simhashBits)""".stripMargin

  /** Exhaustive blocked exact-Jaccard pairs — shared by the d4
    * prefix-index path and the d2→d4 composed path (identical output,
    * see nearDupPairs scaladoc). */
  private val d4OracleSql: String =
    """WITH t AS (
      | SELECT doc_id, source,
      |  list_distinct(string_split(text, ' ')) AS tset
      | FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | len(list_intersect(a.tset, b.tset))::DOUBLE
      |   / len(list_distinct(a.tset || b.tset)) AS jaccard
      |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.tset, b.tset))::DOUBLE
      |   / len(list_distinct(a.tset || b.tset)) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  val oracle: Map[String, String] = Map(
    // sk1/sk2: r7 conversions — the deterministic HLL's registers and
    // estimate are exact md5-derived integer arithmetic, so the full
    // sketch replays in DuckDB (operators/DetHll.scala; sk2's oracle
    // additionally proves the lossless-merge identity).
    "sk1_approx_distinct" -> graft.operators.DetHll.oracleSk1,
    "sk2_sketch_union" -> graft.operators.DetHll.oracleSk2,
    // sk3: r8 conversion — deterministic md5-bucket CMS; registers,
    // min-count estimates, and the φ-support gate are exact integer
    // arithmetic (operators/DetCms.scala).
    "sk3_heavy_hitters" -> graft.operators.DetCms.oracleSk3(10000L),
    // d16: brute-force thresholded levenshtein over the same slice —
    // O(N²) is the oracle's privilege, PassJoin's absence its point.
    "d16_editdist_join" ->
      """WITH p AS (
        | SELECT doc_id, substr(text, 101, 48) AS pre FROM documents),
        |q AS (SELECT * FROM p WHERE length(pre) BETWEEN 24 AND 48)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
        |FROM q a JOIN q b ON a.doc_id < b.doc_id
        | AND abs(length(a.pre) - length(b.pre)) <= 3
        | AND levenshtein(a.pre, b.pre) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // sk4: TRUE pairwise vocabulary counts. Valid as an equality
    // oracle because the gate corpus (sf0.01) keeps every per-source
    // vocab far below theta's k=4096 — exact mode, where estimates
    // ARE the counts (documented in sk4ThetaIntersect's scaladoc);
    // estimation mode is spec-bounded, not oracle-checked.
    "sk4_theta_intersect" ->
      """WITH v AS (
        | SELECT DISTINCT source, t.t AS token
        | FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(t)
        | WHERE len(t.t) > 0),
        |c AS (SELECT source, COUNT(*)::BIGINT AS n FROM v GROUP BY 1),
        |i AS (
        | SELECT v1.source AS sa, v2.source AS sb, COUNT(*)::BIGINT AS n_i
        | FROM v v1 JOIN v v2 ON v1.token = v2.token
        |   AND v1.source < v2.source
        | GROUP BY 1, 2)
        |SELECT ca.source AS source_a, cb.source AS source_b,
        | ca.n AS est_a, cb.n AS est_b,
        | COALESCE(i.n_i, 0)::BIGINT AS est_intersect,
        | (ca.n + cb.n - COALESCE(i.n_i, 0))::BIGINT AS est_union
        |FROM c ca JOIN c cb ON ca.source < cb.source
        |LEFT JOIN i ON i.sa = ca.source AND i.sb = cb.source
        |ORDER BY source_a, source_b""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper,
        | COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin,
    "d2_minhash_lsh" ->
      s"""$sigCte
         |SELECT doc_id, band0, band1, sig[1] AS mh0, sig[$K] AS mh${K - 1}
         |FROM band ORDER BY doc_id""".stripMargin,
    "d14_incremental_minhash" ->
      s"""$sigCte,
         |hist AS (SELECT * FROM band WHERE doc_id % 10 <> 0),
         |batchb AS (SELECT * FROM band WHERE doc_id % 10 = 0),
         |cand AS (
         | SELECT b.doc_id AS doc_id, h.doc_id AS h_id, b.sig AS sig_b, h.sig AS sig_h
         | FROM batchb b JOIN hist h ON b.band0 = h.band0
         | UNION
         | SELECT b.doc_id, h.doc_id, b.sig, h.sig
         | FROM batchb b JOIN hist h ON b.band1 = h.band1),
         |est AS (
         | SELECT doc_id, h_id,
         |  len([i for i in range(1, ${K + 1}) if sig_b[i] = sig_h[i]])::DOUBLE / $K AS est_jaccard
         | FROM cand),
         |best AS (
         | SELECT doc_id, h_id, est_jaccard, ROW_NUMBER() OVER (
         |   PARTITION BY doc_id ORDER BY est_jaccard DESC, h_id) AS rn
         | FROM est)
         |SELECT b.doc_id, COALESCE(w.h_id, -1) AS match_id,
         | COALESCE(w.est_jaccard, 0.0) AS est_jaccard,
         | COALESCE(w.est_jaccard, 0.0) >= 0.5 AS is_dup
         |FROM batchb b LEFT JOIN (SELECT * FROM best WHERE rn = 1) w USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "d2_minhash_pairs" ->
      s"""$sigCte,
         |cand AS (
         | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
         | FROM band a JOIN band b ON a.band0 = b.band0 AND a.doc_id < b.doc_id
         | UNION ALL
         | SELECT a.doc_id, b.doc_id, a.sig, b.sig
         | FROM band a JOIN band b ON a.band1 = b.band1 AND a.doc_id < b.doc_id)
         |SELECT DISTINCT doc_a, doc_b,
         | len([i for i in range(1, ${K + 1}) if sig_a[i] = sig_b[i]])::DOUBLE / $K AS est_jaccard
         |FROM cand
         |WHERE len([i for i in range(1, ${K + 1}) if sig_a[i] = sig_b[i]])::DOUBLE / $K >= 0.75
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d3_simhash" ->
      s"""WITH base AS ($simhashBaseSql)
         |SELECT doc_id, n_tok, simhash FROM base ORDER BY doc_id""".stripMargin,
    "d3_hamming_pairs" ->
      s"""WITH base AS ($simhashBaseSql),
         |banded AS (
         | SELECT doc_id, band0, band1, band2, band3, b AS band_idx,
         |  CASE b WHEN 0 THEN band0 WHEN 1 THEN band1
         |         WHEN 2 THEN band2 ELSE band3 END AS band_val
         | FROM base CROSS JOIN (VALUES (0),(1),(2),(3)) AS bb(b))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         | (bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
         |  + bit_count(xor(a.band2, b.band2))
         |  + bit_count(xor(a.band3, b.band3)))::BIGINT AS hamming
         |FROM banded a JOIN banded b
         |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |     AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
         |  + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d3_simhash_dups" ->
      s"""WITH base AS ($simhashBaseSql)
         |SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
         |FROM base GROUP BY simhash HAVING COUNT(*) > 1
         |ORDER BY keeper""".stripMargin,
    "d8_decontaminate" ->
      """WITH g AS (
        | SELECT doc_id, doc_id % 97 = 0 AS is_bench,
        |  CASE WHEN len(string_split(text, ' ')) >= 8 THEN
        |   list_distinct([array_to_string(string_split(text, ' ')[i:i+7], ' ')
        |    for i in range(1, len(string_split(text, ' ')) - 6)])
        |  ELSE [] END AS grams
        | FROM documents),
        |bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE is_bench),
        |cg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_bench),
        |hits AS (
        | SELECT cg.doc_id, COUNT(*) AS n_hits
        | FROM cg JOIN bg USING (gram) GROUP BY cg.doc_id)
        |SELECT g.doc_id, COALESCE(h.n_hits, 0)::BIGINT AS n_hits,
        | COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
        |WHERE NOT g.is_bench
        |ORDER BY g.doc_id""".stripMargin,
    // d9: same signature CTE as d2, split into corpus/benchmark sides;
    // est_jaccard = m/16 is binary-exact, so no rounding slop
    "d9_fuzzy_decontaminate" ->
      s"""$sigCte,
         |c AS (SELECT doc_id, sig, band0, band1 FROM band WHERE doc_id % 97 != 0),
         |bn AS (SELECT doc_id, sig, band0, band1 FROM band WHERE doc_id % 97 = 0),
         |hits AS (
         | SELECT c.doc_id, bn.doc_id AS b_id,
         |  len([i for i in range(1, ${K + 1}) if c.sig[i] = bn.sig[i]])::DOUBLE / $K AS est_j
         | FROM c JOIN bn ON c.band0 = bn.band0
         | UNION ALL
         | SELECT c.doc_id, bn.doc_id,
         |  len([i for i in range(1, ${K + 1}) if c.sig[i] = bn.sig[i]])::DOUBLE / $K
         | FROM c JOIN bn ON c.band1 = bn.band1)
         |SELECT doc_id, COUNT(DISTINCT b_id)::BIGINT AS n_bench_hits,
         | MAX(est_j) AS max_est_jaccard
         |FROM hits WHERE est_j >= 0.5
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // connected components as a recursive CTE: a label l spreads along
    // any edge to a larger-id node; the component minimum reaches every
    // member (all other members have larger ids), so MIN(comp) per node
    // is exactly the min-id-in-component cluster label.
    "d6_dup_clusters" ->
      s"""$ccClustersSql
         |SELECT doc_id, MIN(comp) AS cluster_id FROM cc
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // o11 = d6's clusters + the o6-style md5-hex-threshold digest;
    // CC prefix shared verbatim with d6/d13/d18
    "o11_cluster_split" ->
      s"""$ccClustersSql,
         |cl AS (
         | SELECT doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY doc_id),
         |a AS (
         | SELECT doc_id, cluster_id,
         |  CASE WHEN md5('split:' || cluster_id) < 'cc' THEN 'train'
         |       WHEN md5('split:' || cluster_id) < 'e6' THEN 'holdout'
         |       ELSE 'test' END AS split
         | FROM cl),
         |lk AS (
         | SELECT COALESCE(SUM(CASE WHEN nsp > 1 THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS leaked_clusters
         | FROM (SELECT cluster_id, COUNT(DISTINCT split) AS nsp
         |       FROM a GROUP BY cluster_id))
         |SELECT split, COUNT(*)::BIGINT AS n_docs,
         | COUNT(DISTINCT cluster_id)::BIGINT AS n_clusters,
         | lk.leaked_clusters
         |FROM a CROSS JOIN lk
         |GROUP BY split, lk.leaked_clusters ORDER BY split""".stripMargin,
    // d18 = d6's clusters + size normalization; the CC prefix is the
    // same shared string as d6/d13 (drift-proof by construction)
    "d18_dedup_weights" ->
      s"""$ccClustersSql,
         |cl AS (
         | SELECT doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY doc_id),
         |sz AS (
         | SELECT cluster_id, COUNT(*)::BIGINT AS csize
         | FROM cl GROUP BY cluster_id)
         |SELECT cl.doc_id, cl.cluster_id, sz.csize,
         | ROUND(1e6 / sz.csize)::BIGINT AS weight_micro
         |FROM cl JOIN sz USING (cluster_id) ORDER BY cl.doc_id""".stripMargin,
    // d13 = d6's clusters + t2's quality, survivor per cluster: the
    // three sub-oracles (CC prefix, quality expression, window argmax)
    // must agree bit-for-bit with their standalone twins, so the first
    // two are shared strings, not copies.
    "d13_keep_best" ->
      s"""$ccClustersSql,
         |cl AS (
         | SELECT doc_id, MIN(comp) AS cluster_id FROM cc GROUP BY doc_id),
         |q AS (
         | SELECT doc_id,
         |  ROUND(len(list_filter(string_split(text,' '),
         |     t -> ${graft.queries.TextOps.stopPred}))::DOUBLE
         |    / len(string_split(text,' ')) * 0.5
         |   + LEAST(len(string_split(text,' '))::DOUBLE / 100.0, 1.0) * 0.5,
         |   6) AS quality
         | FROM documents),
         |r AS (
         | SELECT cl.doc_id, cl.cluster_id, q.quality,
         |  COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_members,
         |  ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
         |    ORDER BY q.quality DESC, cl.doc_id) AS rn
         | FROM cl JOIN q USING (doc_id))
         |SELECT doc_id, cluster_id, quality, n_members::BIGINT AS n_members,
         | rn = 1 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    // d15: the single global ROW-free mirror of substringStripOf —
    // first occurrence per window hash by (doc_id, start) key, span
    // merge via the same running-max window arithmetic, cleaned text
    // rebuilt by NOT EXISTS against the merged spans
    "d15_substring_strip" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |wins AS (
        | SELECT doc_id, i, md5(array_to_string(t[i:i+19], ' ')) AS h
        | FROM toks, LATERAL (SELECT unnest(range(1, len(t)-20+2)) AS i)
        | WHERE len(t) >= 20),
        |firsts AS (
        | SELECT h, min(doc_id * 1000000 + i) AS first_key FROM wins GROUP BY h),
        |dups AS (
        | SELECT w.doc_id, w.i AS lo, w.i + 20 AS hi
        | FROM wins w JOIN firsts f USING (h)
        | WHERE w.doc_id * 1000000 + w.i <> f.first_key),
        |marked AS (
        | SELECT doc_id, lo, hi,
        |  CASE WHEN max(hi) OVER (PARTITION BY doc_id ORDER BY lo
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |   OR lo > max(hi) OVER (PARTITION BY doc_id ORDER BY lo
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |  THEN 1 ELSE 0 END AS is_new
        | FROM dups),
        |grouped AS (
        | SELECT doc_id, lo, hi,
        |  SUM(is_new) OVER (PARTITION BY doc_id ORDER BY lo
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        | FROM marked),
        |spans AS (
        | SELECT doc_id, span_id, min(lo) AS lo, max(hi) AS hi
        | FROM grouped GROUP BY doc_id, span_id),
        |tokidx AS (
        | SELECT doc_id, i, t[i] AS tok
        | FROM toks, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i)),
        |kept AS (
        | SELECT ti.doc_id, ti.i, ti.tok FROM tokidx ti
        | WHERE NOT EXISTS (SELECT 1 FROM spans s
        |   WHERE s.doc_id = ti.doc_id AND ti.i >= s.lo AND ti.i < s.hi)),
        |cleaned AS (
        | SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS cleaned_md5
        | FROM kept GROUP BY doc_id),
        |stats AS (
        | SELECT doc_id, COUNT(*)::BIGINT AS n_spans,
        |  SUM(hi - lo)::BIGINT AS n_removed
        | FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, len(string_split(d.text, ' '))::BIGINT AS n_tok,
        | COALESCE(st.n_spans, 0)::BIGINT AS n_spans,
        | COALESCE(st.n_removed, 0)::BIGINT AS n_removed,
        | COALESCE(c.cleaned_md5, md5('')) AS cleaned_md5
        |FROM documents d
        |LEFT JOIN stats st USING (doc_id) LEFT JOIN cleaned c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d11_window_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |wins AS (
        | SELECT DISTINCT doc_id,
        |  md5(array_to_string(t[i:i+19], ' ')) AS h
        | FROM toks, LATERAL (SELECT unnest(range(1, len(t)-20+2)) AS i)
        | WHERE len(t) >= 20),
        |firsts AS (SELECT h, min(doc_id) AS first_doc FROM wins GROUP BY h),
        |per AS (
        | SELECT w.doc_id, COUNT(*)::BIGINT AS n_windows,
        |  SUM(CASE WHEN f.first_doc < w.doc_id THEN 1 ELSE 0 END)::BIGINT
        |    AS n_shared
        | FROM wins w JOIN firsts f USING (h) GROUP BY w.doc_id)
        |SELECT d.doc_id,
        | COALESCE(per.n_windows, 0)::BIGINT AS n_windows,
        | COALESCE(per.n_shared, 0)::BIGINT AS n_shared,
        | COALESCE(per.n_shared, 0) > 0 AS is_dup
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "d12_bloom_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |wins AS (
        | SELECT DISTINCT doc_id,
        |  md5(array_to_string(t[i:i+19], ' ')) AS h
        | FROM toks, LATERAL (SELECT unnest(range(1, len(t)-20+2)) AS i)
        | WHERE len(t) >= 20),
        |inc AS (SELECT * FROM wins WHERE doc_id % 89 = 0),
        |cor AS (SELECT DISTINCT h FROM wins WHERE doc_id % 89 <> 0),
        |hits AS (
        | SELECT i.doc_id, COUNT(*)::BIGINT AS n_hit
        | FROM inc i JOIN cor USING (h) GROUP BY i.doc_id),
        |per AS (
        | SELECT doc_id, COUNT(*)::BIGINT AS n FROM inc GROUP BY doc_id)
        |SELECT d.doc_id,
        | COALESCE(per.n, 0)::BIGINT AS n_windows,
        | COALESCE(hits.n_hit, 0)::BIGINT AS n_hit_windows,
        | COALESCE(hits.n_hit, 0) > 0 AS is_dup
        |FROM documents d
        |LEFT JOIN per USING (doc_id) LEFT JOIN hits USING (doc_id)
        |WHERE d.doc_id % 89 = 0 ORDER BY doc_id""".stripMargin,
    "d4_ngram_jaccard" -> d4OracleSql,
    // the composed path returns the same exact-Jaccard pair set as
    // d4 (MinHashSpec asserts set equality at the gate scale), so the
    // same exhaustive SQL oracles it. The minhash candidate tier is
    // probabilistic — P(miss | J = 0.9) = (1 − 0.9⁶)¹² ≈ 1.1e-4 per
    // pair — so at corpus sizes far beyond the gate a marginal pair
    // could slip the bands; the oracle then reports the slip instead
    // of hiding it, which is the point of the check.
    "d4_neardup_pairs" -> d4OracleSql,
    "d5_embedding_dedup" ->
      """WITH e AS (
        | SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | ROUND(list_sum([a.v[i]*b.v[i] for i in range(1,65)]) /
        |  (sqrt(list_sum([a.v[i]*a.v[i] for i in range(1,65)])) *
        |   sqrt(list_sum([b.v[i]*b.v[i] for i in range(1,65)]))), 6) AS cos_sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(list_sum([a.v[i]*b.v[i] for i in range(1,65)]) /
        |  (sqrt(list_sum([a.v[i]*a.v[i] for i in range(1,65)])) *
        |   sqrt(list_sum([b.v[i]*b.v[i] for i in range(1,65)]))), 6) >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin,
  )
}

/** Per-executor lazy cache for the sk3 broadcast CMS blob: the UDF
  * closure carries only the broadcast handle; each executor
  * deserializes the sketch once and probes it read-only. */
object Sk3Probe {
  @transient @volatile private var cached
    : (Array[Byte], org.apache.spark.util.sketch.CountMinSketch) = null

  def sketchFor(bytes: Array[Byte])
    : org.apache.spark.util.sketch.CountMinSketch = {
    val c = cached
    if (c != null && (c._1 eq bytes)) c._2
    else {
      val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes)
      cached = (bytes, sk)
      sk
    }
  }
}
