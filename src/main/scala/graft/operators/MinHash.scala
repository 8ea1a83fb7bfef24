package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable MinHash+LSH operator API (the library surface behind the
  * `d2_*` query entries; SURVEY north-star dedup).
  *
  * Pipeline: tokenize → shingle → K minhashes (explode → codegen'd
  * md5 → groupBy(min): the shuffle carries K hashes per doc, never
  * shingles) → `bands` banded keys → candidate pairs by band
  * equi-join → estimated-Jaccard verify.
  *
  * At 100 TB: `signatures` is a table you persist once per corpus
  * snapshot; `candidatePairs` is one shuffle join on short band keys.
  */
object MinHash {

  /** Word n-shingles of a text column.
    *
    * Historically a per-document Scala UDF (a transform/sequence/
    * element_at lambda chain evaluates interpreted per ELEMENT and
    * profiled slower than all 16 md5 passes combined); now a native
    * Catalyst expression (graftx.Shingles) with identical semantics —
    * no UTF8String↔String conversion round-trip, and the surrounding
    * split/explode/md5 pipeline stays in whole-stage codegen. Oracle
    * parity unchanged: Spark `split` keeps trailing empties exactly
    * like DuckDB `string_split`. */
  def shingleCol(textCol: Column, n: Int): Column =
    org.apache.spark.sql.graftx.Shingles.shingles(split(textCol, " "), n)

  /** 2^31−1 — modulus of the affine minhash family. */
  val Mod: Long = 2147483647L

  /** Deterministic coefficients (a_i, b_i) of the minhash family
    * h_i(x) = (a_i·x + b_i) mod [[Mod]]. The SAME constants are
    * interpolated into the DuckDB oracle SQL (DedupOps.sigCte) — do
    * not reseed without regenerating both sides. */
  def affineCoeffs(k: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(2026L)
    Seq.fill(k)((1L + rng.nextInt((Mod - 1).toInt).toLong,
      rng.nextInt(Mod.toInt).toLong))
  }

  /** Signature table: (idCol, mh0..mh{k-1}, band_0..band_{bands-1}).
    * Requires ≥ n tokens per row (shorter rows are dropped).
    *
    * ONE md5 per shingle: 60 bits of the digest parse to a bigint x,
    * and the k minhash functions are affine maps (a_i·x + b_i) mod
    * 2^31−1 — overflow-free in signed 64-bit on both engines, and the
    * DuckDB oracle replicates the arithmetic bit-exactly. Versus k
    * independent digests this removes ~15/16 of the hash cost, which
    * dominates the signature pass. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 2, shingleN: Int = 3,
      materialize: Boolean = true): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rowsPerBand = k / bands
    val co = affineCoeffs(k)
    val base = df
      .where(size(split(col(textCol), " ")) >= shingleN)
      .repartition(col(idCol))
      .select(col(idCol), explode(shingleCol(col(textCol), shingleN)).as("__sh"))
      .withColumn("__x",
        conv(substring(md5(col("__sh")), 1, 15), 16, 10).cast("long") % Mod)
    val aggs = (0 until k).map { i =>
      val (a, b) = co(i)
      min((col("__x") * a + b) % Mod).as(s"mh$i")
    }
    val sig = base.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val out = (0 until bands).foldLeft(sig) { (d, b) =>
      d.withColumn(s"band_$b", md5(concat_ws(",",
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i")): _*)))
    }
    if (materialize) out.persist() else out
  }

  /** Production-speed signature variant: xxhash64(seed, shingle)
    * instead of md5 — stays in whole-stage codegen with no digest
    * allocation, ~an order of magnitude cheaper per shingle. Same
    * LSH semantics (min over 64-bit hashes), but engine-specific
    * hash values → used when no cross-engine oracle parity is
    * required (the md5 path exists exactly for that parity). */
  def signaturesFast(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 2, shingleN: Int = 3,
      materialize: Boolean = true): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rowsPerBand = k / bands
    // n = 1 shingles are the raw tokens: plain split stays in
    // whole-stage codegen (the UDF exists only because n-gram
    // assembly is interpreted-lambda-hostile; see shingleUdf)
    val sh = if (shingleN == 1) split(col(textCol), " ", -1)
             else shingleCol(col(textCol), shingleN)
    // ONE xxhash64 per shingle + k affine maps (the same trick the
    // md5 oracle path uses): versus k independent xxhash64 passes
    // this removes (k−1)/k of the per-shingle hash cost, which
    // dominates at the d4 surface's k = 72 (isolated d4_neardup
    // 5.6 s → measured after: see commit). Same LSH semantics —
    // pairwise-independent affine family over the hashed shingle.
    val co = affineCoeffs(k)
    val base = df
      .where(size(split(col(textCol), " ")) >= shingleN)
      .repartition(col(idCol))
      .select(col(idCol), explode(sh).as("__sh"))
      .withColumn("__x", pmod(xxhash64(col("__sh")), lit(Mod)))
    val aggs = (0 until k).map { i =>
      val (a, b) = co(i)
      min((col("__x") * a + b) % Mod).as(s"mh$i")
    }
    val sig = base.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val out = (0 until bands).foldLeft(sig) { (d, b) =>
      d.withColumn(s"band_$b", xxhash64(
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i")): _*))
    }
    if (materialize) out.persist() else out
  }

  /** Default band-bucket guard threshold: far above any bucket the
    * gate corpora produce (oracle results unchanged by construction),
    * far below the 10⁵–10⁷-member buckets a boilerplate-heavy web
    * corpus plants on one band key. At 4096 the worst small-bucket
    * self-join is ~8.4M comparisons per bucket — one healthy task. */
  val DefaultMaxBucket: Int = 4096

  /** Session conf for the band-bucket skew guard: `"on"` (default)
    * runs the count-pass + star/cap machinery; `"off"` skips it
    * entirely — [[guardedBandPairs]] becomes the plain band self-join
    * and [[capBucketMembers]] a pass-through. Set it off ONLY for a
    * corpus the caller asserts is unskewed (no band bucket anywhere
    * near [[DefaultMaxBucket]]): it recovers the unguarded constants
    * (the count agg + anti/semi splits cost ~15–25 % on clean gate
    * corpora) at the price of the n² mega-bucket failure mode the
    * guard exists for. Results are identical on any corpus where no
    * bucket exceeds the cap — the only regime where turning it off
    * is legitimate. */
  val GuardConfKey = "spark.graft.lsh.skewGuard"

  private[operators] def guardOff(df: DataFrame): Boolean =
    df.sparkSession.conf.get(GuardConfKey, "on")
      .equalsIgnoreCase("off")

  /** Band-bucket SKEW GUARD for LSH self-joins — the 100 TB failure
    * mode SCALING.md names: millions of near-identical pages (cookie
    * banners, templated listings) share one band key, and the band
    * equi-join turns into an in-bucket n² that no executor finishes.
    *
    * Mechanism: one cheap `groupBy(bucket).count` pass (partial-agg —
    * only (key, count) shuffles) sizes every bucket; buckets
    * ≤ `maxBucket` self-join exactly as before (bit-identical pairs);
    * buckets above it switch to STAR pairing against the bucket's
    * min-id representative — O(n) pairs instead of O(n²). Sound for
    * dedup because members of one mega-bucket agree on a full band
    * (k/bands minhash rows), i.e. they are near-certain duplicates of
    * EACH OTHER; linking all of them to one representative puts the
    * whole bucket in one connected component, at a millionth of the
    * cost. Pair-level output within a mega-bucket is the star subset
    * (documented bounded-recall semantics).
    *
    * CONNECTIVITY SCOPE: the one-component claim holds for the
    * CANDIDATE graph this function returns. A caller that filters
    * pairs afterwards by a similarity predicate (est-Jaccard ≥ t,
    * hamming ≤ k, exact Jaccard) can drop a star edge (rep, member)
    * that a member–member edge of the unguarded join would have
    * passed, so mega-bucket clusters may fragment beyond the pair
    * loss. Callers for whom band agreement itself is the similarity
    * evidence should pass `emitStar = true` and exempt `is_star`
    * edges from the threshold (see [[candidatePairs]]); callers with
    * an EXACT verify must keep the filter (the output contract is the
    * exact predicate) and inherit the scoped claim.
    *
    * `exploded` columns: keyCols ++ (idCol, payloadCols…); returns
    * (id_a, id_b, payload_a…, payload_b… [, is_star]) with
    * id_a < id_b, possibly with cross-band duplicates — callers
    * `distinct()` as before. With `emitStar`, star edges carry
    * `is_star = true` (small-bucket pairs false).
    *
    * Honoring [[GuardConfKey]]: when the session asserts an unskewed
    * corpus, the whole count-pass branch is skipped and the plain
    * band self-join runs (identical results whenever no bucket
    * exceeds `maxBucket`). */
  def guardedBandPairs(exploded: DataFrame, keyCols: Seq[String],
      idCol: String, payloadCols: Seq[String],
      maxBucket: Int = DefaultMaxBucket,
      emitStar: Boolean = false): DataFrame = {
    require(maxBucket >= 2, "maxBucket must be >= 2")
    val keys = keyCols.map(col)
    def starred(df: DataFrame, star: Boolean) =
      if (emitStar) df.withColumn("is_star", lit(star)) else df
    if (guardOff(exploded)) {
      // caller-asserted clean corpus: one co-partitioned self-join,
      // no count pass, no anti/semi splits (both sides reuse the one
      // exchange via ReuseExchange exactly as before the guard)
      val ex = exploded.repartition(keys: _*)
      def side0(suffix: String) = ex.select(
        keys ++ (col(idCol).as(s"id_$suffix") +:
          payloadCols.map(c => col(c).as(s"${c}_$suffix"))): _*)
      val outCols0 = (Seq("id_a", "id_b") ++
        payloadCols.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col)
      return starred(
        side0("a").join(side0("b"), keyCols)
          .where(col("id_a") < col("id_b"))
          .select(outCols0: _*), star = false)
    }
    // ONE shared exchange for every consumer below: repartitioning on
    // the band keys here means the size agg, the anti/semi splits and
    // both self-join sides all read the SAME shuffle output
    // (ReuseExchange dedupes the identical subtree), so the signature/
    // explode lineage is computed once — without this the guard's
    // extra consumers re-evaluated it per branch, measured +25–35 % on
    // d2/d3/d16 at the 5x point. The join and the groupBy then need
    // no further exchange (already hash-clustered on keyCols).
    val ex = exploded.repartition(keys: _*)
    // Hot-bucket KEY SET, not per-row sizes: the qualifying keys are ≤
    // n/maxBucket rows — EMPTY on healthy corpora, so AQE broadcasts
    // them, the anti-join degenerates to a pass-through, and AQE's
    // empty-relation propagation prunes the whole star branch: the
    // unskewed plan pays one co-partitioned agg, nothing else.
    val bigKeys = ex.groupBy(keys: _*).agg(count(lit(1)).as("__bn"))
      .where(col("__bn") > maxBucket)
      .select(keys: _*)
    def side(suffix: String)(df: DataFrame) = df.select(
      keys ++ (col(idCol).as(s"id_$suffix") +:
        payloadCols.map(c => col(c).as(s"${c}_$suffix"))): _*)
    val outCols = (Seq("id_a", "id_b") ++
      payloadCols.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col)
    val small = ex.join(bigKeys, keyCols, "left_anti")
    val smallPairs = side("a")(small).join(side("b")(small), keyCols)
      .where(col("id_a") < col("id_b"))
      .select(outCols: _*)
    val big = ex.join(bigKeys, keyCols, "left_semi")
    val repAggs = min(col(idCol)).as("id_a") +:
      payloadCols.map(c => min_by(col(c), col(idCol)).as(s"${c}_a"))
    val reps = big.groupBy(keys: _*).agg(repAggs.head, repAggs.tail: _*)
    val bigPairs = side("b")(big).join(reps, keyCols)
      .where(col("id_a") =!= col("id_b"))
      .select(outCols: _*)
    starred(smallPairs, star = false).union(starred(bigPairs, star = true))
  }

  /** Bipartite band-join guard: bounds the rows per bucket of a
    * PROBE-TARGET side to ~`maxBucket`, so the per-bucket fan-out of
    * a batch×history or corpus×benchmark band join stays bounded per
    * probing row. Buckets at or under the cap pass through
    * bit-identically; above it the kept set is the bucket's MIN-ID
    * row plus a deterministic xxhash64-threshold subset (expected
    * size ≤ maxBucket, Chernoff-concentrated) — bounded-recall
    * semantics, same count-pass discipline as [[guardedBandPairs]].
    *
    * Deliberately NO `row_number` window over the band keys: on the
    * adversarial corpus this guard exists for, a 10⁷-row bucket would
    * be ONE task's sort before the cap applied. Instead: one cheap
    * co-partitioned count pass finds the (≤ n/maxBucket, usually
    * zero) oversized keys; small buckets anti-join through untouched;
    * big-bucket rows keep `xxhash64(id) mod ceil(n/maxBucket) == 0`
    * plus the min id — a per-row filter, never a per-bucket sort. The
    * guaranteed min-id row keeps duplicate clusters connected to the
    * keeper every sibling path elects, and a planted mega-bucket is
    * never emptied. Honors [[GuardConfKey]] (off → pass-through). */
  def capBucketMembers(exploded: DataFrame, keyCols: Seq[String],
      idCol: String, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    if (guardOff(exploded)) return exploded
    val keys = keyCols.map(col)
    val orig = exploded.columns.map(col)
    // one shared exchange, as in guardedBandPairs: count pass, the
    // anti split and the filtered big side all reuse it
    val ex = exploded.repartition(keys: _*)
    val bigKeys = ex.groupBy(keys: _*)
      .agg(count(lit(1)).as("__bn"), min(col(idCol)).as("__minid"))
      .where(col("__bn") > maxBucket)
    val small = ex.join(bigKeys.select(keys: _*), keyCols, "left_anti")
    val kept = ex.join(bigKeys, keyCols)
      .where(col(idCol) === col("__minid") ||
        pmod(xxhash64(col(idCol)),
          ceil(col("__bn").cast("double") / maxBucket).cast("long")) === 0)
    small.select(orig: _*).union(kept.select(orig: _*))
  }

  /** Candidate near-dup pairs with estimated Jaccard ≥ threshold.
    * Band buckets larger than `maxBucket` take the star-guard path
    * (see [[guardedBandPairs]]) instead of the in-bucket self-join.
    *
    * Star edges are EXEMPT from the threshold: members of a
    * mega-bucket agree on a full band (k/bands minhash rows), which
    * is precisely the similarity evidence this estimator surface
    * runs on, so a (rep, member) star edge is kept even when its
    * whole-signature estimate dips under `threshold` — otherwise a
    * mega-bucket cluster could fragment where the unguarded join's
    * member–member edges would have connected it. `est_jaccard` is
    * still reported truthfully on such rows (it may be < threshold);
    * below-cap buckets are unaffected (no star edges exist). */
  def candidatePairs(sig: DataFrame, idCol: String, k: Int = 16,
      bands: Int = 2, threshold: Double = 0.75,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val sigArr = array((0 until k).map(i => col(s"mh$i")): _*)
    val exploded = sig
      .select(col(idCol), sigArr.as("__sig"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*))
          .as(Seq("band_idx", "band_key")))
    // signature agreement as a native codegen loop (the interpreted
    // size(filter(sequence)) lambda was the per-candidate hot cost)
    val estJ = org.apache.spark.sql.graftx.PositionalEqual
      .equalCount(col("__sig_a"), col("__sig_b"))
      .cast("double") / k
    guardedBandPairs(exploded, Seq("band_idx", "band_key"), idCol,
        Seq("__sig"), maxBucket, emitStar = true)
      .select(col("id_a"), col("id_b"), estJ.as("est_jaccard"),
        col("is_star"))
      .where(col("est_jaccard") >= threshold || col("is_star"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .distinct()
  }

  /** Keeper selection: connected pairs collapse to min-id keepers
    * (1 round of label propagation per call — for deep duplicate
    * chains use the connected-component labels of
    * `DupClusters.computeLabels` instead). */
  def keepers(pairs: DataFrame, allIds: DataFrame, idCol: String): DataFrame = {
    val mins = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("keeper"))
    allIds.select(col(idCol))
      .join(mins, Seq(idCol), "left")
      .withColumn("keeper", coalesce(col("keeper"), col(idCol)))
  }
}
