package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.PositionalEqual
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Reusable MinHash+LSH operator API (the library surface behind the
  * `d2_*` query entries; SURVEY north-star dedup).
  *
  * Pipeline: tokenize → shingle → K minhashes (explode → codegen'd
  * md5 → groupBy(min): the shuffle carries K hashes per doc, never
  * shingles) → `bands` banded keys → candidate pairs from one
  * band-bucket pass with the estimated-Jaccard verify inside each
  * bucket (`DupClusters.bucketPairs`).
  *
  * At 100 TB: `signatures` is a table you persist once per corpus
  * snapshot; `candidatePairs` is one shuffle on short band keys.
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
    * dominates the signature pass. A band key is the md5 of its rows'
    * minhashes joined by commas. */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 2, shingleN: Int = 3,
      materialize: Boolean = true): DataFrame =
    signatureTable(df, idCol, textCol, k, bands, shingleN,
      shingleCol(col(textCol), shingleN), materialize)(
      sh => conv(substring(md5(sh), 1, 15), 16, 10).cast("long") % Mod,
      rows => md5(concat_ws(",", rows: _*)))

  /** Production-speed signature variant: xxhash64 per shingle instead
    * of md5, and xxhash64 band keys — stays in whole-stage codegen
    * with no digest allocation, ~an order of magnitude cheaper per
    * shingle. Same LSH semantics (the same affine family over the
    * hashed shingle), but engine-specific hash values → used when no
    * cross-engine oracle parity is required (the md5 path exists
    * exactly for that parity). n = 1 shingles are the raw tokens: a
    * plain `split`, no n-gram assembly. */
  def signaturesFast(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 2, shingleN: Int = 3,
      materialize: Boolean = true): DataFrame =
    signatureTable(df, idCol, textCol, k, bands, shingleN,
      if (shingleN == 1) split(col(textCol), " ", -1)
      else shingleCol(col(textCol), shingleN), materialize)(
      sh => pmod(xxhash64(sh), lit(Mod)),
      rows => xxhash64(rows: _*))

  /** The signature builder behind [[signatures]] and
    * [[signaturesFast]]: `shingles` exploded per document, `hash` maps
    * a shingle to x in [0, [[Mod]]), the k minhashes are the minima of
    * the affine maps (a_i·x + b_i) mod [[Mod]] — one hash per shingle
    * instead of k — and `bandKey` folds each band's minhash columns. */
  private def signatureTable(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, shingleN: Int, shingles: Column, materialize: Boolean)(
      hash: Column => Column, bandKey: Seq[Column] => Column): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rowsPerBand = k / bands
    val co = affineCoeffs(k)
    val base = df
      .where(size(split(col(textCol), " ")) >= shingleN)
      .repartition(col(idCol))
      .select(col(idCol), explode(shingles).as("__sh"))
      .withColumn("__x", hash(col("__sh")))
    val aggs = (0 until k).map { i =>
      val (a, b) = co(i)
      min((col("__x") * a + b) % Mod).as(s"mh$i")
    }
    val sig = base.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val out = (0 until bands).foldLeft(sig) { (d, b) =>
      d.withColumn(s"band_$b", bandKey(
        (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))))
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
    * runs the star/cap machinery; `"off"` lifts it. Results are
    * identical on any corpus where no bucket exceeds the cap.
    *
    *  - [[capBucketMembers]] becomes a pass-through: off drops its
    *    count pass and splits, which is a real saving on a corpus the
    *    caller asserts is unskewed (no band bucket anywhere near
    *    [[DefaultMaxBucket]]).
    *  - The self-join surfaces (`DupClusters.bucketPairs`: d2, d3, d4
    *    pairs and the dup-labels build) only lose the cap: every
    *    bucket is held whole in one task's memory and emits all its
    *    pairs, the plain band self-join. That pass has no count pass
    *    to skip, so off saves nothing there, and a mega-bucket must
    *    fit in one task's heap (nothing spills). Its one use there is
    *    the unguarded reference arm of `graft.GuardRecall`. */
  val GuardConfKey = "spark.graft.lsh.skewGuard"

  private[operators] def guardOff(df: DataFrame): Boolean =
    df.sparkSession.conf.get(GuardConfKey, "on")
      .equalsIgnoreCase("off")

  /** Bipartite band-join guard: bounds the rows per bucket of a
    * PROBE-TARGET side to ~`maxBucket`, so the per-bucket fan-out of
    * a batch×history or corpus×benchmark band join stays bounded per
    * probing row. Buckets at or under the cap pass through
    * bit-identically; above it the kept set is the bucket's MIN-ID
    * row plus a deterministic xxhash64-threshold subset (expected
    * size ≤ maxBucket, Chernoff-concentrated) — bounded-recall
    * semantics, as in the self-join guard of `DupClusters.bucketPairs`.
    * That streaming pass cannot produce this kept set: the hash
    * threshold needs the bucket's full size n before it keeps any row,
    * so the cap keeps its own count pass.
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
    // one shared exchange: the count pass, the anti split and the
    // filtered big side all reuse it
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

  /** Candidate near-dup pairs `(id_a, id_b, est_jaccard)`, id_a < id_b,
    * with estimated Jaccard (equal signature positions / k) ≥
    * `threshold`, from one band-bucket pass
    * (`DupClusters.bucketPairs`, keyed on (band_idx, band_key)): each
    * bucket's pairs are verified inside its partition. Band buckets
    * larger than `maxBucket` star-pair to their min id instead of
    * emitting n² pairs.
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
    val exploded = sig
      .select(col(idCol),
        array((0 until k).map(i => col(s"mh$i")): _*).cast("array<bigint>").as("__sig"),
        posexplode(array((0 until bands).map(b => col(s"band_$b")): _*))
          .as(Seq("band_idx", "band_key")))
    val id = sig.schema(idCol).dataType
    val out = StructType(Seq(StructField("id_a", id), StructField("id_b", id),
      StructField("est_jaccard", DoubleType)))
    DupClusters.bucketPairs(exploded, Seq("band_idx", "band_key"), idCol,
        Seq("__sig"), out, maxBucket) { (x, y, star) =>
        def sigOf(r: Row) = new GenericArrayData(r.getSeq[Any](1))
        val est = PositionalEqual.equalCount(sigOf(x), sigOf(y)).toDouble / k
        if (est >= threshold || star) Some(Row(x.get(0), y.get(0), est)) else None
      }
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
