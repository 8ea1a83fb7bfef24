package graft

import org.apache.spark.graftspec.JobLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MinHash

class MinHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  test("near-identical docs collide on a band; distinct docs don't") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i")
      .mkString(" ")
    val different = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, different))
      .toDF("id", "text")
    val sig = MinHash.signatures(df, "id", "text")
    val pairs = MinHash.candidatePairs(sig, "id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("fast xxhash64 signatures find the same near-dup (no oracle path)") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i")
      .mkString(" ")
    val different = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, different))
      .toDF("id", "text")
    val sig = MinHash.signaturesFast(df, "id", "text")
    val pairs = MinHash.candidatePairs(sig, "id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("fuzzy decontamination flags a planted benchmark paraphrase (d9)") {
    import spark.implicits._
    // bench doc 0; doc 1 is a one-token paraphrase of it; docs 2-3 are
    // unrelated corpus docs; doc 97 is a second bench doc nothing matches
    // same planted pair as the band-collision test above: a one-token
    // tail rewrite alters exactly one 3-shingle (J = 37/39), which
    // these seeded hashes reliably band-collide on
    val bench = (1 to 40).map(i => s"tok$i").mkString(" ")
    val paraphrase = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i")
      .mkString(" ")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((0L, bench), (1L, paraphrase), (2L, other),
      (3L, (1 to 40).map(i => s"els$i").mkString(" ")),
      (97L, (1 to 40).map(i => s"bn$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sig = MinHash.signatures(df, "doc_id", "text", materialize = false)
    val out = graft.queries.DedupOps.fuzzyContaminated(
      sig, pmod(col("doc_id"), lit(97)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq === Seq(1L)) // only the paraphrase flags
    assert(out.head._2 === 1L) // against exactly one bench doc
    assert(out.head._3 >= 0.5) // with a high estimated Jaccard
  }

  test("nearDupPairs (d2 candidates → d4 exact verify) equals the exact d4 join at sf0.01") {
    // The composition must lose NOTHING against the exhaustive
    // prefix-filtered join: candidate recall at J ≥ 0.9 is
    // 1 − (1 − J⁴)¹² ≈ 1, and the verify stage is the identical
    // exact-Jaccard expression — so the pair sets are equal, not just
    // similar. Deterministic (seeded hashes), so this is a hard
    // equality, not a flaky-recall assertion.
    val dir = "/root/testdata/sf0.01"
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val composed = keyed(graft.queries.DedupOps.nearDupPairs(spark, dir))
    val exact = keyed(graft.queries.DedupOps.d4NgramJaccard(spark, dir))
    assert(composed === exact)
    assert(composed.nonEmpty)
  }

  test("job budget: warm d2_minhash_pairs and d4_neardup_pairs at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    // (query, build jobs, jobs, stages with skipped ones, stages that
    // read a shuffle) over build + collect, after one warm-up run
    val budgets = Seq(
      ("d2_minhash_pairs", 0, 4, 10, 6),
      ("d4_neardup_pairs", 0, 6, 12, 6))
    budgets.foreach { case (name, buildJobs, maxJobs, maxStages, maxReads) =>
      val fn = SparkEntry.queries(name)
      fn(spark, sf).collect()
      val (df, built) = JobLog.record(spark.sparkContext)(fn(spark, sf))
      val (_, ran) = JobLog.record(spark.sparkContext)(df.collect())
      val jobs = built ++ ran
      info(s"$name: ${built.size} build jobs, ${jobs.size} jobs, " +
        s"${jobs.map(_.stages).sum} stages, ${jobs.map(_.stages - 1).sum} read a shuffle")
      assert(built.size <= buildJobs, built.mkString("\n"))
      assert(jobs.size <= maxJobs, jobs.mkString("\n"))
      assert(jobs.map(_.stages).sum <= maxStages, jobs.mkString("\n"))
      assert(jobs.map(_.stages - 1).sum <= maxReads, jobs.mkString("\n"))
    }
  }

  test("band-bucket skew guard: a 10^4-doc mega-bucket yields O(n) star pairs, not n^2") {
    import spark.implicits._
    // the adversarial corpus SCALING.md item 8 names: boilerplate so
    // common that one band key collects 10^4 docs — unguarded, the
    // band self-join would emit ~5*10^7 candidate pairs from this
    // bucket alone; the guard stars them to the min-id representative
    val n = 10000
    val text = (1 to 10).map(i => s"boiler$i").mkString(" ")
    val df = (1L to n.toLong).map(i => (i, text)).toDF("id", "text")
    val sig = MinHash.signaturesFast(df, "id", "text", materialize = false)
    val pairs = MinHash.candidatePairs(sig, "id", threshold = 0.5,
      maxBucket = 64).collect()
    assert(pairs.length === n - 1)            // star, not n(n-1)/2
    assert(pairs.forall(_.getLong(0) === 1L)) // rep is the min id
    assert(pairs.forall(_.getDouble(2) === 1.0))
    // cluster semantics unchanged: keepers collapse everything to id 1
    val k = MinHash.keepers(
        spark.createDataFrame(spark.sparkContext.parallelize(
          pairs.toIndexedSeq), pairsSchema),
        df.select("id"), "id")
      .collect().map(r => r.getLong(1))
    assert(k.forall(_ == 1L))
  }

  private def pairsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id_a",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("id_b",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("est_jaccard",
      org.apache.spark.sql.types.DoubleType)))

  test("skew guard is a no-op below the cap: guarded == unguarded pair sets") {
    import spark.implicits._
    // three small near-dup clusters + singletons, every bucket far
    // under the cap → the guard must be bit-invisible
    val rows = (0 until 3).flatMap { c =>
      (0 until 5).map { j =>
        val toks = (1 to 30).map(i =>
          if (i == 30 && j > 0) s"var${c}_$j" else s"c${c}tok$i")
        ((c * 10 + j + 1).toLong, toks.mkString(" "))
      }
    } ++ Seq((100L, (1 to 30).map(i => s"solo$i").mkString(" ")))
    val df = rows.toDF("id", "text")
    val sig = MinHash.signatures(df, "id", "text", materialize = false)
    def pairSet(maxBucket: Int) =
      MinHash.candidatePairs(sig, "id", threshold = 0.5,
          maxBucket = maxBucket)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    val guarded = pairSet(8)             // above any bucket here (<= 5)
    val unguarded = pairSet(Int.MaxValue)
    assert(guarded === unguarded)
    assert(guarded.nonEmpty)
  }

  test("capBucketMembers: small buckets pass through bit-identically, no Window in the plan") {
    import spark.implicits._
    val df = Seq(
      (0, "k1", 5L), (0, "k1", 3L), (0, "k1", 9L), (0, "k1", 1L),
      (1, "k2", 7L), (1, "k2", 2L)).toDF("band_idx", "band_key", "h_id")
    val out = MinHash.capBucketMembers(
      df, Seq("band_idx", "band_key"), "h_id", maxBucket = 4)
    // count-pass discipline: never a row_number window over the band
    // keys (one 10^7-row bucket would be a single task's sort)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "capBucketMembers must not plan a Window")
    val capped = out.collect().map(r => (r.getInt(0), r.getLong(2))).toSet
    assert(capped === Set((0, 1L), (0, 3L), (0, 5L), (0, 9L), (1, 2L), (1, 7L)))
    assert(out.columns.toSeq === df.columns.toSeq)
  }

  test("capBucketMembers bounds a planted mega-bucket and always keeps its min id") {
    import spark.implicits._
    val n = 20000
    val big = (1L to n.toLong).map(i => (0, "mega", i)) ++
      Seq((1, "tiny", 41L), (1, "tiny", 42L))
    val out = MinHash.capBucketMembers(
        big.toDF("band_idx", "band_key", "h_id"),
        Seq("band_idx", "band_key"), "h_id", maxBucket = 256)
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val mega = out.filter(_._1 == "mega").map(_._2)
    // expected size = n / ceil(n/256) = 20000/79 ≈ 253; allow 4x slack
    // over the Chernoff-concentrated expectation, never the full n
    assert(mega.length >= 1 && mega.length <= 4 * 256,
      s"kept ${mega.length} of $n")
    assert(mega.contains(1L), "min-id member must survive the cap")
    assert(out.filter(_._1 == "tiny").map(_._2).sorted.toSeq === Seq(41L, 42L))
  }

  test("approx distinct sketch stays within its error bound") {
    val sf = "/root/testdata/sf0.001"
    val approx = graft.queries.DedupOps.sk1ApproxDistinct(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val rel = math.abs(approx(k).toDouble - ex) / ex
      assert(rel < 0.1, s"flag $k: approx=${approx(k)} exact=$ex")
    }
  }

  test("keepers collapse duplicate groups to min ids") {
    import spark.implicits._
    val all = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.9), (4L, 5L, 0.8))
      .toDF("id_a", "id_b", "est_jaccard")
    val k = MinHash.keepers(pairs, all, "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(k(1L) === 1L && k(2L) === 1L && k(3L) === 1L)
    assert(k(4L) === 4L && k(5L) === 4L)
    assert(k(6L) === 6L)
  }

  test("every native graftx expression is callable from SQL after registration") {
    // getOrCreate on the suite-shared session ignores withExtensions,
    // so exercise the imperative registration path
    org.apache.spark.sql.graftx.GraftExtensions.register(spark)
    val v = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(v === 11.0)
    val inter = spark.sql(
      "SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS i")
      .collect()(0).getInt(0)
    assert(inter === 2)
    val kept = spark.sql("SELECT keep_alpha_space('a1b 2c!') AS k")
      .collect()(0).getString(0)
    assert(kept === "ab c")
    val sh = spark.sql("SELECT shingles(array('a','b','c'), 2) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh === Seq("a b", "b c"))
    // non-literal n fails loudly at plan time, not silently
    assertThrows[Exception](
      spark.sql("SELECT shingles(array('a','b'), 1 + 1)").collect())

    // Column-composition surfaces (r9): expand to built-in trees
    val ch = spark.sql(
      """SELECT content_hash(array(array(1.0D)), array(array(2.0D)),
        |  array('Si')) AS h""".stripMargin).collect()(0).getString(0)
    val chCol = spark.range(1).select(graft.core.Hashing.contentHashCol(
        array(array(lit(1.0))), array(array(lit(2.0))), array(lit("Si")))
        .as("h")).collect()(0).getString(0)
    assert(ch === chCol && ch.length === 40)
    assert(spark.sql("SELECT chunk_len(8192L) AS l, chunk_len(8193L) AS l2")
      .collect()(0).toSeq === Seq(1, 2))
    assert(spark.sql("SELECT fnmatch('alloy.AgPd.s42', 'alloy.*.s?2') AS m")
      .collect()(0).getBoolean(0))
    assert(!spark.sql("SELECT fnmatch('alloy.AgPd.s42', 'elemental.*') AS m")
      .collect()(0).getBoolean(0))
    assertThrows[Exception](
      spark.sql("SELECT fnmatch('x', concat('a', 'b'))").collect())
  }

  test("tableHashSql (pure-SQL chunked hash) equals chunkedHashAgg") {
    import spark.implicits._
    val base = (1L to 4000L).map(i => (s"g${i % 3}", i)).toDF("grp", "id")
      .select(col("grp"), md5(concat_ws("|", col("grp"), col("id"))).as("row_h"))
    base.createOrReplaceTempView("th_rows")
    val viaSql = spark.sql(
        graft.core.Hashing.tableHashSql("th_rows", Seq("grp")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val viaDf = graft.core.Hashing.chunkedHashAgg(base, Seq("grp"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(viaSql === viaDf)
    assert(viaSql.map(_._2).sum === 4000L)
    // ungrouped form too (the tableHash whole-relation surface)
    val sqlAll = spark.sql(graft.core.Hashing.tableHashSql("th_rows", Nil))
      .collect()(0)
    assert(sqlAll.getString(1) ===
      graft.core.Hashing.chunkedHashAgg(base, Nil)
        .collect()(0).getAs[String]("table_hash"))
  }

  test("decontamination flags docs sharing an 8-gram with the benchmark (D8)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decon").toString
    // doc 0 is the benchmark slice (0 % 97 == 0); doc 1 embeds doc 0's
    // 8-gram verbatim; doc 2 shares nothing
    val gram8 = "alpha bravo charlie delta echo foxtrot golf hotel"
    Seq(
      (0L, gram8 + " india juliet", "en", "bench", 40L),
      (1L, "leading words then " + gram8 + " trailing", "en", "web", 50L),
      (2L, "one two three four five six seven eight nine ten", "en", "web", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.DedupOps.d8Decontaminate(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet === Set(1L, 2L)) // benchmark doc excluded
    assert(out(1L)._2 === true && out(1L)._1 >= 1L)
    assert(out(2L) === ((0L, false)))
  }

  test("d14 incremental probe: batch finds its history near-dup; novel docs report -1") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i")
      .mkString(" ")
    val novel = (1 to 40).map(i => s"fresh$i").mkString(" ")
    val history = MinHash.signatures(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text",
      materialize = false)
    val batch = MinHash.signatures(
      Seq((10L, nearDup), (20L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", materialize = false)
    val out = queries.DedupOps.incrementalProbeOf(batch, history).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out(10L) === ((1L, true)))   // collides with history doc 1
    assert(out(20L) === ((-1L, false))) // no band collision anywhere
  }

  test("d14 from the materialized signature table equals a fresh recompute") {
    val sf = "/root/testdata/sf0.001"
    graft.operators.SessionTable.invalidate()
    val viaStore = queries.DedupOps.d14IncrementalMinhash(spark, sf)
      .collect().toSeq.sortBy(_.getLong(0)) // query output is unordered (r16)

    // fresh history signatures, bypassing the store entirely
    val docs = Tables(spark, sf, "documents")
    val isBatch = pmod(col("doc_id"), lit(10)) === 0
    val freshHist = MinHash.signatures(docs.where(!isBatch),
      "doc_id", "text", materialize = false)
    val batch = MinHash.signatures(docs.where(isBatch),
      "doc_id", "text", materialize = false)
    val fresh = queries.DedupOps.incrementalProbeOf(batch, freshHist)
      .orderBy(col("doc_id")).collect().toSeq

    assert(viaStore === fresh)
  }

  /** Hand-crafted signature table: every doc agrees on mh0..mh7 (so
    * band_0 is one shared bucket) and differs on mh8..mh15 (band_1
    * singleton buckets) → pairwise est_jaccard is exactly 8/16. */
  private def halfAgreeSig(n: Int) = {
    import spark.implicits._
    (1L to n.toLong).map { i =>
      (i, Seq.fill(8)(7L) ++ (1 to 8).map(j => i * 100 + j),
        "shared", s"solo$i")
    }.toDF("id", "mh", "band_0", "band_1")
      .select(col("id") +:
        (0 until 16).map(j => element_at(col("mh"), j + 1).as(s"mh$j")) :+
        col("band_0") :+ col("band_1"): _*)
  }

  test("star edges are exempt from the est-Jaccard threshold (cluster connectivity)") {
    // 100 docs band-identical on band_0 only: est = 0.5 < 0.75, so the
    // UNGUARDED join finds nothing — but once band_0 is a mega-bucket,
    // its members are band-identical near-dups by construction and the
    // star edges must survive the threshold, keeping the bucket one
    // component. est_jaccard is still reported truthfully (0.5).
    val sig = halfAgreeSig(100)
    val unguarded = MinHash.candidatePairs(sig, "id", threshold = 0.75,
      maxBucket = Int.MaxValue).collect()
    assert(unguarded.isEmpty)
    val starred = MinHash.candidatePairs(sig, "id", threshold = 0.75,
      maxBucket = 16).collect()
    assert(starred.length === 99)
    assert(starred.forall(r => r.getLong(0) === 1L && r.getDouble(2) === 0.5))
  }

  test("d9/d14 plans contain no Window partitioned by band keys") {
    val sf = "/root/testdata/sf0.001"
    graft.operators.SessionTable.invalidate()
    def bandWindows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(
            _.name.toLowerCase.contains("band"))) => w
      }
    assert(bandWindows(
      queries.DedupOps.d14IncrementalMinhash(spark, sf)).isEmpty)
    assert(bandWindows(
      queries.DedupOps.d9FuzzyDecontaminate(spark, sf)).isEmpty)
  }

  test("planted d14 history mega-bucket: bounded probe fan-out, min-id match survives") {
    import spark.implicits._
    val text = (1 to 10).map(i => s"boiler$i").mkString(" ")
    val history = MinHash.signatures(
      (2L to 10001L).map(i => (i, text)).toDF("doc_id", "text"),
      "doc_id", "text", materialize = false)
    val batch = MinHash.signatures(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text",
      materialize = false)
    val out = queries.DedupOps.incrementalProbeOf(batch, history).collect()
    assert(out.length === 1)
    val r = out.head
    // est 1.0 everywhere → rank-1 tiebreak is the lowest h_id, and the
    // cap guarantees the min-id history member survives
    assert(r.getLong(1) === 2L)
    assert(r.getDouble(2) === 1.0 && r.getBoolean(3))
  }

  test("d14 match-identity CONTRACT: verdict cap-invariant, match_id = best survivor") {
    import spark.implicits._
    // History mega-bucket (5000 > DefaultMaxBucket): every member
    // agrees on band_0 ("shared", mh0..7 = 7) and is unique on
    // mh8..15. ONE member M — chosen to be dropped by the cap's
    // xxhash64 threshold — also agrees with the batch doc on mh8..15,
    // i.e. M is the GLOBAL argmax (est 1.0). This is exactly the
    // regime GuardRecall measured at 0.9896 match_id agreement: the
    // documented bounded-recall contract is
    //   (a) the DUP VERDICT is cap-invariant (band agreement alone
    //       puts est at 0.5 ≥ the 0.5 verdict threshold),
    //   (b) match_id is the best match AMONG THE SURVIVING probed
    //       subset (min-id member guaranteed in it), deterministic
    //       across runs — but NOT necessarily the global argmax.
    val n = 5000L
    def sigRow(id: Long, tail: Long => Long, b1: String) =
      (id, (0 until 8).map(_ => 7L) ++ (8 until 16).map(j => tail(j.toLong)),
        "shared", b1)
    // M: smallest id ≥ 3 the cap's hash threshold drops
    // (ceil(5000/4096) = 2 → survivors have xxhash64(id) % 2 == 0)
    val m: Long = spark.range(3, n + 1)
      .where(pmod(xxhash64(col("id")), lit(2L)) =!= 0L)
      .orderBy(col("id")).head()
    val hist = ((2L to n).map(i =>
      sigRow(i, j => i * 100 + j, s"solo$i")))
      .toDF("doc_id", "mh", "band_0", "band_1")
    val batchDf = Seq(sigRow(1L, j => m * 100 + j, "batchsolo"))
      .toDF("doc_id", "mh", "band_0", "band_1")
    def widen(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id") +:
        (0 until 16).map(j => element_at(col("mh"), j + 1).as(s"mh$j")) :+
        col("band_0") :+ col("band_1"): _*)
    def probe() = queries.DedupOps
      .incrementalProbeOf(widen(batchDf), widen(hist)).collect()
    // unguarded truth: the global argmax M at est 1.0
    spark.conf.set(MinHash.GuardConfKey, "off")
    val off = try probe() finally spark.conf.unset(MinHash.GuardConfKey)
    assert(off.head.getLong(1) === m && off.head.getDouble(2) === 1.0)
    // guarded: M is dropped; the best SURVIVOR at est 0.5 is the
    // guaranteed min-id member 2; the verdict is unchanged
    val on1 = probe()
    val on2 = probe() // determinism across runs
    assert(on1.map(_.toSeq).toSeq === on2.map(_.toSeq).toSeq)
    val r = on1.head
    assert(r.getLong(1) === 2L,
      s"best survivor must be the guaranteed min-id member, got ${r.getLong(1)}")
    assert(r.getDouble(2) === 0.5)
    assert(r.getBoolean(3) === off.head.getBoolean(3),
      "the dup VERDICT must be cap-invariant")
  }

  /** A signature relation in the shape of DupClustersSpec's planted
    * one: a band_0 mega-bucket "shared" of ids 1..10 plus a repeated id
    * 5 and a null id, whose members agree on mh0..7, id i > 1 with
    * every later member on the first i − 1 of mh8..15 and id 1 with no
    * one there; a small band_1 bucket {20, 21, 22} where id 22 has a
    * null band_0, as has id 23 (same signature, no shared band_1); and
    * 200 random rows on few band values (buckets that all outgrow a
    * cap of 4) with mh8..15 drawn from {0, 1}. `source` splits the
    * random rows in two blocks for d4. */
  private def plantedSig: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def row(id: Option[Long], tail: Seq[Long], b0: Option[String], b1: String,
        source: String) = (id, Seq.fill(8)(7L) ++ tail, b0, b1, source)
    val big = (1 to 10).map(i => row(Some(i.toLong),
        (0 until 8).map(j => if (j < i - 1) 100L + j else i * 1000L + j),
        Some("shared"), s"own$i", "web")) ++ Seq(
      row(Some(5L), (0 until 8).map(j => 100L + j), Some("shared"), "own5b", "web"),
      row(None, (0 until 8).map(j => 100L + j), Some("shared"), "own0", "web"))
    val small = Seq(
      row(Some(20L), (0 until 8).map(j => 200L + j), Some("solo20"), "small", "web"),
      row(Some(21L), (0 until 8).map(j => if (j < 6) 200L + j else 9L), Some("solo21"),
        "small", "web"),
      row(Some(22L), (0 until 8).map(j => 200L + j), None, "small", "web"),
      row(Some(23L), (0 until 8).map(j => 200L + j), None, "own23", "web"))
    val rnd = new scala.util.Random(7)
    val random = (100 until 300).map(i => row(Some(i.toLong),
      Seq.fill(8)(rnd.nextInt(2).toLong), Some(s"r${rnd.nextInt(5)}"),
      s"q${rnd.nextInt(8)}", if (i % 3 == 0) "wiki" else "web"))
    (big ++ small ++ random).toDF("id", "mh", "band_0", "band_1", "source")
      .select(col("id") +:
        (0 until 16).map(j => element_at(col("mh"), j + 1).as(s"mh$j")) :+
        col("band_0") :+ col("band_1") :+ col("source"): _*)
  }

  private def bandRows(sig: org.apache.spark.sql.DataFrame) =
    posexplode(array(sig("band_0"), sig("band_1"))).as(Seq("band_idx", "band_key"))

  test("candidatePairs and the d4 candidate step equal the band self-join reference") {
    val sig = plantedSig
    val exploded = sig.select(col("id"),
      array((0 until 16).map(i => col(s"mh$i")): _*).as("__sig"), bandRows(sig))
    val d4Rows = sig.select(col("id").as("doc_id"), col("source"), bandRows(sig))
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val estJ = org.apache.spark.sql.graftx.PositionalEqual
      .equalCount(col("__sig_a"), col("__sig_b")).cast("double") / 16
    val got = Seq(4, Int.MaxValue).map { cap =>
      val d2 = triples(MinHash.candidatePairs(sig, "id", threshold = 0.75, maxBucket = cap))
      assert(d2 === triples(BandPairsReference(exploded, Seq("band_idx", "band_key"),
          "id", Seq("__sig"), cap)
        .where(estJ >= 0.75 || col("is_star"))
        .select(col("id_a"), col("id_b"), estJ).distinct()))
      val d4 = pairs(queries.DedupOps.nearDupCandidates(d4Rows, cap))
      assert(d4 === pairs(BandPairsReference(d4Rows, Seq("source", "band_idx", "band_key"),
        "doc_id", Nil, cap).select(col("id_a"), col("id_b")).distinct()))
      (d2, d4)
    }
    val ((d2Star, d4Star), (d2All, d4All)) = (got(0), got(1))
    // the mega-bucket: star edges from id 1, below the threshold too;
    // without the cap only pairs at est ≥ 0.75 and every band pair
    assert(d2Star.filter(_._2 <= 10).map(_._2) === (2L to 10L).toSet)
    assert(d2Star.contains((1L, 2L, 0.5)) && !d2All.exists(p => p._1 == 1L && p._2 == 2L))
    assert(d2All.contains((5L, 10L, 1.0)) && !d2Star.exists(p => p._1 == 5L && p._2 == 10L))
    assert(d2Star.contains((20L, 21L, 14.0 / 16)) && d2All.contains((20L, 21L, 14.0 / 16)))
    assert(d4All.size > d4Star.size && d4Star.contains((1L, 10L)) && d4All.contains((2L, 3L)))
    // ids 22 and 23 (null band_0s, equal signatures) share no bucket:
    // 22 pairs only through band_1, 23 with nothing
    assert(d2Star.contains((20L, 22L, 1.0)) && d4Star.contains((20L, 22L)))
    assert(!(d2Star ++ d2All).exists(_._2 == 23L) && !(d4Star ++ d4All).exists(_._2 == 23L))
    // no d4 pair crosses a source block
    val wiki = sig.where(col("source") === "wiki").collect().map(_.getLong(0)).toSet
    assert((d4Star ++ d4All).forall(p => wiki(p._1) == wiki(p._2)))
    assert((d2Star ++ d2All).forall(p => p._1 < p._2) && (d4Star ++ d4All).forall(p => p._1 < p._2))
  }

  test("skew-guard bypass flag: plain plan, identical results on a clean corpus") {
    import spark.implicits._
    val rows = (0 until 3).flatMap { c =>
      (0 until 5).map { j =>
        val toks = (1 to 30).map(i =>
          if (i == 30 && j > 0) s"off${c}_$j" else s"g${c}tok$i")
        ((c * 10 + j + 1).toLong, toks.mkString(" "))
      }
    }
    val df = rows.toDF("id", "text")
    val sig = MinHash.signatures(df, "id", "text", materialize = false)
    def run() = MinHash.candidatePairs(sig, "id", threshold = 0.5)
    // candidate generation is one exchange on the bucket key and no
    // join, with the guard on and off alike
    def shape(df: org.apache.spark.sql.DataFrame) = {
      val plan = df.queryExecution.optimizedPlan
      (plan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
          if r.partitionExpressions.exists(_.references.exists(_.name == "band_key")) => r
      }.size, plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size)
    }
    val withGuard = run()
    assert(shape(withGuard) === (1, 0))
    val guardOn = withGuard.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set(MinHash.GuardConfKey, "off")
    try {
      val bypassed = run()
      assert(shape(bypassed) === (1, 0))
      val guardOff = bypassed.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(guardOff === guardOn)
      assert(guardOff.nonEmpty)
      // capBucketMembers honors the flag too: pure pass-through
      val capped = MinHash.capBucketMembers(
        (1L to 50L).map(i => (0, "k", i)).toDF("band_idx", "band_key", "h_id"),
        Seq("band_idx", "band_key"), "h_id", maxBucket = 4)
      assert(capped.count() === 50L)
    } finally spark.conf.set(MinHash.GuardConfKey, "on")
  }
}
