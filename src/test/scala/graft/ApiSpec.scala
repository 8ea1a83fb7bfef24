package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

// The point of this spec: a consumer of the published library uses
// ONLY the facade — no graft.queries/graft.operators imports — and
// runs the README quickstart end-to-end on their own tables.
import graft.api.Graft

/** Facade contract: the README quickstart (exact dedup → minhash
  * pairs → cluster labels → survivorship/weights → leakage-safe
  * split) runs on a user-authored DataFrame through `graft.api.Graft`
  * alone, and the facade results agree with hand-derived expectations
  * on a planted corpus. */
class ApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  // planted corpus: docs 1/2 identical, 3 a near-copy of them (one
  // token changed), 4/5 unrelated singletons
  private def docs = {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    Seq(
      (1L, base), (2L, base), (3L, near),
      (4L, (1 to 40).map(i => s"x$i").mkString(" ")),
      (5L, (1 to 40).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
  }

  test("quickstart: exactDedup collapses the identical pair") {
    val d1 = Graft.dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(d1 === Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("clusterLabels rejects non-integral id columns, naming column and type") {
    import spark.implicits._
    val universe = Seq(1L, 2L).toDF("doc_id")
    val e = intercept[IllegalArgumentException](Graft.dedup.clusterLabels(
      Seq(("1", "2")).toDF("doc_a", "doc_b"), universe))
    assert(e.getMessage.contains("doc_a") && e.getMessage.contains("string"),
      e.getMessage)
    val u = intercept[IllegalArgumentException](Graft.dedup.clusterLabels(
      Seq((1, 2L)).toDF("doc_a", "doc_b"), Seq("1").toDF("doc_id")))
    assert(u.getMessage.contains("doc_id") && u.getMessage.contains("string"),
      u.getMessage)
  }

  test("quickstart: minhash pairs -> labels -> keepBest/weights/split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sig = Graft.dedup.minhashSignatures(docs, "doc_id", "text")
    val pairs = Graft.dedup.minhashCandidatePairs(sig, "doc_id")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // the three near-copies band together; the singletons never pair
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got.subsetOf(Set((1L, 2L), (1L, 3L), (2L, 3L))))
    assert(got.contains((1L, 2L))) // identical docs always collide

    val labels = Graft.dedup.clusterLabels(pairs, docs.select(col("doc_id")))
    val byDoc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(byDoc(1L) === byDoc(2L))            // same cluster
    assert(byDoc(4L) !== byDoc(1L))            // singleton stays alone
    assert(byDoc(4L) !== byDoc(5L))

    val quality = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (4L, 0.1), (5L, 0.2))
      .toDF("doc_id", "quality")
    val kept = Graft.dedup.keepBest(labels, quality)
      .where(col("keep")).collect().map(_.getLong(0)).toSet
    // the 1/2(/3) cluster keeps its highest-quality member: doc 2
    assert(kept.contains(2L) && !kept.contains(1L))
    assert(kept.contains(4L) && kept.contains(5L))

    val w = Graft.dedup.dedupWeights(labels)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(w(4L) === 1000000L)                 // singleton: full weight
    assert(w(1L) === w(2L) && w(1L) < 1000000L)

    val split = Graft.dedup.clusterSplit(labels).collect()
    assert(split.map(_.getLong(1)).sum === 5L)          // every doc assigned
    assert(split.forall(_.getLong(3) === 0L))           // leaked_clusters = 0
  }

  // every facade method is a thin delegation — assert the facade
  // call and the kernel call build the SAME logical plan (canonical
  // compare), the no-drift claim as a mechanical check
  private def samePlan(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)

  test("facade similarity family runs and delegates plan-identically") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val emb = Tables(spark, sf, "embeddings")
    val q = emb.where(col("vec_id") % 97 === 0).limit(4)
    // the Int* kernels embed driver-fitted broadcast state (sampled
    // centroids/planes), so two invocations canonicalize to different
    // plans by construction — for these, delegation is asserted by
    // RESULT equality (each kernel is bit-deterministic, so facade
    // output == kernel output iff the facade delegates)
    def sameRows(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Boolean =
      a.collect().map(_.toSeq).toSeq == b.collect().map(_.toSeq).toSeq
    val f = Graft.similarity.ivfTopK(emb, q, "embedding", "vec_id",
      k = 3, nlist = 8, nprobe = 2)
    assert(sameRows(f, graft.operators.IntKmeans.topK(emb, q,
      "embedding", "vec_id", 3, 8, 2, 2, 42L)))
    assert(f.collect().nonEmpty)
    val l = Graft.similarity.lshTopK(emb, q, "embedding", "vec_id",
      k = 3, dim = 64)
    assert(sameRows(l, graft.operators.IntKmeans.lshTopK(emb, q,
      "embedding", "vec_id", 3, 64, 42L)))
    val km = Graft.similarity.kmeansSummary(emb, "vec_id", "embedding",
      k = 4)
    assert(sameRows(km, graft.queries.SimilarityOps.kmeansSummaryOf(
      emb, "vec_id", "embedding", 4, 10, 42L)))
    assert(km.collect().length === 4)
    val pc = Graft.similarity.pcaProjectDeterministic(emb, "vec_id",
      "embedding", nComponents = 2)
    assert(pc.collect().nonEmpty)
  }

  test("facade sketches family runs and delegates plan-identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode, split, length}
    val srcDocs = Seq(
      ("a", "x x x y z"), ("a", "x q r"), ("b", "x x zz")).toDF("source", "text")
    val toks = srcDocs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0)
    val regs = Graft.sketches.hllRegisters(toks, Seq("source"), col("tok"))
    assert(samePlan(regs, graft.operators.DetHll.registers(
      toks, Seq("source"), col("tok"))))
    val est = Graft.sketches.hllEstimate(regs, Seq("source"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("a" -> 5L, "b" -> 2L)) // small range = exact

    val hh = Graft.sketches.heavyHitters(srcDocs, phiMicro = 300000L)
    assert(samePlan(hh,
      graft.operators.DetCms.heavyHittersOf(srcDocs, 300000L)))
    // 'x' holds 6/11 of the mass — the only >=30% hitter
    assert(hh.collect().map(_.getString(0)).toSeq === Seq("x"))

    val counts = toks.groupBy(col("tok").as("token"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val cms = Graft.sketches.cmsEstimate(
      counts.select(col("token")), Graft.sketches.cmsRegisters(counts))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cms("x") >= 6L) // CMS only over-counts

    val dq = Graft.sketches.sampleQuantiles(
      Seq.tabulate(100)(i => ("g", (i + 1).toDouble, i.toLong))
        .toDF("grp", "v", "id"), "grp", "v", col("id"))
    assert(samePlan(dq, graft.operators.DetQuantiles.quantiles(
      Seq.tabulate(100)(i => ("g", (i + 1).toDouble, i.toLong))
        .toDF("grp", "v", "id"), "grp", "v", col("id"))))
    assert(dq.collect().head.getDouble(2) === 50.0)
  }

  test("facade pack family runs on user tables") {
    import org.apache.spark.sql.functions.col
    val ch = Graft.pack.chunkWindows(docs, win = 16, stride = 8)
    assert(ch.collect().nonEmpty)
    val mp = Graft.pack.mixPlan(
      docs.withColumn("source",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("src"),
          col("doc_id").cast("string")))
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(col("text")).cast("long")))
    assert(mp.collect().nonEmpty)
  }

  test("facade tables family: commit/merge/time-travel on user tables") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("api-tables-").toString
    val v1 = Graft.tables.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    Graft.tables.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "s"), t, "id")
    assert(Graft.tables.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === Seq((1L, "a"), (2L, "B"), (3L, "c")))
    assert(Graft.tables.read(spark, t, Some(v1)).count() === 2L)
    assert(Graft.tables.versions(t) === Seq(1, 2))
    assert(Graft.tables.commitIfAbsent(Seq((9L, "x")).toDF("id", "s"),
      t, "app", 0L).isDefined)
    assert(Graft.tables.commitIfAbsent(Seq((9L, "x")).toDF("id", "s"),
      t, "app", 0L).isEmpty)
  }

  test("facade text + splits + events families run on user tables") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val q = Graft.text.qualityScore(docs).collect()
    assert(q.length === 5)

    val asg = Graft.splits.assign(docs, "doc_id", "s", 0.6, seed = 1L)
    val sizes = asg.groupBy(col("bucket")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.sum === 5L && sizes("train") === 3L)

    val ev = Seq((1L, 1L, 1000000000L, "view"), (1L, 2L, 2000000000L, "click"),
      (1L, 3L, 3000000000L, "buy")).toDF("user_id", "event_id", "ts", "event_type")
    val tr = Graft.events.transitions(ev).collect()
    assert(tr.length === 2) // view→click, click→buy
  }

  test("facade materials family: generators, enumeration, eigen, pipeline") {
    val seeds = Graft.materials.seeds(spark)
    assert(seeds.count() === 2L)

    val subs = Graft.materials.substitution(seeds,
      Map("Ag" -> 0.5, "Pd" -> 0.5), nconfigs = 4, ranSeed = 7L).collect()
    assert(subs.nonEmpty && subs.forall(_.configType.contains("sub")))
    val vacs = Graft.materials.vacancy(seeds, 0.25, nconfigs = 2,
      ranSeed = 7L).collect()
    assert(vacs.nonEmpty && vacs.forall(c => c.n < 8))
    val sup = Graft.materials.supercell(seeds, Seq(2, 1, 1)).collect()
    assert(sup.map(_.n).sorted.toSeq === Seq(8, 16))

    // fcc binary sizes 2-4: the oracle-pinned 27-structure census
    val enum0 = Graft.materials
      .enumerate(spark, "fcc", 4.05, Seq("Ag", "Pd"), 2, 4)
    assert(enum0.count() === 27L)

    val protos = Graft.materials.prototypes(spark, Seq("all"),
      Seq("Ag", "Pd"), Map("Ag" -> 4.09, "Pd" -> 3.89)).collect()
    assert(protos.nonEmpty)

    val eigs = Graft.materials.hessianEigen(
      graft.pipeline.MaterialsPipeline.hessianSeed,
      graft.calculators.StubCalculator(k = 1.0))
    assert(eigs.length === 3) // the analytic stub spectrum

    val e2e = Graft.materials.endToEnd(spark).collect()
    assert(e2e.nonEmpty)
  }

  test("facade media family: decode features, resize, frame sampling, phash") {
    val media = graft.operators.Multimodal
      .mediaFromDocuments(spark, "/root/testdata/sf0.001")
    val feats = Graft.media.decodeFeatures(media).collect()
    assert(feats.map(_.kind).distinct.sorted.toSeq ===
      Seq("audio", "image", "video"))
    val resized = Graft.media.resizeImages(media, 4, 4)
      .filter(_.kind == "image").head()
    assert(resized.width === 4 && resized.height === 4)
    val frames = Graft.media.sampleFrames(media, rate = 2).collect()
    assert(frames.nonEmpty && frames.forall(_.frame_idx % 2 == 0))
    val img = graft.sources.Bmp.Image(2, 2, Array(0, 0xFFFFFF, 0, 0xFFFFFF))
    assert(Graft.media.phash64(img) === Graft.media.phash64(img))
  }

  test("facade hashing family runs and delegates plan-identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, md5}
    val base = (1L to 500L).map(i => (s"g${i % 2}", i)).toDF("grp", "id")
      .select(col("grp"), md5(concat_ws("|", col("grp"), col("id"))).as("row_h"))
    val f = Graft.hashing.chunkedHashAgg(base, Seq("grp"))
    assert(samePlan(f, graft.core.Hashing.chunkedHashAgg(base, Seq("grp"))))
    assert(f.collect().length === 2)
    assert(Graft.hashing.tableHash(base) === graft.core.Hashing.tableHash(base))
    base.createOrReplaceTempView("api_th")
    assert(Graft.hashing.tableHashSql("api_th", Nil) ===
      graft.core.Hashing.tableHashSql("api_th", Nil))
    Graft.hashing.registerSqlFunctions(spark)
    assert(spark.sql("SELECT chunk_len(100L) AS l").collect()(0).getInt(0) === 1)
  }
}
