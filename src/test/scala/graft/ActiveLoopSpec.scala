package graft

import java.nio.file.Files
import org.apache.spark.sql.graftx.JobLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.calculators.StubCalculator
import graft.core.Config
import graft.generators.Generators
import graft.pipeline.{ActiveLoop, ConfigRow, MaterialsPipeline}

class ActiveLoopSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  test("active loop grows the set, dedups, and resumes from state") {
    val path = Files.createTempDirectory("active").toString + "/active_set"
    val loop = new ActiveLoop(spark, StubCalculator(), path)
    loop.bootstrap(MaterialsPipeline.seeds)
    assert(loop.currentIteration === 0)
    val n0 = loop.current.count()
    assert(n0 === 2)

    val added1 = loop.step(nCandidatesPerConfig = 3, selectK = 4)
    assert(added1 > 0)
    assert(loop.currentIteration === 1)

    val added2 = loop.step(nCandidatesPerConfig = 3, selectK = 4)
    assert(added2 > 0)
    assert(loop.currentIteration === 2)

    val all = loop.current
    assert(all.count() === n0 + added1 + added2)
    // content-hash dedup: no uuid appears twice across iterations
    assert(all.select("uuid").distinct().count() === all.count())
    // iteration column tracks membership (active.py `iter_N`)
    assert(all.select("iteration").distinct().count() === 3)

    // resume: a NEW loop over the same path continues, not restarts
    val resumed = new ActiveLoop(spark, StubCalculator(), path)
    assert(resumed.currentIteration === 2)
    // bootstrap is a no-op on existing state
    resumed.bootstrap(MaterialsPipeline.seeds)
    assert(resumed.current.count() === all.count())
  }

  private def freshPath(): String =
    Files.createTempDirectory("active").toString + "/active_set"

  test("run stops at the first step that adds nothing") {
    val one = new ActiveLoop(spark, StubCalculator(), freshPath())
    one.bootstrap(MaterialsPipeline.seeds)
    val (n, stepJobs) = JobLog.record(spark.sparkContext)(
      one.step(nCandidatesPerConfig = 0, selectK = 4))
    assert(n === 0 && stepJobs.nonEmpty)

    val loop = new ActiveLoop(spark, StubCalculator(), freshPath())
    loop.bootstrap(MaterialsPipeline.seeds)
    val (added, runJobs) = JobLog.record(spark.sparkContext)(
      loop.run(5, nCandidatesPerConfig = 0, selectK = 4))
    assert(added.isEmpty)
    // exactly one step's jobs: the four budgeted steps after the
    // converged one never run
    assert(runJobs.size === stepJobs.size, runJobs.mkString("\n"))
    assert(loop.currentIteration === 0)
  }

  test("two loops on one path take turns through the listing-keyed cache") {
    val path = freshPath()
    val a = new ActiveLoop(spark, StubCalculator(), path)
    val b = new ActiveLoop(spark, StubCalculator(), path)
    a.bootstrap(MaterialsPipeline.seeds)
    b.bootstrap(MaterialsPipeline.seeds) // sees A's iteration 0: no-op
    val added = Seq(a, b, a, b).map { loop =>
      val n = loop.step(nCandidatesPerConfig = 3, selectK = 4)
      assert(n > 0)
      n
    }
    assert(a.currentIteration === 4 && b.currentIteration === 4)
    val all = a.current
    val iters = all.groupBy("iteration").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(iters.keySet === (0 to 4).toSet)
    assert((1 to 4).map(iters(_)) === added)
    assert(all.select("uuid").distinct().count() === all.count())
    assert(all.count() === 2 + added.sum)
    assert(new ActiveLoop(spark, StubCalculator(), path)
      .currentIteration === 4)
  }

  test("step before bootstrap fails with a clear message") {
    val loop = new ActiveLoop(spark, StubCalculator(), freshPath())
    val e = intercept[IllegalArgumentException](
      loop.step(nCandidatesPerConfig = 3, selectK = 4))
    assert(e.getMessage.contains("no active set"))
    assert(e.getMessage.contains("call bootstrap first"))
  }

  /** The shuffle-based step pipeline that the partition-local top-k
    * pass replaced (dropDuplicates, global orderBy.limit, left_anti
    * join), kept as the reference: the top-k candidates it selects from
    * `cur` for iteration `iter`, and those of them it would append. */
  private def referenceStep(cur: DataFrame, iter: Int, nCand: Int,
      selectK: Int, ranSeed: Long): (Seq[Config], Seq[Config]) = {
    import spark.implicits._
    val seed = ranSeed + iter
    val cal = StubCalculator()
    val cands = cur.as[ConfigRow].flatMap { row =>
      Generators.distortion(row.toConfig, nCand,
        covDiag = 0.0016, volumeFactor = 1.0, rattle = 0.02,
        ranSeed = seed)
    }.dropDuplicates("uuid")
    val graded = cands.map(cal.extract(_))
      .map(c => (c, math.abs(c.energy.getOrElse(0.0))))
      .toDF("config", "grade")
    val selected = graded.orderBy(col("grade").desc,
        col("config.uuid").asc).limit(selectK)
      .select(col("config.*"))
    val fresh = selected.join(cur.select(col("uuid")),
      Seq("uuid"), "left_anti").as[Config]
    (selected.as[Config].collect().toSeq, fresh.collect().toSeq)
  }

  private def configsAt(path: String, iter: Int): Seq[Config] = {
    import spark.implicits._
    spark.read.parquet(path).where(col("iteration") === iter)
      .as[ConfigRow].map(_.toConfig).collect().toSeq.sortBy(_.uuid)
  }

  /** One step of `loop`, which must append exactly the reference's
    * rows; returns how many it added. */
  private def stepLikeReference(loop: ActiveLoop, path: String,
      ranSeed: Long, nCand: Int, selectK: Int): Long = {
    val iter = loop.currentIteration + 1
    val (_, expected) =
      referenceStep(loop.current, iter, nCand, selectK, ranSeed)
    val added = loop.step(nCand, selectK)
    val at = s"ranSeed $ranSeed, nCand $nCand, selectK $selectK, iteration $iter"
    val got = configsAt(path, iter)
    val want = expected.sortBy(_.uuid)
    assert(got.map(_.uuid) === want.map(_.uuid), at)
    assert(got === want, at)
    assert(added === want.size.toLong, at)
    added
  }

  private val ranSeeds = Seq(42L, 7L, 301L, 2024L)

  private def bootstrapped(ranSeed: Long): (ActiveLoop, String) = {
    val path = freshPath()
    val loop = new ActiveLoop(spark, StubCalculator(), path, ranSeed)
    loop.bootstrap(MaterialsPipeline.seeds)
    (loop, path)
  }

  /** Appends `rows` to the table at `path` as one more data file. */
  private def appendFile(path: String, rows: Seq[ConfigRow]): Unit = {
    import spark.implicits._
    spark.createDataset(rows).toDF().coalesce(1)
      .write.mode("append").parquet(path)
  }

  test("step adds the reference's rows, selectK below and above the candidates") {
    for (rs <- ranSeeds; k <- Seq(3, 1000)) {
      val (loop, path) = bootstrapped(rs)
      val added = (1 to 3).map(_ =>
        stepLikeReference(loop, path, rs, nCand = 3, selectK = k))
      // 2 seeds × 3 draws: below k = 1000 every candidate is added
      if (k == 1000) assert(added.head === 6L)
      else assert(added.forall(_ <= 3L))
    }
  }

  test("step adds the reference's rows with no candidates") {
    for (rs <- ranSeeds) {
      val (loop, path) = bootstrapped(rs)
      assert(stepLikeReference(loop, path, rs, nCand = 0, selectK = 4) === 0L)
      assert(loop.currentIteration === 0)
    }
  }

  test("step adds the reference's rows when equal candidates arise in two partitions") {
    import spark.implicits._
    for (rs <- ranSeeds; k <- Seq(3, 1000)) {
      val (loop, path) = bootstrapped(rs)
      // one active row again in a second file: its draws repeat there
      appendFile(path, loop.current.as[ConfigRow].orderBy("uuid")
        .limit(1).collect().toSeq)
      assert(loop.current.rdd.getNumPartitions === 2)
      (1 to 2).foreach(_ =>
        stepLikeReference(loop, path, rs, nCand = 3, selectK = k))
    }
  }

  test("step adds the reference's rows when the seen check drops a candidate") {
    for (rs <- ranSeeds) {
      val (loop, path) = bootstrapped(rs)
      // plant the best candidate of the coming step in the table
      val (top, _) = referenceStep(loop.current, 1, 3, 1000, rs)
      val planted = top.head
      appendFile(path, Seq(ConfigRow(planted.uuid, planted.groupUuid,
        planted.n, planted.symbols, planted.species, planted.cell,
        planted.positions, planted.pbc, planted.energy, planted.force,
        planted.virial, planted.configType, planted.params,
        planted.properties, iteration = 0)))
      assert(loop.currentIteration === 0)
      val (selected, fresh) = referenceStep(loop.current, 1, 3, 1000, rs)
      assert(selected.exists(_.uuid == planted.uuid))
      assert(!fresh.exists(_.uuid == planted.uuid))
      stepLikeReference(loop, path, rs, nCand = 3, selectK = 1000)
      assert(!configsAt(path, 1).exists(_.uuid == planted.uuid))
    }
  }
}
