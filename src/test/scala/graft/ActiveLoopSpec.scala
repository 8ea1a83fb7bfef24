package graft

import java.nio.file.Files
import org.apache.spark.graftspec.JobLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.calculators.StubCalculator
import graft.pipeline.{ActiveLoop, MaterialsPipeline}

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
}
