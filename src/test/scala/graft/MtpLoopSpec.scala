package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.graftspec.JobLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.calculators.StubCalculator
import graft.fit.MtpLoop
import graft.pipeline.{ConfigRow, MaterialsPipeline}
import graft.sources.ConfigsIO

class MtpLoopSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private val species = Seq("Ag", "Pd")

  /** Driver-side reference of a render: the blocks of `iter`, sorted. */
  private def sortedBlocks(dir: String, iter: Int): String = {
    import spark.implicits._
    val ds = spark.read.parquet(s"$dir/active_set")
      .where(col("iteration") === iter)
      .as[ConfigRow].map(_.toConfig)
    graft.fit.TrainTable.toCfgLines(ds, species).collect().sorted.mkString
  }

  /** The train.cfg of iterations 0..last, whatever the render history:
    * each iteration's blocks sorted, concatenated in iteration order. */
  private def incremental(dir: String, last: Int): String =
    (0 to last).map(sortedBlocks(dir, _)).mkString

  private def trainCfg(dir: String): String =
    Files.readString(Paths.get(s"$dir/train.cfg"))

  test("MTP loop: incremental train.cfg grows with the active set (§3.2)") {
    val dir = Files.createTempDirectory("mtp").toString
    val loop = new MtpLoop(spark, StubCalculator(), dir, species)
    val added = loop.run(MaterialsPipeline.seeds, iterThreshold = 3)
    assert(added.nonEmpty && added.forall(_ > 0))
    val cfg = trainCfg(dir)
    val nBlocks = "BEGIN_CFG".r.findAllIn(cfg).length
    assert(nBlocks.toLong === loop.setSize) // cumulative file == table
    // idempotent re-render: calling again appends nothing
    loop.writeTrainCfg()
    assert(trainCfg(dir) === cfg)
    // the single-partition render is byte-identical to the driver-side
    // reference layout: each incremental chunk's blocks sorted
    assert(loop.currentIteration === 3)
    assert(cfg === incremental(dir, 3))
    // a render leaves no chunk files behind
    assert(!Files.exists(Paths.get(s"$dir/chunks")))
    // from scratch, one chunk over the table's four files: the same
    // bytes as the incremental renders
    Files.delete(Paths.get(s"$dir/.rendered_iter"))
    loop.writeTrainCfg()
    assert(trainCfg(dir) === incremental(dir, 3))
    assert(!Files.exists(Paths.get(s"$dir/chunks")))
  }

  test("a torn train.cfg append is truncated before the next render") {
    val dir = Files.createTempDirectory("mtptorn").toString
    val loop = new MtpLoop(spark, StubCalculator(), dir, species)
    loop.bootstrap(MaterialsPipeline.seeds)
    assert(loop.iterate() > 0) // renders iteration 0, appends iteration 1
    loop.writeTrainCfg()
    // a crash after the append and before the marker leaves bytes the
    // marker does not cover
    Files.writeString(Paths.get(s"$dir/train.cfg"), "BEGIN_CFG\n torn\n",
      java.nio.file.StandardOpenOption.APPEND)
    assert(loop.iterate() > 0) // the render is current: no truncation yet
    loop.writeTrainCfg()
    assert(loop.currentIteration === 2)
    assert(trainCfg(dir) === incremental(dir, 2))

    // a marker that does not parse re-renders from scratch, to the
    // same bytes
    Files.writeString(Paths.get(s"$dir/.rendered_iter"), "2")
    loop.writeTrainCfg()
    assert(trainCfg(dir) === incremental(dir, 2))
  }

  test("reading the loop before bootstrap returns an empty set") {
    val dir = Files.createTempDirectory("mtpfresh").toString
    val loop = new MtpLoop(spark, StubCalculator(), dir, species)
    assert(loop.currentIteration === -1)
    assert(loop.setSize === 0L)
    assert(loop.activeConfigs.collect().isEmpty)
  }

  test("ConfigsIO: group-partitioned parquet round-trip with pruning (S2)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cio").toString + "/configs"
    val calc = StubCalculator()
    val ds = MaterialsPipeline.generate(MaterialsPipeline.seedDs(spark), 7L)
      .map(calc.extract(_))
    val n = ds.count()
    ConfigsIO.write(ds, dir)
    val back = ConfigsIO.read(spark, dir)
    assert(back.count() === n)
    assert(back.collect().map(_.uuid).sorted.toSeq ===
      ds.collect().map(_.uuid).sorted.toSeq)
    // group-pruned read plans a PartitionFilters scan
    val g = ds.collect().head.groupUuid
    val grp = spark.read.parquet(dir).where(col("groupUuid") === g)
    val plan = grp.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("groupUuid"))
    assert(ConfigsIO.readGroup(spark, dir, g).count() > 0)
  }

  test("job budget: one iterate() fires at most 4 jobs, no shuffle, no schema inference") {
    val dir = Files.createTempDirectory("mtpjobs").toString
    val loop = new MtpLoop(spark, StubCalculator(), dir, Seq("Ag", "Pd"))
    loop.bootstrap(MaterialsPipeline.seeds)
    // the first iterate renders the bootstrap, the second the first
    // iteration's append
    (1 to 2).foreach { i =>
      val (added, jobs) = JobLog.record(spark.sparkContext)(
        loop.iterate(nCandidatesPerConfig = 12, selectK = 20))
      val listed = jobs.mkString("\n")
      assert(added > 0)
      assert(jobs.size <= 4, s"iterate $i fired ${jobs.size} jobs:\n$listed")
      assert(jobs.forall(_.stages == 1), s"a shuffle in iterate $i:\n$listed")
      assert(!jobs.exists(j => j.site.startsWith("parquet at ActiveLoop") &&
        !j.inSqlExecution), s"parquet schema inference in iterate $i:\n$listed")
    }
    assert(loop.currentIteration === 2)
  }

  test("writeTrainCfg before bootstrap fails with a clear message") {
    val dir = Files.createTempDirectory("mtpempty").toString
    val loop = new MtpLoop(spark, StubCalculator(), dir, Seq("Ag", "Pd"))
    val e = intercept[IllegalArgumentException](loop.writeTrainCfg())
    assert(e.getMessage.contains("call bootstrap first"))
    val e2 = intercept[IllegalArgumentException](loop.iterate())
    assert(e2.getMessage.contains("call bootstrap first"))
  }
}
