package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.graftspec.JobLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.calculators.StubCalculator
import graft.fit.MtpLoop
import graft.pipeline.MaterialsPipeline
import graft.sources.ConfigsIO

class MtpLoopSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  test("MTP loop: incremental train.cfg grows with the active set (§3.2)") {
    val dir = Files.createTempDirectory("mtp").toString
    val loop = new MtpLoop(spark, StubCalculator(), dir, Seq("Ag", "Pd"))
    val added = loop.run(MaterialsPipeline.seeds, iterThreshold = 3)
    assert(added.nonEmpty && added.forall(_ > 0))
    val cfg = Files.readString(Paths.get(s"$dir/train.cfg"))
    val nBlocks = "BEGIN_CFG".r.findAllIn(cfg).length
    assert(nBlocks.toLong === loop.setSize) // cumulative file == table
    // idempotent re-render: calling again appends nothing
    loop.writeTrainCfg()
    val cfg2 = Files.readString(Paths.get(s"$dir/train.cfg"))
    assert(cfg2 === cfg)
    // the distributed chunk render is byte-identical to the driver-side
    // reference layout (sorted blocks per incremental chunk): re-render
    // from scratch in one chunk and compare against a collect().sorted
    // rendering of the full table
    import spark.implicits._
    val dir2 = Files.createTempDirectory("mtp2").toString
    val loop2 = new MtpLoop(spark, StubCalculator(), dir2, Seq("Ag", "Pd"))
    loop2.bootstrap(MaterialsPipeline.seeds)
    loop2.writeTrainCfg()
    val distributed = Files.readString(Paths.get(s"$dir2/train.cfg"))
    val reference = graft.fit.TrainTable.toCfgLines(
      loop2.activeConfigs, Seq("Ag", "Pd")).collect().sorted.mkString
    assert(distributed === reference)
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

  test("job budget: one iterate() fires at most 10 jobs, no schema inference") {
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
      assert(jobs.size <= 10, s"iterate $i fired ${jobs.size} jobs:\n$listed")
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
