package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.calculators.Calculator
import graft.core.Config
import graft.generators.Generators

/** Iterative active-learning loop (SURVEY §2.10; reference:
  * fitting/mtp.py:779–935 state machine, database/active.py:158–205
  * dedup-guarded append-only active set).
  *
  * Re-expressed as an idempotent driver loop over batch jobs — the
  * idiomatic Spark shape for bounded iterative ML. Per iteration:
  * relax/perturb candidates from the current set (stand-in for MTP
  * relax), grade them (stand-in for maxvol extrapolation), select
  * top-k, anti-join against everything seen (D1/G12), run the
  * calculator, append with an `iteration` column. State lives
  * entirely in the persisted parquet table, so a crashed loop resumes
  * from the last completed iteration (the reference's `status.txt`
  * becomes table contents).
  *
  * Job budget: reading the table runs no job (the schema is known, the
  * existence check is a file listing), and `currentIteration` runs none
  * while the table's file listing is the one its cached value was read
  * from. One `step` evaluates the candidate pipeline once (a job per
  * shuffle stage under AQE), collects the at most `selectK` fresh rows
  * and appends them with one write job. Together with MtpLoop's render
  * one iteration is 7 jobs at `selectK` = 20 (MtpLoopSpec holds it to
  * at most 10).
  *
  * Listing-keyed cache invariant: the driver keeps max(iteration)
  * together with the data-file listing (name, length, mtime) it holds
  * for. A step or bootstrap re-keys it to the listing its own write
  * left; any other change of the listing — another loop appending to
  * or overwriting the same path — forces one re-read, so the table
  * stays the only source of truth and alternating writers see each
  * other's iterations.
  */
final class ActiveLoop(spark: SparkSession, calc: Calculator,
    tablePath: String, ranSeed: Long = 42L) {

  import spark.implicits._

  private val root = new Path(tablePath)
  private val schema: StructType =
    Encoders.product[Config].schema.add("iteration", IntegerType)

  /** The table's data files, sorted; None when it holds none. */
  private def listing(): Option[Seq[(String, Long, Long)]] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val data = files.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
    if (data.isEmpty) None else Some(data.sorted)
  }

  // (data-file listing, max(iteration) of the table at that listing)
  private var cached: Option[(Seq[(String, Long, Long)], Int)] = None

  private def remember(iter: Int): Unit =
    cached = listing().map(_ -> iter)

  private def table: DataFrame = spark.read.schema(schema).parquet(tablePath)

  def current: DataFrame =
    if (listing().isDefined) table else spark.emptyDataFrame

  def currentIteration: Int = (listing(), cached) match {
    case (None, _) => -1
    case (Some(l), Some((k, iter))) if l == k => iter
    case (Some(l), _) =>
      val r = table.agg(max(col("iteration"))).collect()(0)
      val iter = if (r.isNullAt(0)) -1 else r.getInt(0)
      cached = Some(l -> iter)
      iter
  }

  /** Seed iteration 0 from initial configs. */
  def bootstrap(seeds: Seq[Config]): Unit =
    if (currentIteration < 0) {
      val cal = calc
      val ds = spark.createDataset(seeds).map(cal.extract(_))
      ds.toDF().withColumn("iteration", lit(0))
        .write.mode("overwrite").parquet(tablePath)
      remember(if (seeds.isEmpty) -1 else 0)
    }

  /** One iteration: candidates → grade → select → dedup-append.
    * @return number of configs actually added. */
  def step(nCandidatesPerConfig: Int, selectK: Int): Long = {
    val last = currentIteration
    require(last >= 0,
      s"ActiveLoop.step: no active set at $tablePath; call bootstrap first")
    val iter = last + 1
    // locals only in the closures below — capturing fields would drag
    // `this` (and the non-serializable SparkSession) into the task
    val seed = ranSeed + iter
    val nCand = nCandidatesPerConfig
    val cal = calc
    val cur = current
    val cands = cur.as[ConfigRow].flatMap { row =>
      Generators.distortion(row.toConfig, nCand,
        covDiag = 0.0016, volumeFactor = 1.0, rattle = 0.02,
        ranSeed = seed)
    }.dropDuplicates("uuid")
    // grade: stand-in extrapolation score = stub energy magnitude
    val graded = cands.map(cal.extract(_))
      .map(c => (c, math.abs(c.energy.getOrElse(0.0))))
      .toDF("config", "grade")
    val selected = graded.orderBy(col("grade").desc,
        col("config.uuid").asc).limit(selectK)
      .select(col("config.*"))
    // D1/G12 dedup-guarded append: never re-add a seen content hash.
    // At most selectK rows: evaluated once, counted and appended from
    // the driver.
    val fresh = selected.join(cur.select(col("uuid")),
      Seq("uuid"), "left_anti").as[Config].collect().toSeq
    if (fresh.nonEmpty) {
      spark.createDataset(fresh).toDF().withColumn("iteration", lit(iter))
        .coalesce(1).write.mode("append").parquet(tablePath)
      remember(iter)
    }
    fresh.size.toLong
  }

  /** Run until convergence (no additions) or the iteration budget —
    * mtp.py:362–368 `iter_threshold`. Lazy: no step runs after the
    * first one that adds nothing. */
  def run(iterations: Int, nCandidatesPerConfig: Int = 3,
      selectK: Int = 8): Seq[Long] =
    Iterator.range(0, iterations)
      .map(_ => step(nCandidatesPerConfig, selectK))
      .takeWhile(_ > 0)
      .toSeq
}

/** Row mirror of Config for Dataset reads from parquet (the open
  * maps survive; Option fields read back as nullable). */
final case class ConfigRow(
    uuid: String, groupUuid: String, n: Int, symbols: String,
    species: Seq[String], cell: Seq[Seq[Double]],
    positions: Seq[Seq[Double]], pbc: Seq[Boolean],
    energy: Option[Double], force: Option[Seq[Seq[Double]]],
    virial: Option[Seq[Double]], configType: Option[String],
    params: Map[String, String], properties: Map[String, Seq[Double]],
    iteration: Int) {
  def toConfig: Config = Config(uuid, groupUuid, n, symbols, species,
    cell, positions, pbc, energy, force, virial, configType, params,
    properties)
}
