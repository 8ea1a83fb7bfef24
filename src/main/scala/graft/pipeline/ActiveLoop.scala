package graft.pipeline

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
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
  * relax), run the calculator and grade them (stand-in for maxvol
  * extrapolation), select top-k, drop those already in the set
  * (D1/G12), append with an `iteration` column. State lives
  * entirely in the persisted parquet table, so a crashed loop resumes
  * from the last completed iteration (the reference's `status.txt`
  * becomes table contents).
  *
  * Job budget: reading the table runs no job (the schema is known, the
  * existence check is a file listing), and `currentIteration` runs none
  * while the table's file listing is the one its cached value was read
  * from. One `step` is three jobs and no shuffle: the candidate pass,
  * the seen check over at most `selectK` uuids, and the append. Together
  * with MtpLoop's render one iteration is 4 jobs (MtpLoopSpec holds it
  * to that, each job a single stage).
  *
  * The candidate pass is partition-local top-k with a driver merge.
  * Each partition distorts its rows, drops repeated pre-extract uuids,
  * runs the calculator, and emits its distinct top `selectK` by
  * (grade desc, uuid asc); the driver dedups the at most
  * partitions × `selectK` rows by pre-extract uuid and keeps the first
  * `selectK`. That is the global distinct top k: a member of it is
  * outranked in its own partition only by uuids that also outrank it
  * globally, of which there are fewer than k, so its partition emits it.
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

  /** The active set; before `bootstrap`, an empty relation with the
    * table's schema. */
  def current: DataFrame =
    if (listing().isDefined) table
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

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
      spark.createDataset(seeds.map(calc.extract)).toDF()
        .withColumn("iteration", lit(0))
        .coalesce(1).write.mode("overwrite").parquet(tablePath)
      remember(if (seeds.isEmpty) -1 else 0)
    }

  /** One iteration: candidates → grade → select → dedup-append.
    * @return number of configs actually added. */
  def step(nCandidatesPerConfig: Int, selectK: Int): Long = {
    val last = currentIteration
    require(last >= 0,
      s"ActiveLoop.step: no active set at $tablePath; call bootstrap first")
    val iter = last + 1
    // locals only in the closure below — capturing fields would drag
    // `this` (and the non-serializable SparkSession) into the task
    val seed = ranSeed + iter
    val nCand = nCandidatesPerConfig
    val k = selectK
    val cal = calc
    val cur = current
    // (pre-extract uuid, graded candidate): each partition's distinct top k
    val local = cur.as[ConfigRow].mapPartitions { rows =>
      val drawn = mutable.HashSet.empty[String]
      val top = mutable.PriorityQueue.empty[(String, Config)](ActiveLoop.rank)
      rows.flatMap(row => Generators.distortion(row.toConfig, nCand,
          covDiag = 0.0016, volumeFactor = 1.0, rattle = 0.02,
          ranSeed = seed))
        .filter(c => drawn.add(c.uuid))
        .foreach { c =>
          top.enqueue(c.uuid -> cal.extract(c))
          if (top.size > k) top.dequeue() // the worst ranked
        }
      top.iterator
    }.collect()
    val selected = local.sorted(ActiveLoop.rank)
      .distinctBy(_._1).take(k).map(_._2).toSeq
    // D1/G12 dedup-guarded append: never re-add a seen content hash
    val seen =
      if (selected.isEmpty) Set.empty[String]
      else cur.where(col("uuid").isin(selected.map(_.uuid): _*))
        .select("uuid").as[String].collect().toSet
    val fresh = selected.filterNot(c => seen(c.uuid))
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

object ActiveLoop {

  /** Stand-in extrapolation grade: the calculator's energy magnitude. */
  private def grade(c: Config): Double = math.abs(c.energy.getOrElse(0.0))

  /** Selection order of graded candidates keyed by pre-extract uuid,
    * best first: grade desc (NaN first, as Spark sorts it), then uuid,
    * then the key, so that the order is total. */
  private val rank: Ordering[(String, Config)] =
    Ordering.by[(String, Config), (Double, String, String)](
      kc => (grade(kc._2), kc._2.uuid, kc._1))(Ordering.Tuple3(
      Ordering.Double.TotalOrdering.reverse, Ordering.String, Ordering.String))
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
