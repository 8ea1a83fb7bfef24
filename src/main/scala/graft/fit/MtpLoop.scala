package graft.fit

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.calculators.Calculator
import graft.core.{Config, Formula}
import graft.pipeline.ActiveLoop

/** The MTP active-learning state machine (SURVEY §2.10/§3.2;
  * reference: fitting/mtp.py:779–935 — `train → relax_setup → relax →
  * select → add → done`, persisted in status.txt; train file grows
  * incrementally: iteration 1 bulk-loads all rsets, iteration k>1
  * appends only the last iteration's configs, mtp.py:476–517).
  *
  * Re-expressed with the state IN THE TABLES: the active set's
  * `iteration` column is the status file; the train.cfg export is a
  * deterministic projection of the table, so a crashed run re-renders
  * identical files. The `mlp` binary is external compute behind the
  * Calculator connector (here the stub); `relax/select` stand-ins are
  * the ActiveLoop's distort/grade stages.
  *
  * Job budget: one `iterate()` — the render of the newest iteration
  * plus one [[ActiveLoop.step]] — fires at most 10 Spark jobs and no
  * parquet schema inference. The iteration number comes from the ActiveLoop's
  * listing-keyed cache, so the render check and the step read it
  * without a job while the active set's files are the ones this loop
  * last wrote; an append by another loop on the same directory changes
  * the listing and is picked up with one re-read.
  */
final class MtpLoop(spark: SparkSession, calc: Calculator,
    workDir: String, species: Seq[String], ranSeed: Long = 42L) {

  private val active = new ActiveLoop(spark, calc, s"$workDir/active_set", ranSeed)

  def bootstrap(seeds: Seq[Config]): Unit = active.bootstrap(seeds)

  /** Cumulative train.cfg: incremental append of iterations newer
    * than the rendered-through marker (mtp.py:476–517 — bulk load
    * once, then append only the last iteration). The marker makes the
    * render idempotent: re-running after a crash appends nothing
    * twice.
    *
    * Distributed render: each increment is written as a sorted chunk
    * of part files (`repartitionByRange` + `sortWithinPartitions` on
    * the block text — disjoint sorted ranges, so parts concatenated
    * in partition order ARE the globally sorted chunk), then
    * byte-streamed onto train.cfg at the `mlp` hand-off. No row data
    * ever crosses the driver — only file bytes at the single-file
    * boundary the external trainer requires. */
  def writeTrainCfg(): java.nio.file.Path = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val iter = active.currentIteration
    require(iter >= 0,
      s"MtpLoop.writeTrainCfg: no active set under $workDir; call bootstrap first")
    val out = Paths.get(s"$workDir/train.cfg")
    val marker = Paths.get(s"$workDir/.rendered_iter")
    val rendered =
      if (Files.exists(marker) && Files.exists(out))
        Files.readString(marker).trim.toInt
      else -1
    if (rendered >= iter) return out
    val ds = active.current.where(s"iteration > $rendered")
      .as[graft.pipeline.ConfigRow].map(_.toConfig)
    val chunkDir = Paths.get(s"$workDir/chunks/upto_$iter")
    TrainTable.toCfgLines(ds, species)
      .map(_.stripSuffix("\n")) // text writer restores the final newline
      .toDF("cfg")
      .repartitionByRange(col("cfg"))
      .sortWithinPartitions(col("cfg"))
      .write.mode("overwrite").text(chunkDir.toString)
    if (rendered < 0) Files.deleteIfExists(out)
    val partFiles = {
      val s = Files.list(chunkDir)
      try s.iterator().asScala.toVector.filter(
        _.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
    val os = Files.newOutputStream(out,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    try partFiles.foreach(p => Files.copy(p, os))
    finally os.close()
    Files.writeString(marker, iter.toString)
    out
  }

  /** One full AL pass: train-file render → (external train) → relax/
    * grade/select/add. Returns configs added (0 = converged). */
  def iterate(nCandidatesPerConfig: Int = 3, selectK: Int = 8): Long = {
    writeTrainCfg()
    active.step(nCandidatesPerConfig, selectK)
  }

  /** Run to convergence or the iteration budget
    * (`iter_threshold`, mtp.py:362–368). */
  def run(seeds: Seq[Config], iterThreshold: Int): Seq[Long] = {
    bootstrap(seeds)
    val added = (0 until iterThreshold).iterator
      .map(_ => iterate())
      .takeWhile(_ > 0)
      .toSeq
    writeTrainCfg() // final cumulative render
    added
  }

  def currentIteration: Int = active.currentIteration
  def setSize: Long = active.current.count()

  /** The active set as typed configs (test/inspection surface). */
  def activeConfigs: Dataset[Config] = {
    import spark.implicits._
    active.current.as[graft.pipeline.ConfigRow].map(_.toConfig)
  }
}
