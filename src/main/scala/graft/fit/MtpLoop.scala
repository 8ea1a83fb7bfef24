package graft.fit

import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.calculators.Calculator
import graft.core.{Config, Formula}
import graft.pipeline.ActiveLoop
import graft.sources.Cfg

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
  * plus one [[ActiveLoop.step]] — fires 4 Spark jobs, none with a
  * shuffle, and no parquet schema inference. The iteration number
  * comes from the ActiveLoop's listing-keyed cache, so the render check
  * and the step read it without a job while the active set's files are
  * the ones this loop last wrote; an append by another loop on the same
  * directory changes the listing and is picked up with one re-read.
  */
final class MtpLoop(spark: SparkSession, calc: Calculator,
    workDir: String, species: Seq[String], ranSeed: Long = 42L) {

  private val active = new ActiveLoop(spark, calc, s"$workDir/active_set", ranSeed)

  def bootstrap(seeds: Seq[Config]): Unit = active.bootstrap(seeds)

  /** Cumulative train.cfg: incremental append of iterations newer
    * than the rendered-through marker (mtp.py:476–517 — bulk load
    * once, then append only the last iteration). The marker records the
    * iteration and train.cfg's byte length after the append; a render
    * first truncates the file back to that length, so re-running after
    * a crash anywhere in the render appends nothing twice. A missing or
    * unreadable marker re-renders the file from scratch (the render is
    * a deterministic projection of the table).
    *
    * The file is every block of the table sorted on (iteration, block
    * text), whatever the render history: a render of several
    * iterations at once writes the same bytes as one render per
    * iteration. Each increment is one job: a single partition sorted on
    * that key (`coalesce(1)` + `sortWithinPartitions`, no sample job
    * and no shuffle) written as one part file under `chunks/`, then
    * byte-streamed onto train.cfg at the `mlp` hand-off and deleted. No
    * row data crosses the driver — only file bytes at the single-file
    * boundary the external trainer requires. */
  def writeTrainCfg(): Path = {
    import spark.implicits._
    val iter = active.currentIteration
    require(iter >= 0,
      s"MtpLoop.writeTrainCfg: no active set under $workDir; call bootstrap first")
    val out = Paths.get(s"$workDir/train.cfg")
    val marker = Paths.get(s"$workDir/.rendered_iter")
    val (rendered, length) = renderedThrough(out, marker)
    if (rendered >= iter) return out
    val tm = Formula.typeMap(species)
    val chunkDir = Paths.get(s"$workDir/chunks")
    active.current.where(s"iteration > $rendered")
      .as[graft.pipeline.ConfigRow]
      // the text writer restores the final newline
      .map(r => (r.iteration, Cfg.write(r.toConfig, tm).stripSuffix("\n")))
      .toDF("iteration", "cfg")
      .coalesce(1)
      .sortWithinPartitions("iteration", "cfg")
      .select("cfg")
      .write.mode("overwrite").text(chunkDir.toString)
    val partFiles = {
      val s = Files.list(chunkDir)
      try s.iterator().asScala.toVector.filter(
        _.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
    val ch = FileChannel.open(out, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE)
    val size = try {
      ch.truncate(length).position(length)
      val os = Channels.newOutputStream(ch)
      partFiles.foreach(p => Files.copy(p, os))
      ch.size()
    } finally ch.close()
    Files.writeString(marker, s"$iter $size")
    deleteTree(chunkDir)
    out
  }

  /** (iteration, train.cfg byte length) of the last completed render;
    * (-1, 0) when there is none to extend — no marker, one that does not
    * parse, or a train.cfg shorter than it records. */
  private def renderedThrough(out: Path, marker: Path): (Int, Long) = {
    val recorded =
      if (!Files.exists(marker) || !Files.exists(out)) None
      else Files.readString(marker).trim.split(' ') match {
        case Array(i, n) => i.toIntOption.zip(n.toLongOption)
        case _ => None
      }
    recorded.filter { case (i, n) => i >= 0 && n >= 0 && n <= Files.size(out) }
      .getOrElse((-1, 0L))
  }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
    finally s.close()
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
