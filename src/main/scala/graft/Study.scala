package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The study runner. Every measurement study is an arm in one table,
  * run on one session with one timer and one JSON writer:
  *
  *   runMain graft.Study <Arm> <out> [args…]
  *
  * An arm is `(SparkSession, Seq[String]) => Output` and writes no
  * file of its own: the runner writes the output to `<out>`, and the
  * arm's scratch tables live in [[scratch]] directories that are
  * deleted when it returns. Paths the arm keeps (a table directory, a
  * work directory) are among its args. Each arm's scaladoc gives its
  * args. Arms run on the caller's session and leave it as they found
  * it: no `spark.stop()`, and SQL confs are set through [[withConf]].
  */
object Study {

  /** `SPARK_GRAFT_CPUS`: local worker threads and shuffle partitions
    * of every harness session (Bench, Verify, MakeScale, studies). */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftx.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def secs(body: => Any): Double = timed(body)._2

  /** Runs `body` with the given SQL confs, then restores each one to
    * its prior explicit value, or unsets it if it had none. */
  def withConf[A](spark: SparkSession, kv: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prior = kv.map { case (k, _) => k -> set.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val scratchDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted when the running arm returns. */
  def scratch(prefix: String): String = {
    val d = Files.createTempDirectory(s"graft-$prefix-")
    scratchDirs.add(d)
    d.toString
  }

  def obj(fields: (String, JValue)*): JObject = JObject(fields.toList)

  /** Reports one finished step of a study on stderr, as compact JSON. */
  def step(tag: String, j: JValue): Unit =
    System.err.println(s"[$tag] ${JsonMethods.compact(JsonMethods.render(j))}")

  sealed trait Output
  /** Written pretty-printed, doubles rounded to 4 places, with the
    * session's `cpus` appended. */
  final case class Json(value: JObject) extends Output
  final case class Text(body: String) extends Output
  /** `<out>` is a directory; one text file per (name, body). */
  final case class TextFiles(byName: Seq[(String, String)]) extends Output

  type Arm = (SparkSession, Seq[String]) => Output

  val arms: Map[String, Arm] = Map(
    "AnnRecall" -> AnnRecall.run,
    "BloomScale" -> BloomScale.run,
    "CdcReplicationScale" -> CdcReplicationScale.run,
    "ChangeFeedScale" -> ChangeFeedScale.run,
    "ConstraintScale" -> ConstraintScale.run,
    "CurationScale" -> CurationScale.run,
    "DerivedScale" -> DerivedScale.run,
    "DriftMaintScale" -> DriftMaintScale.run,
    "DvMaskScale" -> DvMaskScale.run,
    "DvScale" -> DvScale.run,
    "GuardRecall" -> GuardRecall.run,
    "MergeScale" -> MergeScale.run,
    "SkewScale" -> SkewScale.run,
    "VersionedScale" -> VersionedScale.run,
    "Plans" -> Plans.run,
    "PlanDump" -> PlanDump.run,
    "ProfileQ" -> tools.ProfileQ.run,
    "ProfileV" -> tools.ProfileV.run)

  /** Runs one arm on `spark` and writes its output to `out`. */
  def run(spark: SparkSession, arm: String, out: String,
      args: Seq[String]): Unit = {
    val body = arms.getOrElse(arm, throw new IllegalArgumentException(
      s"unknown arm $arm; arms: ${arms.keys.toSeq.sorted.mkString(", ")}"))
    val result =
      try body(spark, args)
      finally {
        while (!scratchDirs.isEmpty)
          FileUtils.deleteQuietly(scratchDirs.poll().toFile)
      }
    val p = Paths.get(out)
    result match {
      case Json(o) =>
        val doc = JObject(o.obj :+
          ("cpus" -> JInt(spark.sparkContext.defaultParallelism)))
          .transform { case JDouble(d) => JDouble(math.rint(d * 1e4) / 1e4) }
        write(p, JsonMethods.pretty(JsonMethods.render(doc)) + "\n")
      case Text(body) => write(p, body)
      case TextFiles(files) =>
        Files.createDirectories(p)
        files.foreach { case (name, body) => write(p.resolve(name), body) }
    }
    println(s"[study] $arm -> $out")
  }

  private def write(p: Path, body: String): Unit = {
    Option(p.toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, body)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Study <Arm> <out> [args…]; arms: " +
        arms.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val spark = session()
    try run(spark, args(0), args(1), args.toSeq.drop(2))
    finally spark.stop()
  }
}
