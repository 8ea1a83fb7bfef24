package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.Study` arm runs on this suite's session over sf0.001
  * with small sizes, writing under a temp dir. Each arm must leave the
  * session running with its SQL confs as it found them, write only to
  * the `<out>` it was given, and — where a committed artifact records
  * the arm — produce that artifact's nested key paths (labels
  * substituted; `cpus` is the runner's own field). */
class StudySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private lazy val tmp = Files.createTempDirectory("graft-study-spec-")
  private def dir(name: String): String = tmp.resolve(name).toString

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)

  /** Committed evidence an arm must never overwrite. */
  private def evidence(): Map[String, Long] =
    (Paths.get("PLANS.md") +: Files.list(Paths.get("bench")).toArray
      .toSeq.map(_.asInstanceOf[Path]))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap

  // the confs the engine sets on a session's first query and first
  // events read, set before any arm's snapshot
  private lazy val warm: Unit = {
    Tables.preflight(spark, sf)
    spark.range(1).collect()
  }

  /** Runs `arm`, checks the session and the committed evidence are
    * left as found, returns `<out>`. */
  private def run(arm: String, out: String, args: String*): Path = {
    warm
    val confs = spark.conf.getAll
    val committed = evidence()
    Study.run(spark, arm, dir(out), args)
    assert(!spark.sparkContext.isStopped, s"$arm stopped the session")
    assert(spark.conf.getAll == confs, s"$arm left SQL confs changed")
    assert(evidence() == committed, s"$arm wrote to committed evidence")
    Paths.get(dir(out))
  }

  private def json(p: Path): JValue = JsonMethods.parse(Files.readString(p))

  /** Nested key paths; `[]` marks an array level. */
  private def paths(j: JValue, prefix: String = ""): Set[String] = j match {
    case JObject(fs) =>
      fs.flatMap { case (k, v) => paths(v, s"$prefix/$k") }.toSet
    case JArray(xs) => xs.flatMap(paths(_, s"$prefix[]")).toSet + s"$prefix[]"
    case _ => Set(prefix)
  }

  private def artifactPaths(name: String): Set[String] =
    paths(json(Paths.get("bench", name))) - "/cpus"

  /** The arm's key paths, with its labels renamed to the artifact's. */
  private def armPaths(out: Path, labels: (String, String)*): Set[String] =
    (paths(json(out)) - "/cpus").map { p =>
      labels.foldLeft(p) { case (q, (from, to)) =>
        q.replace(s"/$from/", s"/$to/")
      }
    }

  private def sameShape(out: Path, artifact: String,
      labels: (String, String)*): Unit = {
    val got = armPaths(out, labels: _*)
    val want = artifactPaths(artifact)
    assert(got == want, s"vs bench/$artifact: missing ${want -- got}, " +
      s"extra ${got -- want}")
  }

  test("the runner knows every study and rejects an unknown arm") {
    assert(Study.arms.keySet == Set("AnnRecall", "BloomScale",
      "CdcReplicationScale", "ChangeFeedScale", "ConstraintScale",
      "CurationScale", "DerivedScale", "DriftMaintScale", "DvMaskScale",
      "DvScale", "GuardRecall", "MergeScale", "SkewScale",
      "VersionedScale", "Plans", "PlanDump", "ProfileQ", "ProfileV"))
    intercept[IllegalArgumentException](
      Study.run(spark, "NoSuchArm", dir("none.json"), Nil))
    assert(!Files.exists(Paths.get(dir("none.json"))))
  }

  test("AnnRecall") {
    sameShape(run("AnnRecall", "ann.json", sf, "2"), "ann_recall.json",
      "2x" -> "25x")
  }

  test("BloomScale") {
    sameShape(run("BloomScale", "bloom.json", sf, dir("bloom"), "1x", "4"),
      "bloom_scale_625x.json")
  }

  test("CdcReplicationScale") {
    sameShape(run("CdcReplicationScale", "cdc.json", sf, "1"),
      "changefeed_replication.json")
  }

  test("ChangeFeedScale") {
    sameShape(run("ChangeFeedScale", "cfs.json", sf, "1"),
      "changefeed_scale.json")
  }

  test("ConstraintScale") {
    sameShape(run("ConstraintScale", "cons.json", sf, "1", "2", "1"),
      "constraint_scale_1m.json")
  }

  test("CurationScale") {
    sameShape(run("CurationScale", "cur.json", sf, "25x", sf, "625x"),
      "curation_625x.json")
  }

  test("DerivedScale") {
    sameShape(run("DerivedScale", "derived.json", sf, dir("derived-src"),
      dir("derived-state"), "1x"), "derived_state_625x.json")
  }

  test("DriftMaintScale") {
    sameShape(run("DriftMaintScale", "drift.json", sf, dir("drift"), "1x"),
      "drift_maint_625x.json")
  }

  test("DvMaskScale") {
    sameShape(run("DvMaskScale", "dvmask.json", sf, dir("dvmask"), "1x"),
      "dv_mask_scale.json")
  }

  test("DvScale") {
    sameShape(run("DvScale", "dv.json", sf, dir("dv"), "1x"),
      "dv_scale_625x.json")
  }

  test("GuardRecall, both modes") {
    sameShape(run("GuardRecall", "guard.json", sf), "guard_recall.json")
    sameShape(run("GuardRecall", "guard_on.json", sf, "on-only"),
      "guard_on_boiler12k.json")
  }

  test("MergeScale") {
    // its probes take key ranges at fixed positions up to 10,200 of
    // the sorted uuid list: 21 copies of sf0.001's 500 docs
    val scaled = dir("scaled21")
    MakeScale.scale(spark, sf, scaled, 21)
    sameShape(run("MergeScale", "merge.json", scaled, dir("merge"), "21x"),
      "merge_string_625x.json")
  }

  test("SkewScale") {
    // the artifact predates the drop of its plan_has_skew_split
    // column (AQE's plan flag read false whether or not a runtime
    // split happened; the task metrics show it)
    val want = artifactPaths("skew_salt_25x.json")
      .filterNot(_.endsWith("/plan_has_skew_split"))
    assert(armPaths(run("SkewScale", "skew.json", "100000")) == want)
  }

  test("VersionedScale") {
    sameShape(run("VersionedScale", "versioned.json", sf, dir("versioned"),
      "1x"), "versioned_scale_625x.json")
  }

  test("Plans") {
    val md = Files.readString(run("Plans", "PLANS.md", sf))
    assert(md.startsWith("# PLANS"))
    Seq("f1_projection", "graftv DSv2 scan", "v-family").foreach(h =>
      assert(md.contains(s"\n## $h"), h))
  }

  test("PlanDump") {
    val q = Seq("q1_pricing_summary", "f1_projection", "d1_exact_dedup")
    val out = run("PlanDump", "plans", sf, "t", q.mkString(","))
    q.foreach { n =>
      assert(Files.readString(out.resolve(s"${n}_t.txt"))
        .contains("Physical Plan"), n)
    }
    assert(Files.list(out).count() == q.size)
  }

  test("ProfileQ") {
    val j = json(run("ProfileQ", "profq.json", sf, "q1_pricing_summary"))
    assert((j \ "query") == JString("q1_pricing_summary"))
    val JArray(jobs) = j \ "jobs"
    val JArray(stages) = j \ "stages"
    assert(jobs.nonEmpty && stages.nonEmpty)
  }

  test("ProfileV") {
    val JArray(laps) = json(run("ProfileV", "profv.json", sf)) \ "laps"
    assert(laps.size == 3)
  }
}
