package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned
import graft.sources.Versioned.{WhenMatched, WhenNotMatched}

/** Round-13 #2: cross-process commit arbitration, proven with REAL
  * second (and third) JVMs — not threads. Two spawned child processes
  * (own SparkSessions, no shared JVM state) race appends into one
  * graftv table while THIS process races COW merges against them.
  *
  * The storage contract under proof (SCALING.md §cross-process
  * writers): the ONLY primitive the log relies on is atomic
  * create-exclusive of the manifest file (hard link of a fully-
  * written temp, CREATE_NEW fallback) — POSIX-atomic on a local
  * filesystem, the same per-storage boundary Delta documents. If that
  * primitive holds, N independent processes get ONE linear history:
  * every version number is won by exactly one writer, losers re-
  * resolve and rebase (appends) or abort loudly (COW vs overlapping
  * interlopers) — never a torn manifest, never a lost commit.
  */
class CrossProcessRaceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private val NCommits = 6
  private val RowsPer = 50
  /** The measured race record. Written under `target/` so a test run
    * never rewrites the committed `bench/crossproc_race.json` (which
    * SCALING.md and COVERAGE.md cite); refresh that file from this one
    * by hand. */
  private val RaceRecord = Paths.get("target/crossproc_race.json")

  private def spawnRaw(cwd: File, out: File,
      childArgs: Seq[String]): Process = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin",
      "java").toString
    // pass through the running JVM's --add-opens pairs (Spark on
    // JDK 17 needs them; build.sbt injects them into this test JVM)
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val inArgs = rt.getInputArguments.asScala.toVector
    val addOpens = inArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" => Vector(a, inArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Vector(a)
    }.flatten
    val cmd = Vector(javaBin) ++ addOpens ++ Vector(
      "-Xmx1g", "-cp", System.getProperty("java.class.path"),
      "graft.RaceChildMain") ++ childArgs
    new ProcessBuilder(cmd.asJava)
      .directory(cwd)
      .redirectErrorStream(true)
      .redirectOutput(out)
      .start()
  }

  private def spawnChild(table: String, writerId: Int, cwd: File,
      out: File, baseId: Option[Long] = None,
      commits: Int = NCommits): Process =
    spawnRaw(cwd, out, Vector(table, writerId.toString,
      commits.toString, RowsPer.toString) ++
      baseId.map(_.toString).toVector)

  test("two independent JVMs race appends while this JVM races " +
    "merges: one linear history, no torn manifest, no lost commit") {
    import spark.implicits._
    val t = tempDir("graft-xproc-").toString
    val scratch = tempDir("graft-xproc-cwd-").toFile

    // seed: ids 0..9 the parent's merges will keep rewriting — key-
    // disjoint from every child append (child ids start at 1e6), so
    // merge publishes can REBASE over interloping appends
    val seed = (0L until 10L).map(i => (i, 0, -1, 0L))
      .toDF("id", "writer", "commit_seq", "v")
    Versioned.commit(seed, t) // v1

    val t0 = System.nanoTime()
    val out1 = new File(scratch, "child1.log")
    val out2 = new File(scratch, "child2.log")
    val p1 = spawnChild(t, 1, scratch, out1)
    val p2 = spawnChild(t, 2, scratch, out2)

    // COW merges from THIS process while the children commit: update
    // every seed row's v; retry on the documented abort. Each loop
    // iteration is one merge attempt wave.
    var mergesDone = 0
    var mergeAborts = 0
    var lastV = 0L
    try {
      while (p1.isAlive || p2.isAlive) {
        val stamp = mergesDone + 1L
        val src = (0L until 10L).map(i => (i, 0, -1, stamp))
          .toDF("id", "writer", "commit_seq", "v")
        try {
          Versioned.merge(src, t, Seq("id"),
            whenMatched = WhenMatched.Update(),
            whenNotMatched = WhenNotMatched.Ignore)
          mergesDone += 1
          lastV = stamp
        } catch {
          case _: java.util.ConcurrentModificationException =>
            mergeAborts += 1 // lost to an overlapping interloper; retry
        }
        Thread.sleep(100)
      }
      assert(p1.waitFor(240, TimeUnit.SECONDS) &&
        p2.waitFor(240, TimeUnit.SECONDS), "children did not finish")
      assert(p1.exitValue() === 0,
        s"child1 failed:\n${new String(Files.readAllBytes(out1.toPath))}")
      assert(p2.exitValue() === 0,
        s"child2 failed:\n${new String(Files.readAllBytes(out2.toPath))}")
    } finally { p1.destroyForcibly(); p2.destroyForcibly(); () }
    val elapsedSec = (System.nanoTime() - t0) / 1e9

    val log1 = new String(Files.readAllBytes(out1.toPath))
    val log2 = new String(Files.readAllBytes(out2.toPath))
    assert(log1.contains(s"CHILD_OK writer=1 commits=$NCommits"), log1)
    assert(log2.contains(s"CHILD_OK writer=2 commits=$NCommits"), log2)

    // ONE LINEAR HISTORY: contiguous version numbers, each won by
    // exactly one writer, total = seed + every child commit + every
    // merge that reported success — nothing lost, nothing phantom
    val vs = Versioned.versions(t)
    assert(vs === (1 to vs.max).toVector,
      s"non-contiguous history: $vs")
    assert(vs.max === 1 + 2 * NCommits + mergesDone,
      s"history length ${vs.max} != 1 seed + ${2 * NCommits} child " +
        s"commits + $mergesDone merges")

    // NO TORN MANIFEST: every version parses and snapshots cleanly
    // (history() reads each manifest; snapshot() replays each chain)
    assert(Versioned.history(spark, t).count() === vs.max.toLong)
    vs.foreach(v => Versioned.snapshot(t, Some(v)))

    // DATA INTEGRITY across all three writers
    val fin = Versioned.read(spark, t)
    assert(fin.count() === (10 + 2 * NCommits * RowsPer).toLong)
    assert(fin.select("id").distinct().count() === fin.count())
    val byWriter = fin.groupBy("writer").count().as[(Int, Long)]
      .collect().toMap
    assert(byWriter(1) === (NCommits * RowsPer).toLong)
    assert(byWriter(2) === (NCommits * RowsPer).toLong)
    if (mergesDone > 0) {
      val seedVs = fin.where(col("writer") === 0).select("v")
        .as[Long].collect().toSet
      assert(seedVs === Set(lastV),
        s"seed rows must all carry the LAST merge's stamp $lastV, " +
          s"got $seedVs")
    }

    // the measured race outcome (see RaceRecord)
    val interleaved = {
      // a child commit is interleaved if another writer won the
      // version right before it — count from the children's logs
      val won = ("COMMITTED writer=(\\d) seq=\\d+ version=(\\d+)".r
        .findAllMatchIn(log1 + log2)
        .map(m => m.group(2).toInt -> m.group(1).toInt).toMap)
      won.count { case (v, w) => won.get(v - 1).exists(_ != w) }
    }
    val art = RaceRecord
    Files.createDirectories(art.getParent)
    Files.write(art,
      (s"""{"processes": 3, "child_appends": ${2 * NCommits}, """ +
        s""""rows_per_append": $RowsPer, "merges_succeeded": $mergesDone, """ +
        s""""merge_aborts_retried": $mergeAborts, """ +
        s""""interleaved_child_commits": $interleaved, """ +
        s""""versions": ${vs.max}, "torn_manifests": 0, """ +
        s""""elapsed_sec": ${math.rint(elapsedSec * 100) / 100}}\n""")
        .getBytes("UTF-8"))
  }

  test("FORCED cross-process abort (round 14, VERDICT r13 #7): a real " +
    "child JVM lands an OVERLAPPING-key append inside the merge's " +
    "read-to-publish window — the merge must abort loudly, the retry " +
    "must win, and the history must stay linear") {
    import spark.implicits._
    val t = tempDir("graft-xproc-abort-").toString
    val scratch = tempDir("graft-xproc-abort-cwd-")
      .toFile
    val seed = (0L until 10L).map(i => (i, 0, -1, 0L))
      .toDF("id", "writer", "commit_seq", "v")
    Versioned.commit(seed, t) // v1

    // barrier-sync via the COW test seam: the hook runs AFTER the
    // merge read its base snapshot and BEFORE it publishes — exactly
    // the interloper window. Inside it, a REAL child JVM appends one
    // commit whose ids (5000..) cannot be proven key-disjoint from
    // the merge source (ids 0..9000) by the per-file id stats.
    val out = new File(scratch, "overlap-child.log")
    Versioned.beforePublish = () => {
      val p = spawnChild(t, 3, scratch, out,
        baseId = Some(5000L), commits = 1)
      assert(p.waitFor(240, TimeUnit.SECONDS), "overlap child hung")
      assert(p.exitValue() === 0,
        s"overlap child failed:\n${
          new String(Files.readAllBytes(out.toPath))}")
    }
    val src = (Seq(0L, 9000L)).map(i => (i, 0, -1, 7L))
      .toDF("id", "writer", "commit_seq", "v")
    val e = intercept[java.util.ConcurrentModificationException] {
      Versioned.merge(src, t, Seq("id"),
        whenMatched = WhenMatched.Update(),
        whenNotMatched = WhenNotMatched.Insert())
    }
    // the loser's error names the arbitration: an interloping append
    // it cannot prove key-disjoint from its own source
    assert(e.getMessage.contains("key-disjoint") ||
      e.getMessage.contains("concurrent"), e.getMessage)

    // clean post-state: the child's commit IS v2, nothing torn, and
    // the aborted merge left no phantom rows
    assert(Versioned.versions(t) === Seq(1, 2))
    val mid = Versioned.read(spark, t)
    assert(mid.count() === (10 + RowsPer).toLong)
    assert(mid.where(col("v") === 7L).isEmpty)

    // the RETRY (fresh base including the interloper) wins as v3
    Versioned.merge(src, t, Seq("id"),
      whenMatched = WhenMatched.Update(),
      whenNotMatched = WhenNotMatched.Insert())
    assert(Versioned.versions(t) === Seq(1, 2, 3))
    val fin = Versioned.read(spark, t)
    assert(fin.where(col("id") === 0L).select("v").as[Long]
      .head() === 7L)
    assert(fin.where(col("id") === 9000L).count() === 1)
    Versioned.history(spark, t).count() // every manifest parses

    // fold the forced-abort evidence into the race record:
    // merge_aborts_retried counts REAL cross-process abort+retry
    // cycles, and this one is staged to always happen
    val art = RaceRecord
    if (Files.exists(art)) {
      val txt = new String(Files.readAllBytes(art), "UTF-8")
      val re = """"merge_aborts_retried": (\d+)""".r
      val bumped = re.findFirstMatchIn(txt).map { m =>
        txt.replace(m.matched,
          s""""merge_aborts_retried": ${m.group(1).toInt + 1}""")
      }.getOrElse(txt)
      val withBlock = bumped.stripSuffix("\n").stripSuffix("}") +
        """, "forced_abort": {"staged": true, "child_overlap_append_version": 2, "abort_error_names_key_disjointness": true, "retry_succeeded_version": 3, "post_state_clean": true}}""" + "\n"
      Files.write(art, withBlock.getBytes("UTF-8"))
    }
  }

  test("DV-vs-DV cross-process race (round 16, VERDICT r15 #5): two " +
    "JVMs point-delete the SAME file — the loser aborts, the retry " +
    "re-reads the winner's mask, no lost ordinals, no double CDF") {
    import spark.implicits._
    val t = tempDir("graft-xproc-dv-").toString
    val scratch = tempDir("graft-xproc-dv-cwd-").toFile
    Versioned.commit((0L until 100L).map(i => (i, i * 10L))
      .toDF("id", "v").repartition(1), t) // v1: ONE data file
    val fileRel = Versioned.snapshot(t).files match {
      case Seq(one) => one
      case more => fail(s"expected one data file, got $more")
    }
    // ordinal ground truth straight from the file
    val posOf: Map[Long, Long] = spark.read
      .parquet(s"$t/$fileRel")
      .select(col("id"), col("_metadata.row_index").as("pos"))
      .as[(Long, Long)].collect().toMap

    spark.conf.set("spark.graft.dv.enabled", "true")
    val out = new File(scratch, "dv-child.log")
    try {
      // the child's DV delete (id % 10 == 7) lands INSIDE this JVM's
      // DV delete window (after its scan + sidecar staging, before
      // its publish) — a real second process on the same file
      Versioned.beforePublish = () => {
        val p = spawnRaw(scratch, out, Seq(t, "dvdelete", "7"))
        assert(p.waitFor(240, TimeUnit.SECONDS), "dv child hung")
        assert(p.exitValue() === 0, s"dv child failed:\n${
          new String(Files.readAllBytes(out.toPath))}")
      }
      val e = intercept[java.util.ConcurrentModificationException] {
        Versioned.deleteWhere(spark, t, col("id") % 10 === 3L)
      }
      assert(e.getMessage.contains("concurrent"), e.getMessage)
      // the child's delete IS v2; the aborted parent left no trace
      assert(Versioned.versions(t) === Seq(1, 2))
      assert(Versioned.read(spark, t).count() === 90L)
      // the RETRY re-reads the winner's mask and merges its own
      Versioned.deleteWhere(spark, t, col("id") % 10 === 3L) // v3
    } finally spark.conf.unset("spark.graft.dv.enabled")

    val fin = Versioned.read(spark, t)
    assert(fin.count() === 80L)
    assert(fin.where(col("id") % 10 === 3L || col("id") % 10 === 7L)
      .count() === 0L)
    // MASK-UNION EQUALITY: the surviving sidecar's ordinals are
    // exactly {positions of id%10==7} ∪ {positions of id%10==3} —
    // the winner's ordinals were never lost to the loser's retry
    val snap = Versioned.snapshot(t)
    assert(snap.files === Seq(fileRel), "race rewrote the data file")
    val dvRel = snap.dvs.getOrElse(fileRel,
      fail(s"no sidecar on $fileRel: ${snap.dvs}"))
    val maskGot = graft.sources.DeletionVectors
      .read(Paths.get(t, dvRel)).toSet
    val maskWant = posOf.collect {
      case (id, pos) if id % 10 == 3 || id % 10 == 7 => pos
    }.toSet
    assert(maskGot === maskWant, "mask union diverged")
    // CDF: each delete emits its OWN rows exactly once
    val ch2 = Versioned.readChanges(spark, t, 1, 2)
      .where(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet
    val ch3 = Versioned.readChanges(spark, t, 2, 3)
      .where(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet
    assert(ch2 === (0L until 100L).filter(_ % 10 == 7).toSet)
    assert(ch3 === (0L until 100L).filter(_ % 10 == 3).toSet)

    // fold the DV-race evidence into the race record
    val art = RaceRecord
    if (Files.exists(art)) {
      val txt = new String(Files.readAllBytes(art), "UTF-8")
        .stripSuffix("\n").stripSuffix("}")
      Files.write(art, (txt +
        """, "dv_race": {"dv_aborts_retried": 1, "winner_mask_rows": """ +
        s"""${ch2.size}, "retry_mask_rows": ${ch3.size}, """ +
        """"mask_union_equal": true, "double_delete_cdf_rows": 0}}""" +
        "\n").getBytes("UTF-8"))
    }
  }
}
