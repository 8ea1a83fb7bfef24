package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round-13 #9: O(checkpoint) snapshot reads on a 100+-version table,
  * ASSERTED (the manifest log self-checkpoints every
  * [[Versioned.CheckpointInterval]] appends; COW commits publish full
  * manifests). The law: resolving ANY version — latest or historical —
  * replays at most CheckpointInterval manifests, regardless of table
  * age. A 10-year-old table with 50k commits costs the same driver
  * JSON walk as a 10-commit one.
  */
class SnapshotReplaySpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  test("104-version table: every version resolves by replaying at " +
    "most CheckpointInterval manifests") {
    import spark.implicits._
    val t = tempDir("graft-replay-").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
    // 100 appends, with a COW merge and an OPTIMIZE mid-history so
    // the walk crosses full (COW) and delta (append) manifests alike
    (1 to 50).foreach(_ => Versioned.commit(df, t))
    Versioned.merge(Seq((1L, "a2")).toDF("id", "s"), t, "id") // v51
    (1 to 50).foreach(_ => Versioned.commit(df, t)) // v52..v101
    Versioned.optimize(spark, t, numFiles = 4) // v102
    Versioned.commit(df, t) // v103
    Versioned.commit(df, t) // v104
    val vs = Versioned.versions(t)
    assert(vs.max === 104)

    val replays = vs.map(v => v -> Versioned.snapshot(t, Some(v)).replayedManifests)
    val worst = replays.maxBy(_._2)
    assert(worst._2 <= Versioned.CheckpointInterval,
      s"version ${worst._1} replayed ${worst._2} manifests " +
        s"(> CheckpointInterval ${Versioned.CheckpointInterval})")

    // the latest-version resolve (every read's hot path) is
    // O(checkpoint) too, and the state it resolves is right
    assert(Versioned.snapshot(t).replayedManifests <= Versioned.CheckpointInterval)
    assert(Versioned.read(spark, t).count() === 204L) // 102 appends x 2
  }

  test("a metadata-heavy history keeps the law: metadata commits on " +
    "a checkpoint boundary publish FULL") {
    import spark.implicits._
    val t = tempDir("graft-replay-md-").toString
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1
    // 25 consecutive metadata commits (constraints + columns) cross
    // two checkpoint boundaries with ZERO appends in between — the
    // delta-only form would stretch replay to the table's whole
    // metadata run
    (1 to 10).foreach(i =>
      Versioned.addColumns(t, s"x$i INT")) // v2..v11
    (1 to 10).foreach(i => Versioned.addConstraint(spark, t,
      s"c$i", s"id > ${-i}")) // v12..v21
    (1 to 5).foreach(i => Versioned.dropConstraint(t, s"c$i")) // v22..v26
    val vs = Versioned.versions(t)
    assert(vs.max === 26)
    val worst = vs.map(v =>
      v -> Versioned.snapshot(t, Some(v)).replayedManifests).maxBy(_._2)
    assert(worst._2 <= Versioned.CheckpointInterval,
      s"version ${worst._1} replayed ${worst._2} manifests")
    // and the state is right through the checkpointed metadata: data
    // intact, evolved schema serves, surviving constraints enforce
    assert(Versioned.read(spark, t).count() === 2L)
    assert(Versioned.read(spark, t).columns.length === 12) // id,s,x1..x10
    assert(Versioned.constraintsOf(t).keySet ===
      (6 to 10).map(i => s"c$i").toSet)
    intercept[IllegalArgumentException] {
      Versioned.commit(Seq((-100L, "z")).toDF("id", "s"), t,
        mergeSchema = true) // violates c6..c10 (id > -6..-10)
    }
  }
}
