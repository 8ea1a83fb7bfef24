package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 #6: the calibration canary (r12) gets a consumer. The
  * drift adjudicator divides each query's warm time by the run's
  * pure-CPU calibration before comparing round-over-round, so a
  * machine-day shift (every query AND the canary move together)
  * cancels out, while a code regression (the query moves, the canary
  * doesn't) survives the division and is flagged.
  */
class BenchDriftSpec extends AnyFunSuite with TempDirs {

  private val prior = Map(
    "q_big" -> (2.0, 1.72), // (cold, warm)
    "q_small" -> (0.4, 0.3),
    "q_improved" -> (5.0, 4.0),
  )

  test("a raw 1.25x mover on a 1.25x-slower machine is NOT flagged " +
    "(the r12 p1/j3 adjudication)") {
    // machine got 1.25x slower: calibration 0.2 -> 0.25, query warm
    // 1.72 -> 2.15 (raw +25%, exactly r12's j3) — adjusted ratio 1.0
    val now = Map("q_big" -> 2.15)
    val flagged = Bench.adjustedDrift(prior, now, Seq("q_big"),
      priorCalib = 0.2, calibNow = 0.25)
    assert(flagged.isEmpty)
  }

  test("a genuine 2x code regression on an unchanged machine IS flagged") {
    val now = Map("q_big" -> 3.44)
    val flagged = Bench.adjustedDrift(prior, now, Seq("q_big"),
      priorCalib = 0.2, calibNow = 0.2)
    assert(flagged.map(_._1) == Seq("q_big"))
    val ratio = flagged.head._4
    assert(ratio > 1.9 && ratio < 2.1)
  }

  test("sub-floor queries are exempt on both sides") {
    val now = Map("q_small" -> 0.45) // 1.5x raw, but both under 0.5 s
    assert(Bench.adjustedDrift(prior, now, Seq("q_small"),
      priorCalib = 0.2, calibNow = 0.2).isEmpty)
    // ... but a sub-floor query that regresses PAST the floor is not
    val now2 = Map("q_small" -> 0.9)
    assert(Bench.adjustedDrift(prior, now2, Seq("q_small"),
      priorCalib = 0.2, calibNow = 0.2).map(_._1) == Seq("q_small"))
  }

  test("improvements beyond 1/1.5 are flagged too (both directions)") {
    val now = Map("q_improved" -> 2.0)
    val flagged = Bench.adjustedDrift(prior, now, Seq("q_improved"),
      priorCalib = 0.2, calibNow = 0.2)
    assert(flagged.map(_._1) == Seq("q_improved"))
    assert(flagged.head._4 < 1.0 / 1.5)
  }

  test("artifact regex reads BOTH generations: with and without " +
    "warm_per_calib; priorCalibration reads calibration_sec") {
    val dir = tempDir("graft-benchdrift-").toString
    val p = Paths.get(dir, "bench_drifttestsf.json")
    val artifact =
      """{
        |  "sf": "drifttestsf",
        |  "calibration_sec": 0.215,
        |  "calibration_end_sec": 0.185,
        |  "queries": {
        |    "old_style": {"cold": 1.5, "warm": 1.2},
        |    "new_style": {"cold": 2.5, "warm": 2.1, "warm_per_calib": 9.767}
        |  }
        |}""".stripMargin
    try {
      Files.write(p, artifact.getBytes("UTF-8"))
      val both = Bench.benchBaselineBoth("drifttestsf", dir)
      assert(both == Map("old_style" -> (1.5, 1.2),
        "new_style" -> (2.5, 2.1)))
      // the basis is the MEAN of start/end calibration — per-query
      // times are spread across the run, so neither endpoint alone
      // is the right divisor when the canary drifted mid-run
      assert(Bench.priorCalibration("drifttestsf", dir).contains(0.2))
      assert(Bench.priorCalibration("no_such_sf_name", dir).isEmpty)
    } finally Files.deleteIfExists(p)
  }

  test("plan-shape hash: stable per shape, moves with the operator " +
    "tree, ignores literals/paths; priorShapes round-trips (r14 #9)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftx.GraftExtensions")
      .getOrCreate()
    import org.apache.spark.sql.functions._
    val base = spark.range(100).toDF("id")
    val agg1 = base.groupBy((col("id") % 10).as("k")).count()
    val agg2 = base.groupBy((col("id") % 7).as("k")).count()
    // same operator tree, different literal → same shape
    assert(Bench.planShapeHash(agg1) == Bench.planShapeHash(agg2))
    // a different tree (extra sort) → different shape
    assert(Bench.planShapeHash(agg1.orderBy("k")) !=
      Bench.planShapeHash(agg1))
    // artifact round-trip: the per-query regex reads the hash back
    val dir = tempDir("graft-benchdrift-").toString
    val p = Paths.get(dir, "bench_shapetestsf.json")
    val h = Bench.planShapeHash(agg1)
    val artifact =
      s"""{
         |  "queries": {
         |    "q_shaped": {"cold": 1.0, "warm": 0.9, "warm_per_calib": 4.5, "plan_shape": "$h"},
         |    "q_pre14": {"cold": 1.0, "warm": 0.9, "warm_per_calib": 4.5}
         |  }
         |}""".stripMargin
    try {
      Files.write(p, artifact.getBytes("UTF-8"))
      assert(Bench.priorShapes("shapetestsf", dir) == Map("q_shaped" -> h))
      // the warm regex still reads both entries
      assert(Bench.benchBaselineBoth("shapetestsf", dir).keySet ==
        Set("q_shaped", "q_pre14"))
    } finally Files.deleteIfExists(p)
  }
}
