package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.JobLog
import org.json4s.JObject
import org.json4s.JsonDSL._

import Study.{obj, timed}

/** Measures the j10 skew claim at scale (round 17, VERDICT r16 #8):
  * on a join whose probe side has a mega-key, (a) does AQE's runtime
  * skew-join splitting actually fire, and (b) does the library's
  * pre-shuffle salting ([[graft.operators.SkewJoin]]) keep the
  * per-task maximum flat WITHOUT relying on it?
  *
  * Synthetic deterministic input (~25× the sf0.1 join volume): a
  * probe side of `n` rows where ONE key owns 30% of all rows (the
  * straggler regime), a build side of 100k distinct keys. Broadcast
  * is disabled — a broadcast join has no shuffle to skew and would
  * measure nothing (guide §3.1); the mechanism under test is the
  * shuffled join's reduce-side balance.
  *
  * Three arms, each timed against the noop sink under a
  * [[JobLog]] trace; per arm the stage with the largest shuffle-read volume
  * (the join's reduce stage) reports max/median task duration and
  * shuffle-read bytes:
  *  - `plain_aqe_skew`: plain join, AQE skew-join ON (engine
  *    default);
  *  - `plain_no_aqe_skew`: plain join, AQE skew-join OFF — the
  *    unmitigated straggler baseline;
  *  - `salted`: [[graft.operators.SkewJoin.saltedJoin]] — the j10
  *    mechanism, which also covers shuffled-hash joins and
  *    downstream keyed aggregations where AQE's splitter cannot
  *    reach (it only splits sort-merge/hash JOIN partitions).
  *
  * Usage: runMain graft.Study SkewScale <out.json> [nProbeRows=64000000]
  * (bench/skew_salt_25x.json)
  */
object SkewScale {
  /** (maxMs, medMs, maxBytes, medBytes, nTasks) of the stage with the
    * largest total shuffle read — the join's reduce stage. */
  private def joinStage(tasks: Seq[JobLog.Task]): (Long, Long, Long, Long, Int) =
    if (tasks.isEmpty) (0L, 0L, 0L, 0L, 0)
    else {
      val xs = tasks.groupBy(_.stage).values
        .maxBy(_.map(_.shuffleReadBytes).sum)
      val dur = xs.map(_.runMs).sorted
      val rd = xs.map(_.shuffleReadBytes).sorted
      (dur.last, dur(dur.size / 2), rd.last, rd(rd.size / 2), xs.size)
    }

  def run(spark: SparkSession, args: Seq[String]): Study.Output = {
    // AQE's skew split compares COMPRESSED shuffle bytes with
    // skewedPartitionThresholdInBytes (256 MB): at the default n the
    // mega-key's partition reads ~62 MB (task_shuffle_read_max in
    // bench/skew_salt_25x.json), so AQE never splits it and the two
    // plain arms differ only in the skew-join setting; their task
    // metrics, not a plan flag, show whether a split happened
    val n = args.lift(0).map(_.toLong).getOrElse(64000000L)
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT settle

    val HotKey = 77L
    val nKeys = 100000L
    // 30% of probe rows on the mega-key; the rest spread over 100k
    // keys (deterministic hash spread — no rand(), retry-safe §2.5)
    val probe = spark.range(n).select(
      when(pmod(col("id"), lit(10)) < 3, lit(HotKey))
        .otherwise(pmod(xxhash64(col("id")), lit(nKeys))).as("k"),
      (col("id") % 1000).as("v"))
    val build = spark.range(nKeys).select(col("id").as("k"),
      (col("id") % 97).as("w"))

    def arm(df: => DataFrame): JObject = {
      // settle lap (JIT/codegen) then the measured lap
      df.write.format("noop").mode("overwrite").save()
      val ((_, wall), _, tasks) = JobLog.trace(spark.sparkContext)(
        timed(df.write.format("noop").mode("overwrite").save()))
      val (maxMs, medMs, maxRd, medRd, nT) = joinStage(tasks)
      obj("wall_sec" -> wall, "join_stage_tasks" -> nT,
        "task_ms_max" -> maxMs, "task_ms_median" -> medMs,
        "task_shuffle_read_max" -> maxRd,
        "task_shuffle_read_median" -> medRd,
        "max_over_median_ms" -> maxMs.toDouble / math.max(medMs, 1L))
    }

    def agg(j: DataFrame): DataFrame =
      j.groupBy(col("w")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

    // the mechanism under test is the SHUFFLED join's balance
    Study.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plainOn = arm(agg(probe.join(build, "k")))
      val plainOff = Study.withConf(spark,
        "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        arm(agg(probe.join(build, "k")))
      }
      val salted = arm(agg(graft.operators.SkewJoin
        .saltedJoin(probe, build, "k", Seq(HotKey), salt = 32)))
      Study.Json(obj("n_probe_rows" -> n, "hot_share" -> 0.3,
        "n_build_keys" -> nKeys, "plain_aqe_skew" -> plainOn,
        "plain_no_aqe_skew" -> plainOff, "salted" -> salted))
    }
  }
}
