package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Three arms, each timed against the noop sink with a task-metrics
  * listener; per arm the stage with the largest shuffle-read volume
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
  * Usage: runMain graft.SkewScale [out.json] [nProbeRows]
  */
object SkewScale {
  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  private final class StageMetrics extends SparkListener {
    val byStage = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        byStage.computeIfAbsent(te.stageId,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]())
          .add((m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead))
      }
    }
    def reset(): Unit = byStage.clear()
    /** (maxMs, medMs, maxBytes, medBytes, nTasks) of the stage with
      * the largest total shuffle read — the join's reduce stage. */
    def joinStage(): (Long, Long, Long, Long, Int) = {
      import scala.jdk.CollectionConverters._
      val stages = byStage.asScala.toSeq.map { case (id, q) =>
        val xs = q.asScala.toSeq
        (id, xs, xs.map(_._2).sum)
      }
      if (stages.isEmpty) return (0L, 0L, 0L, 0L, 0)
      val (_, xs, _) = stages.maxBy(_._3)
      val dur = xs.map(_._1).sorted
      val rd = xs.map(_._2).sorted
      (dur.last, dur(dur.size / 2), rd.last, rd(rd.size / 2), xs.size)
    }
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.lift(0).getOrElse("bench/skew_salt_25x.json")
    // AQE's skew split compares COMPRESSED shuffle bytes with
    // skewedPartitionThresholdInBytes (256 MB): at the default n the
    // mega-key's partition reads ~62 MB (task_shuffle_read_max in
    // bench/skew_salt_25x.json), so AQE never splits it and the two
    // plain arms differ only in the skew-join setting; their task
    // metrics, not a plan flag, show whether a split happened
    val n = args.lift(1).map(_.toLong).getOrElse(64000000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftx.GraftExtensions")
      // the mechanism under test is the SHUFFLED join's balance
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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

    val listener = new StageMetrics
    spark.sparkContext.addSparkListener(listener)
    def arm(name: String, df: => DataFrame): String = {
      // settle lap (JIT/codegen) then the measured lap
      df.write.format("noop").mode("overwrite").save()
      listener.reset()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // drain the async listener bus
      val (maxMs, medMs, maxRd, medRd, nT) = listener.joinStage()
      s""""$name": {"wall_sec": ${r3(wall)}, "join_stage_tasks": $nT, """ +
        s""""task_ms_max": $maxMs, "task_ms_median": $medMs, """ +
        s""""task_shuffle_read_max": $maxRd, """ +
        s""""task_shuffle_read_median": $medRd, """ +
        s""""max_over_median_ms": ${r3(maxMs.toDouble /
          math.max(medMs, 1L))}}"""
    }

    def agg(j: DataFrame): DataFrame =
      j.groupBy(col("w")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

    val plainOn = arm("plain_aqe_skew", agg(probe.join(build, "k")))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    val plainOff = arm("plain_no_aqe_skew", agg(probe.join(build, "k")))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    val salted = arm("salted", agg(graft.operators.SkewJoin
      .saltedJoin(probe, build, "k", Seq(HotKey), salt = 32)))

    val json = s"""{\n  "n_probe_rows": $n, "hot_share": 0.3, """ +
      s""""n_build_keys": $nKeys, "cpus": $cpus,\n  $plainOn,\n""" +
      s"""  $plainOff,\n  $salted\n}\n"""
    val p = java.nio.file.Paths.get(outJson)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
