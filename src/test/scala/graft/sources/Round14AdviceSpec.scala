package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Round-14 ADVICE-r13 regression pins (lives in graft.sources to
  * drive the private[sources] scan/publish seams directly):
  *
  *  - a change-feed BATCH read and a non-AvailableNow stream's
  *    latestOffset on a created-but-never-written table return an
  *    EMPTY feed / "no progress", never an `empty.max` crash;
  *  - publishAdded's exactly-once txn dedup runs BEFORE constraint
  *    enforcement, so a foreachBatch replay of an already-committed
  *    batch no-ops with None even when a constraint added AFTER the
  *    original commit would reject the replayed rows;
  *  - RESTORE re-validates the restored snapshot against the carried
  *    constraint set (rows predating a constraint cannot silently
  *    re-enter under a manifest that claims the constraint holds).
  */
class Round14AdviceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmp(): String =
    tempDir("r14-advice-").toString

  test("change-feed batch scan over an EMPTY log plans zero partitions") {
    val t = tmp() // no commits ever
    val schema = StructType.fromDDL(
      "id BIGINT, _change_type STRING, _commit_version INT")
    val scan = new VersionedScanBuilder(t, None, schema,
      startingVersion = 0, endingVersion = None,
      skipChangeCommits = false, changeFeed = true,
      maxVersionsPerTrigger = None).build()
    // pre-fix: endingVersion.getOrElse(versions(t).max) -> empty.max
    assert(scan.toBatch.planInputPartitions().isEmpty)
  }

  test("catalog CREATE-then-read-changes is an empty feed, not a crash") {
    val t = tmp()
    spark.sql("DROP TABLE IF EXISTS g_r14_empty_cdf")
    try {
      spark.sql("CREATE TABLE g_r14_empty_cdf (id BIGINT, s STRING) " +
        s"USING graftv LOCATION '$t'")
      // the SQL door: Delta's rule — a created table's CDF exists and
      // is EMPTY under the declared schema + CDF columns
      val df = spark.sql(
        "SELECT * FROM table_changes('g_r14_empty_cdf', 1)")
      assert(df.schema.fieldNames.toSeq ==
        Seq("id", "s", "_change_type", "_commit_version"))
      assert(df.count() == 0L)
      // first insert makes the feed non-empty through the same door
      spark.sql("INSERT INTO g_r14_empty_cdf VALUES (1, 'a')")
      assert(spark.sql(
        "SELECT * FROM table_changes('g_r14_empty_cdf', 1)").count() == 1L)
    } finally spark.sql("DROP TABLE IF EXISTS g_r14_empty_cdf")
  }

  test("latestOffset on an empty log reports no progress past start") {
    val t = tmp()
    val stream = new VersionedMicroBatchStream(t, "id BIGINT",
      startingVersion = 0, skipChangeCommits = false, changeFeed = true)
    val end = stream.latestOffset(VersionedOffset(0),
      org.apache.spark.sql.connector.read.streaming.ReadLimit
        .allAvailable())
    // pre-fix: versions(t).max on an empty list -> empty.max
    assert(end == VersionedOffset(0))
    assert(stream.planInputPartitions(VersionedOffset(0), end).isEmpty)
  }

  test("txn replay dedups BEFORE constraint enforcement (stuck-stream fix)") {
    import spark.implicits._
    val t = tmp()
    // v1: seed; v2: the batch that will later be replayed, with rows a
    // FUTURE constraint rejects
    Versioned.commit(Seq((1L, 5L)).toDF("id", "v"), t)
    assert(Versioned.commitIfAbsent(Seq((2L, -1L)).toDF("id", "v"), t,
      "r14app", 2L).contains(2))
    // v3: the offending rows leave the live set; v4: constraint lands
    Versioned.deleteWhere(spark, t, col("v") < 0)
    Versioned.addConstraint(spark, t, "nonneg", "v >= 0")
    // replay of batch 2 through the publish seam (bypassing
    // commitIfAbsent's fast path, as a racing recovery would): the
    // staged rows VIOLATE nonneg, but the batch is already in the txn
    // ledger — it must no-op with None, not die in enforcement
    val rel = "data/c-replay14"
    Seq((2L, -1L)).toDF("id", "v").write.parquet(s"$t/$rel")
    val added = new java.io.File(s"$t/$rel").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted
      .map(f => s"$rel/$f").toSeq
    val out = Versioned.publishAdded(t, added, "id BIGINT, v BIGINT",
      "append", txn = Some("r14app" -> 2L), mergeSchema = false,
      pcols = Nil, addedStats = Map.empty)
    assert(out.isEmpty)
    // and a genuinely NEW violating batch still fails loudly
    val e = intercept[IllegalArgumentException] {
      Versioned.publishAdded(t, added, "id BIGINT, v BIGINT",
        "append", txn = Some("r14app" -> 3L), mergeSchema = false,
        pcols = Nil, addedStats = Map.empty)
    }
    assert(e.getMessage.contains("nonneg"))
  }

  test("RESTORE re-validates the snapshot against carried constraints") {
    import spark.implicits._
    val t = tmp()
    Versioned.commit(Seq((1L, 5L), (2L, -7L)).toDF("id", "v"), t) // v1
    Versioned.deleteWhere(spark, t, col("v") < 0) // v2: live set clean
    Versioned.addConstraint(spark, t, "nonneg", "v >= 0") // v3
    // restoring v1 would re-admit v = -7 under a manifest that still
    // claims nonneg holds — loud error, table state unchanged
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(t, 1)
    }
    assert(e.getMessage.contains("nonneg") &&
      e.getMessage.contains("RESTORE"))
    assert(Versioned.versions(t) == Seq(1, 2, 3))
    // dropping the constraint unblocks the restore
    Versioned.dropConstraint(t, "nonneg")
    assert(Versioned.restore(t, 1) == 5)
    assert(Versioned.read(spark, t).count() == 2)
  }
}
