package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round-13 ADVICE-r12 regression pins:
  *
  *  - HIGH: SET/INSERT projections in updateWhere / mergeClauses cast
  *    to the table column type — `SET v = v / 2` on a BIGINT column
  *    must NOT publish DOUBLE-typed parquet under a manifest DDL that
  *    still says BIGINT (that corrupted every later read of the live
  *    version until RESTORE).
  *  - whole-row WhenMatched.Update rewrites EACH duplicate-key target
  *    copy (Delta's row-count-preserving semantics) instead of
  *    collapsing the copies into one source row.
  *  - TIMESTAMP AS OF zone-less literals resolve in the SESSION time
  *    zone, not the JVM default.
  *  - table_changes guards: empty table, out-of-range Long literals,
  *    fully-qualified spark_catalog.db.t names.
  */
class Round13AdviceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmpTable(): String =
    tempDir("r13-advice-").toString

  test("updateWhere casts SET expressions to the table column type") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L), (2L, 20L), (3L, 31L))
      .toDF("id", "v"), t)
    // v / 2 is DOUBLE in Spark; the projection must store-assign back
    // to BIGINT or the live version becomes unreadable
    Versioned.updateWhere(spark, t, col("id") <= 2,
      Map("v" -> (col("v") / lit(2))))
    val out = Versioned.read(spark, t)
    assert(out.schema("v").dataType == LongType)
    assert(out.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 5L), (2L, 10L), (3L, 31L)))
    // the SQL door rides the same projection
    spark.sql(s"UPDATE graftv.`$t` SET v = v / 2 WHERE id = 3")
    val out2 = Versioned.read(spark, t)
    assert(out2.schema("v").dataType == LongType)
    assert(out2.where(col("id") === 3).select("v").as[Long].head() == 15L)
  }

  test("mergeClauses casts SET and INSERT expressions to table types") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t)
    Versioned.mergeClauses(
      Seq((1L, 100L), (9L, 90L)).toDF("id", "v"), t, Seq("id"),
      matched = Seq(Versioned.WhenMatched.Update(None,
        set = Map("v" -> (col("source.v") / lit(4))))),
      notMatched = Seq(Versioned.WhenNotMatched.Insert(None,
        set = Map("id" -> col("id"), "v" -> (col("v") / lit(3))))))
    val out = Versioned.read(spark, t)
    assert(out.schema("v").dataType == LongType)
    assert(out.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 25L), (2L, 20L), (9L, 30L)))
  }

  test("whole-row matched update rewrites every duplicate-key target copy") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1
    Versioned.commit(Seq((1L, "c")).toDF("id", "s"), t) // v2: key 1 × 2
    val v3 = Versioned.merge(Seq((1L, "z")).toDF("id", "s"), t, "id")
    val out = Versioned.read(spark, t).orderBy("id", "s")
      .as[(Long, String)].collect().toSeq
    // Delta preserves row count: BOTH copies of key 1 become "z"
    assert(out == Seq((1L, "z"), (1L, "z"), (2L, "b")))
    val cdf = Versioned.readChanges(spark, t, v3 - 1, v3)
      .groupBy("_change_type").count().as[(String, Long)]
      .collect().toMap
    assert(cdf.getOrElse("update_preimage", 0L) == 2L)
    assert(cdf.getOrElse("update_postimage", 0L) == 2L)
  }

  test("TIMESTAMP AS OF zone-less literals resolve in the session zone") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Thread.sleep(30)
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t) // v2
    val t1 = Versioned.commitTimestamp(t, 1)
    // an instant just after v1: rendered as a zone-LESS local string
    // in America/New_York (UTC-4/-5). Parsed in the session zone it
    // resolves v1; misparsed in the container's UTC default it would
    // PREDATE the first commit and error loudly.
    val zone = java.time.ZoneId.of("America/New_York")
    val local = java.time.Instant.ofEpochMilli(t1 + 5).atZone(zone)
      .toLocalDateTime
    val lit = local.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val rows = spark.sql(
        s"SELECT id FROM graftv.`$t` TIMESTAMP AS OF '$lit'")
        .as[Long].collect().toSeq
      assert(rows == Seq(1L))
      // the DSv2 reader option takes the same session-zone rule
      val viaOption = spark.read.format("graftv")
        .option("timestampAsOf", lit).load(t).as[(Long, String)]
        .collect().toSeq
      assert(viaOption == Seq((1L, "a")))
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("table_changes guards: empty table, Long range, qualified names") {
    import spark.implicits._
    val empty = tmpTable()
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$empty', 1)").collect()
    }
    assert(e1.getMessage.contains("no committed versions"))
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val e2 = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM table_changes('$t', ${Long.MaxValue}L)").collect()
    }
    assert(e2.getMessage.contains("out of the version range"))
    val e3 = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('cat.db.extra.t', 1)")
        .collect()
    }
    assert(e3.getMessage.contains("cannot resolve"))
    // spark_catalog.default.<t> fully-qualified form resolves
    spark.sql("DROP TABLE IF EXISTS r13_tc_tbl")
    spark.sql(s"CREATE TABLE r13_tc_tbl USING graftv LOCATION '$t'")
    try {
      val n = spark.sql(
        "SELECT * FROM table_changes('spark_catalog.default.r13_tc_tbl', 1)")
        .count()
      assert(n == 1L)
    } finally spark.sql("DROP TABLE IF EXISTS r13_tc_tbl")
  }
}
