package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round 13 (VERDICT r12 #4): SQL DDL evolution — `ALTER TABLE … ADD
  * COLUMNS` as a metadata-only commit (old files null-fill, time
  * travel keeps per-version DDL: the v5 law through DDL), plus
  * `DESCRIBE DETAIL`. */
class VersionedAlterSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmpTable(): String =
    tempDir("graftv-alter-").toString

  test("addColumns: old files null-fill, appends carry the column, time travel keeps per-version DDL") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1
    val v2 = Versioned.addColumns(t, "x BIGINT")
    assert(v2 == 2)
    // live read: evolved schema, old rows null-filled
    val live = Versioned.read(spark, t)
    assert(live.columns.toSeq == Seq("id", "s", "x"))
    assert(live.where(col("x").isNull).count() == 2)
    // append WITH the column (no mergeSchema needed — it's the schema)
    Versioned.commit(Seq((3L, "c", 30L)).toDF("id", "s", "x"), t) // v3
    assert(Versioned.read(spark, t)
      .where(col("x") === 30L).count() == 1)
    // time travel: v1 reads back WITHOUT the column
    assert(Versioned.read(spark, t, Some(1)).columns.toSeq ==
      Seq("id", "s"))
    // updates through the evolved schema work
    Versioned.updateWhere(spark, t, col("id") === 1L,
      Map("x" -> lit(10L)))
    assert(Versioned.read(spark, t).where(col("x") === 10L).count() == 1)
  }

  test("SQL ALTER TABLE ADD COLUMNS on a catalog table and the graftv.`path` form") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    spark.sql("DROP TABLE IF EXISTS r13_alter")
    spark.sql(s"CREATE TABLE r13_alter USING graftv LOCATION '$t'")
    try {
      spark.sql("ALTER TABLE r13_alter ADD COLUMNS (x BIGINT, y STRING)")
      val back = spark.sql("SELECT * FROM r13_alter")
      assert(back.columns.toSeq == Seq("id", "s", "x", "y"))
      assert(back.where(col("x").isNull && col("y").isNull).count() == 1)
      // the direct-path form
      spark.sql(s"ALTER TABLE graftv.`$t` ADD COLUMNS (z INT)")
      assert(spark.sql("SELECT * FROM r13_alter").columns.toSeq ==
        Seq("id", "s", "x", "y", "z"))
      // SQL time travel sees the pre-ALTER DDL
      assert(spark.sql("SELECT * FROM r13_alter VERSION AS OF 1")
        .columns.toSeq == Seq("id", "s"))
    } finally spark.sql("DROP TABLE IF EXISTS r13_alter")
  }

  test("ALTER on a non-graftv table re-enters Spark's native path") {
    spark.sql("DROP TABLE IF EXISTS r13_alter_native")
    spark.sql("CREATE TABLE r13_alter_native (id BIGINT) USING parquet")
    try {
      spark.sql("ALTER TABLE r13_alter_native ADD COLUMNS (x BIGINT)")
      assert(spark.table("r13_alter_native").columns.toSeq ==
        Seq("id", "x"))
    } finally spark.sql("DROP TABLE IF EXISTS r13_alter_native")
  }

  test("addColumns guards: duplicate names, FIRST/AFTER, empty table") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val e1 = intercept[Exception] { Versioned.addColumns(t, "s BIGINT") }
    assert(e1.getMessage.contains("already exists"))
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graftv.`$t` ADD COLUMNS (w BIGINT FIRST)")
    }
    assert(e2.getMessage.contains("FIRST/AFTER"))
    val fresh = tmpTable()
    val e3 = intercept[Exception] { Versioned.addColumns(fresh, "x INT") }
    assert(e3.getMessage.contains("no committed versions"))
  }

  test("metadata commits carry zero rows through CDC and the streaming tail") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Versioned.addColumns(t, "x BIGINT") // v2 (metadata)
    Versioned.commit(Seq((2L, "b", 20L)).toDF("id", "s", "x"), t) // v3
    // batch CDC across the metadata commit: only the two inserts
    val ch = Versioned.readChanges(spark, t, 0, 3)
    assert(ch.count() == 2)
    assert(ch.where(col("_commit_version") === 2).count() == 0)
    // table_changes TVF crosses it too
    val tvf = spark.sql(s"SELECT * FROM table_changes('$t', 1, 3)")
    assert(tvf.count() == 2)
    // the streaming tail (no skipChangeCommits) survives the
    // metadata commit: zero rows contributed, later appends flow
    val ckpt = tempDir("graftv-alter-ck-").toString
    val q = spark.readStream.format("graftv").load(t)
      .writeStream.format("memory").queryName("r13_alter_tail")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("r13_alter_tail").count() == 2)
    } finally q.stop()
  }

  test("DESCRIBE HISTORY shows the metadata op; DESCRIBE DETAIL reports table facts") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("id", "p", "s"),
      t, partitionBy = Seq("p"))
    Versioned.addColumns(t, "x BIGINT")
    val hist = spark.sql(s"DESCRIBE HISTORY graftv.`$t`")
      .orderBy("version").collect()
    assert(hist.map(_.getString(1)).toSeq == Seq("append", "metadata"))
    val d = spark.sql(s"DESCRIBE DETAIL graftv.`$t`").head()
    assert(d.getString(0) == "graftv")
    assert(d.getString(2).contains("x BIGINT"))
    assert(d.getString(3) == "p")
    assert(d.getInt(4) == 2) // latest version
    assert(d.getInt(5) == 2) // two partition files
    assert(d.getInt(8) == 2) // two committed versions
  }

  test("a concurrent ALTER aborts an in-flight COW op (schema changed)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    Versioned.beforePublish = () => { Versioned.addColumns(t, "x INT"); () }
    intercept[java.util.ConcurrentModificationException] {
      Versioned.deleteWhere(spark, t, col("id") === 1L)
    }
    // the retry (fresh snapshot, evolved schema) succeeds
    Versioned.deleteWhere(spark, t, col("id") === 1L)
    assert(Versioned.read(spark, t).count() == 1)
  }
}
