package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

/** Round-13 extension: CHECK constraints (Delta's `ALTER TABLE ADD
  * CONSTRAINT … CHECK`) — the data-quality gate at every write door.
  * Constraints are a TABLE PROPERTY carried in the manifest: they
  * survive appends, COW ops, metadata commits, and RESTORE, and every
  * write validates its FRESH files (one scan) before publishing.
  * Violation = the expression evaluates FALSE; NULL passes (the
  * SQL-standard rule). A failed check aborts BEFORE publish — the
  * staged files stay unreferenced for vacuum, the table untouched.
  */
class ConstraintSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmpTable(): String =
    tempDir("graft-constraint-").toString

  test("add validates existing rows; appends are gated; drop lifts " +
    "the gate; NULL passes") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, Some(10L)), (2L, Some(20L)))
      .toDF("id", "v"), t) // v1
    // existing rows conform -> constraint lands as a metadata commit
    assert(Versioned.addConstraint(spark, t, "v_pos", "v > 0") === 2)
    assert(Versioned.constraintsOf(t) === Map("v_pos" -> "v > 0"))
    // a conforming append passes; NULL passes (SQL CHECK rule)
    Versioned.commit(Seq((3L, Some(30L)), (4L, Option.empty[Long]))
      .toDF("id", "v"), t) // v3
    assert(Versioned.read(spark, t).count() === 4L)
    // a violating append fails LOUDLY and publishes nothing
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq((5L, Some(-1L))).toDF("id", "v"), t)
    }
    assert(e.getMessage.contains("v_pos") &&
      e.getMessage.contains("1 row(s)"))
    assert(Versioned.versions(t).max === 3) // no phantom version
    // duplicate name refused; a constraint existing rows violate is
    // refused with the count
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, t, "V_POS", "v > 1")
    }
    val e2 = intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, t, "v_big", "v > 15")
    }
    assert(e2.getMessage.contains("v_big") &&
      e2.getMessage.contains("row(s)"))
    // drop lifts the gate
    Versioned.dropConstraint(t, "v_pos") // v4
    Versioned.commit(Seq((5L, Some(-1L))).toDF("id", "v"), t) // v5
    assert(Versioned.read(spark, t).count() === 5L)
    intercept[IllegalArgumentException] {
      Versioned.dropConstraint(t, "no_such")
    }
  }

  test("enforcement reads staged files under the TABLE's DDL: a " +
    "mergeSchema append omitting a constrained column evaluates over " +
    "the null-fill (NULL passes; IS NOT NULL violates)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L)).toDF("id", "v"), t) // v1
    Versioned.addConstraint(spark, t, "v_pos", "v IS NULL OR v > 0")
    // an append WITHOUT the v column (mergeDdl keeps it; files
    // null-fill): v IS NULL → passes, no unresolved-column crash
    Versioned.commit(Seq((2L, "x")).toDF("id", "s"), t,
      mergeSchema = true)
    assert(Versioned.read(spark, t).count() === 2L)
    // the strict form counts the null-fill as a violation
    Versioned.dropConstraint(t, "v_pos")
    Versioned.addConstraint(spark, t, "v_req",
      "v IS NOT NULL OR s IS NOT NULL")
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq(Tuple1(3L)).toDF("id"), t,
        mergeSchema = true) // neither v nor s: both null-fill
    }
    assert(e.getMessage.contains("v_req"))
  }

  test("COW doors are gated too: updateWhere and merge cannot write " +
    "violating rows; deletes still work; restore carries the " +
    "constraint forward") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), t) // v1
    Versioned.addConstraint(spark, t, "v_pos", "v > 0") // v2
    // an update that would flip a row negative aborts pre-publish
    val e = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, t, col("id") === 1L,
        Map("v" -> -col("v")))
    }
    assert(e.getMessage.contains("v_pos"))
    assert(Versioned.read(spark, t).as[(Long, Long)].collect().toSet ===
      Set((1L, 10L), (2L, 20L)))
    // a violating merge insert aborts the same way
    intercept[IllegalArgumentException] {
      Versioned.merge(Seq((3L, -5L)).toDF("id", "v"), t, "id")
    }
    // conforming COW ops pass; delete needs no row gate
    Versioned.updateWhere(spark, t, col("id") === 1L,
      Map("v" -> (col("v") + 1L))) // v3
    Versioned.deleteWhere(spark, t, col("id") === 2L) // v4
    assert(Versioned.read(spark, t).as[(Long, Long)].collect().toSet ===
      Set((1L, 11L)))
    // RESTORE rolls the DATA back, the constraint survives (table
    // property, like the txn ledger)
    Versioned.restore(t, 1) // v5: v1's rows
    assert(Versioned.constraintsOf(t) === Map("v_pos" -> "v > 0"))
    intercept[IllegalArgumentException] {
      Versioned.commit(Seq((9L, -9L)).toDF("id", "v"), t)
    }
  }

  test("SQL: ADD CONSTRAINT / DROP CONSTRAINT on a catalog graftv " +
    "table; INSERT INTO is gated through the DSv2 writer") {
    import spark.implicits._
    val t = tmpTable()
    spark.sql("DROP TABLE IF EXISTS g_constraints")
    try {
      Seq((1L, 5L), (2L, 6L)).toDF("id", "v")
        .write.format("graftv").mode("overwrite")
        .option("path", t).saveAsTable("g_constraints")
      spark.sql(
        "ALTER TABLE g_constraints ADD CONSTRAINT v_small CHECK (v < 100)")
      assert(Versioned.constraintsOf(t) === Map("v_small" -> "v < 100"))
      // the DSv2 INSERT door shares the enforcement seam
      val e = intercept[Exception] {
        spark.sql("INSERT INTO g_constraints VALUES (3, 500)")
      }
      assert(e.getMessage.contains("v_small"))
      assert(spark.sql("SELECT count(*) FROM g_constraints")
        .head().getLong(0) === 2L)
      spark.sql("INSERT INTO g_constraints VALUES (3, 50)")
      assert(spark.sql("SELECT count(*) FROM g_constraints")
        .head().getLong(0) === 3L)
      // DESCRIBE DETAIL surfaces the constraint set
      assert(spark.sql("DESCRIBE DETAIL g_constraints")
        .head().getAs[String]("constraints") === "v_small CHECK (v < 100)")
      // IF EXISTS makes an unknown drop a no-op; plain drop lifts it
      spark.sql(
        "ALTER TABLE g_constraints DROP CONSTRAINT IF EXISTS nope")
      spark.sql("ALTER TABLE g_constraints DROP CONSTRAINT v_small")
      assert(Versioned.constraintsOf(t).isEmpty)
      spark.sql("INSERT INTO g_constraints VALUES (4, 500)")
      assert(spark.sql("SELECT count(*) FROM g_constraints")
        .head().getLong(0) === 4L)
    } finally spark.sql("DROP TABLE IF EXISTS g_constraints")
  }
}
