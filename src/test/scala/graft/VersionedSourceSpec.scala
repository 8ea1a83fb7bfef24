package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Versioned

class VersionedSourceSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions",
      "org.apache.spark.sql.graftx.GraftExtensions")
    .getOrCreate()

  private def tmpTable(): String =
    tempDir("graftv-spec-").toString

  test("batch read via format(graftv) matches the library read, with time travel") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "s", "x"), t)
    Versioned.commit(Seq((3L, "c", 2.5)).toDF("id", "s", "x"), t)
    val latest = spark.read.format("graftv").load(t)
    assert(latest.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq === Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)))
    val v1 = spark.read.format("graftv").option("versionAsOf", 1).load(t)
    assert(v1.count() === 2L)
    // null round-trip
    val t2 = tmpTable()
    Versioned.commit(Seq((1L, Some("a")), (2L, None))
      .toDF("id", "s"), t2)
    val rows = spark.read.format("graftv").load(t2).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(rows === Seq((1L, Some("a")), (2L, None)))
  }

  test("column pruning reaches the connector scan (ReadSchema shrinks)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "s", "x"), t)
    val q = spark.read.format("graftv").load(t).select(sum(col("x")).as("sx"))
    val scanDesc = q.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema: x DOUBLE"),
      s"projection not pushed into the graftv scan:\n$scanDesc")
    assert(!scanDesc.contains("ReadSchema: id"), scanDesc)
    assert(q.head().getDouble(0) === 2.0)
  }

  test("streaming tail: version offsets drive micro-batches across restarts") {
    import spark.implicits._
    val t = tmpTable()
    val ckpt = tempDir("graftv-ckpt-").toString
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftv").load(t)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => seen.add(r.getLong(0))); ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(seen.asScala.toSeq === Seq(1L))
    // two more commits land between runs; the restarted query resumes
    // from the checkpointed version offset and emits exactly the delta
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t)
    Versioned.commit(Seq((3L, "c")).toDF("id", "s"), t)
    runOnce()
    assert(seen.asScala.toSeq.sorted === Seq(1L, 2L, 3L)) // v1 not re-emitted
    // replaying with NO new commits emits nothing
    runOnce()
    assert(seen.size === 3)
  }

  test("DSv2 WRITE: df.write append/overwrite and SQL INSERT INTO publish real commits") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a", 0.5)).toDF("id", "s", "x"), t) // v1 (library)
    // DataFrame append through the connector
    Seq((2L, "b", 1.5), (3L, "c", 2.5)).toDF("id", "s", "x")
      .write.format("graftv").mode("append").save(t)
    assert(Versioned.versions(t).max === 2)
    assert(Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq
      === Seq((1L, "a", 0.5), (2L, "b", 1.5), (3L, "c", 2.5)))
    // the written files carry footer stats into the manifest like any
    // other commit — data skipping covers DSv2-written files too
    val snap = Versioned.snapshot(t)
    val v2Files = snap.files.filterNot(
      Versioned.snapshot(t, Some(1)).files.toSet)
    assert(v2Files.nonEmpty)
    assert(v2Files.forall(f => snap.stats(f).get("id")
      .exists(_.isInstanceOf[Versioned.LongStat])))
    // overwrite replaces the live set as a new version; history intact
    Seq((9L, "z", 9.0)).toDF("id", "s", "x")
      .write.format("graftv").mode("overwrite").save(t)
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).toSeq
      === Seq(9L))
    assert(Versioned.read(spark, t, Some(2)).count() === 3L)
    // SQL INSERT INTO over a catalog graftv table
    spark.sql("DROP TABLE IF EXISTS g_ins")
    spark.sql(s"CREATE TABLE g_ins USING graftv LOCATION '$t'")
    spark.sql("INSERT INTO g_ins VALUES (10, 'ten', 10.0)")
    assert(spark.sql("SELECT id FROM g_ins ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(9L, 10L))
    assert(Versioned.versions(t).max === 4)
    spark.sql("DROP TABLE g_ins")
    // schema mismatch fails loudly, nothing published
    val before = Versioned.versions(t).max
    intercept[Exception] {
      Seq((1L, 2L)).toDF("id", "y").write.format("graftv")
        .mode("append").save(t)
    }
    assert(Versioned.versions(t).max === before)
    // PARTITIONED tables: the DSv2 append inherits the layout — rows
    // route to hive-style value dirs, partition point stats land in
    // the manifest, and a partition-filtered scan prunes
    val tp = tmpTable()
    Versioned.commit(Seq((1L, 0L, "a")).toDF("id", "p", "s"), tp,
      partitionBy = Seq("p"))
    Seq((2L, 1L, "b"), (3L, 0L, "c"), (4L, 1L, "d"))
      .toDF("id", "p", "s")
      .write.format("graftv").mode("append").save(tp)
    val snapP = Versioned.snapshot(tp)
    assert(snapP.partitionCols === Seq("p"))
    val newFiles = snapP.files.filterNot(
      Versioned.snapshot(tp, Some(1)).files.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("__part_p=")))
    assert(newFiles.forall(f => snapP.stats(f)("p") match {
      case Versioned.LongStat(lo, hi) => lo === hi
      case _ => false
    }), "partition point stats must land in the manifest")
    assert(Versioned.read(spark, tp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      === Seq((1L, 0L, "a"), (2L, 1L, "b"), (3L, 0L, "c"), (4L, 1L, "d")))
    assert(spark.read.format("graftv").load(tp).where(col("p") === 1L)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 4L))
  }

  test("DSv2 write ABORT: a failing job publishes nothing and cleans its files") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    val boom = org.apache.spark.sql.functions.udf { (x: Long) =>
      if (x == 3L) throw new RuntimeException("planted write failure")
      x
    }
    intercept[Exception] {
      Seq((2L, "b"), (3L, "c")).toDF("id", "s")
        .repartition(1) // one task: the failure kills the whole batch
        .withColumn("id", boom(col("id")))
        .write.format("graftv").mode("append").save(t)
    }
    // the log never saw the commit; the table reads exactly v1
    assert(Versioned.versions(t) === Seq(1))
    assert(Versioned.read(spark, t).collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    // the aborted commit's directory is gone (driver-side abort) — at
    // worst a stray dir would be unreferenced and vacuumable, but the
    // clean path is asserted here
    val dataDirs = {
      val s = Files.list(Paths.get(t, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toVector
      finally s.close()
    }
    assert(dataDirs.size === 1, s"aborted commit dir must be cleaned: $dataDirs")
  }

  test("streaming + change feed over a PARTITIONED table: full rows, merge post-images") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 8L).map(i => (i, i % 2, s"s$i"))
      .toDF("id", "p", "s"), t, partitionBy = Seq("p")) // v1
    Versioned.commit(Seq((9L, 1L, "s9")).toDF("id", "p", "s"), t) // v2
    // plain tail: the example reader serves partitioned data files
    // with every column (rows physically carry them; path consts are
    // a redundant cross-check)
    val ckpt = tempDir("graftv-part-ckpt-").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val q = spark.readStream.format("graftv").load(t)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r =>
          seen.add((r.getLong(0), r.getLong(1), r.getString(2)))); ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(seen.asScala.toSeq.sorted ===
      (1L to 9L).map(i => (i, i % 2, s"s$i")).sorted)
    // change feed THROUGH a merge on the partitioned layout
    Versioned.merge(Seq((4L, 0L, "S4"), (10L, 0L, "S10"))
      .toDF("id", "p", "s"), t, Seq("id")) // v3
    val ch = Versioned.readChanges(spark, t, 2, 3)
      .select("_change_type", "id", "p", "s").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sorted.toSeq
    assert(ch === Seq(
      ("insert", 10L, 0L, "S10"),
      ("update_postimage", 4L, 0L, "S4"),
      ("update_preimage", 4L, 0L, "s4")))
  }

  test("incremental minhash probe over a graftv tail: exactly-once, equals batch d14") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val isNew = pmod(col("doc_id"), lit(10)) === 0
    val history = docs.where(!isNew)
    val incoming = docs.where(isNew)

    val lake = tmpTable()
    val out = tmpTable() + "/verdicts"
    val ckpt = tempDir("mh_lake_ckpt").toString
    // two lake commits with a STREAM RESTART between them: the second
    // run resumes from the checkpointed version offset
    Versioned.commit(incoming.where(pmod(col("doc_id"), lit(3)) < 2), lake)
    def runOnce(): Unit = {
      val q = graft.streaming.MinhashProbeStream.startOnLake(
        spark, lake, out, ckpt, history)
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    Versioned.commit(incoming.where(pmod(col("doc_id"), lit(3)) === 2), lake)
    runOnce()

    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    // exactly-once sink: the versioned read IS the drained table —
    // no read-side dedup — and equals the one-shot batch d14 output
    val streamed = canon(Versioned.read(spark, out))
    val batch = canon(SparkEntry.queries("d14_incremental_minhash")(
      spark, "/root/testdata/sf0.001"))
    assert(streamed === batch)
    // a third run with no new lake commits must add NO verdict rows
    // and NO output versions (replay refused by the txn ledger)
    val versionsBefore = Versioned.versions(out)
    runOnce()
    assert(Versioned.versions(out) === versionsBefore)
    assert(canon(Versioned.read(spark, out)) === batch)
  }

  test("graftv tables are SQL-creatable: CREATE TABLE USING graftv + SELECT") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    spark.sql(s"CREATE TABLE graftv_sql_spec USING graftv OPTIONS (path '$t')")
    try {
      assert(spark.sql("SELECT sum(id) AS s FROM graftv_sql_spec")
        .head().getLong(0) === 3L)
      // new commits are visible through the catalog entry (the table
      // resolves to the LOG, not to a frozen file list)
      Versioned.commit(Seq((3L, "c")).toDF("id", "s"), t)
      assert(spark.sql("SELECT count(*) AS n FROM graftv_sql_spec")
        .head().getLong(0) === 3L)
    } finally spark.sql("DROP TABLE graftv_sql_spec")
  }

  test("streaming tail refuses a range crossing a rewrite commit") {
    import spark.implicits._
    val t = tmpTable()
    val ckpt = tempDir("graftv-ckpt-").toString
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val q = spark.readStream.format("graftv").load(t)
      .writeStream.format("memory").queryName("vtail2")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    Versioned.commit(Seq((9L, "z")).toDF("id", "s"), t, "overwrite")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("skipChangeCommits: a live tail survives OPTIMIZE and keeps appending") {
    import spark.implicits._
    val t = tmpTable()
    val ckpt = tempDir("graftv-skip-ckpt-").toString
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftv")
        .option("skipChangeCommits", true).load(t)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => seen.add(r.getLong(0))); ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(seen.asScala.toSeq.sorted === Seq(1L, 2L))
    // compaction + a merge land on the LIVE-TAILED table...
    Versioned.optimize(spark, t, numFiles = 1)
    Versioned.merge(Seq((1L, "A")).toDF("id", "s"), t, "id")
    Versioned.commit(Seq((3L, "c")).toDF("id", "s"), t)
    // ...and the resumed tail skips the rewrites, emits only the append
    runOnce()
    assert(seen.asScala.toSeq.sorted === Seq(1L, 2L, 3L),
      "rewrite commits must be skipped, later appends must flow")
  }

  test("manifest-stats data skipping: a pushed key filter prunes the planned file set") {
    import spark.implicits._
    val t = tmpTable()
    // three key-disjoint files (one per commit)
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t)
    Versioned.commit(Seq((100L, "c")).toDF("id", "s").coalesce(1), t)
    Versioned.commit(Seq((200L, "d")).toDF("id", "s").coalesce(1), t)
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // force planning through AQE
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.length
            case _ => 1
          }.sum
      }
      scans.sum
    }
    val all = spark.read.format("graftv").load(t)
    assert(plannedFiles(all) === 3)
    // point filter: only the intersecting file is planned, and the
    // post-scan filter still runs (results exact)
    val one = all.where(col("id") === 100L)
    assert(one.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((100L, "c")))
    assert(plannedFiles(one) === 1, "stats skipping must prune to 1 file")
    // range filter spanning two files
    val two = all.where(col("id") >= 2L && col("id") < 150L)
    assert(two.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 100L))
    assert(plannedFiles(two) === 2)
    // unsupported filter shapes never prune (conservative)
    val like = all.where(col("s") =!= "zzz")
    assert(plannedFiles(like) === 3)
    assert(like.count() === 4L)
  }

  test("partitioned graftv scan: partition filters prune the planned files") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 40L).map(i => (i, i % 4, s"s$i"))
      .toDF("id", "p", "s"), t, partitionBy = Seq("p")) // v1: 4 dirs
    Versioned.commit((41L to 60L).map(i => (i, i % 4, s"s$i"))
      .toDF("id", "p", "s"), t) // v2 inherits the layout
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.length
            case _ => 1
          }.sum
      }.sum
    }
    val all = spark.read.format("graftv").load(t)
    val nAll = plannedFiles(all)
    assert(nAll >= 8, s"one file per (commit, partition value): $nAll")
    // equality filter on the partition column: exactly the p=2 files
    val one = all.where(col("p") === 2L)
    assert(one.collect().map(_.getLong(0)).sorted.toSeq ===
      (1L to 60L).filter(_ % 4 == 2))
    assert(plannedFiles(one) * 4 === nAll,
      "partition pruning must plan exactly 1/4 of the files")
    // rows-and-schema exactness through the pruned scan with projection
    val proj = all.where(col("p") === 3L).select(sum(col("id")).as("s"))
    assert(proj.head().getLong(0) === (1L to 60L).filter(_ % 4 == 3).sum)
  }

  test("data skipping on INT columns is sound AND effective (ADVICE r10 high)") {
    import spark.implicits._
    val t = tmpTable()
    // an IntegerType column: pre-r11 this returned WRONG EMPTY results
    // (stats recorded INT64 only, absence meant skip); now INT32 stats
    // are recorded and absence never skips
    Versioned.commit(Seq((1, 10L), (2, 20L)).toDF("i", "v").coalesce(1), t)
    Versioned.commit(Seq((100, 30L)).toDF("i", "v").coalesce(1), t)
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.map {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.length
            case _ => 1
          }.sum
      }.sum
    }
    val q = spark.read.format("graftv").load(t).where(col("i") === 2)
    assert(q.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      === Seq((2, 20L)), "INT filter must return the matching row")
    assert(plannedFiles(q) === 1, "INT32 stats must also prune")
    // STRING skipping (round 11): ASCII string stats prune the scan
    val ts = tmpTable()
    Versioned.commit(Seq(("aaa", 1L)).toDF("k", "v").coalesce(1), ts)
    Versioned.commit(Seq(("mmm", 2L)).toDF("k", "v").coalesce(1), ts)
    Versioned.commit(Seq(("zzz", 3L)).toDF("k", "v").coalesce(1), ts)
    val sq = spark.read.format("graftv").load(ts).where(col("k") === "mmm")
    assert(sq.collect().map(_.getLong(1)).toSeq === Seq(2L))
    assert(plannedFiles(sq) === 1, "string stats must prune")
    val pre = spark.read.format("graftv").load(ts)
      .where(col("k").startsWith("z"))
    assert(pre.collect().map(_.getLong(1)).toSeq === Seq(3L))
    assert(plannedFiles(pre) === 1, "prefix filter must prune")
  }

  test("data skipping is sound across schema evolution: filters on the evolved column") {
    import spark.implicits._
    val t = tmpTable()
    // v1 predates the `extra` column entirely
    Versioned.commit(Seq((1L, "a")).toDF("id", "s").coalesce(1), t)
    Versioned.commit(Seq((2L, "b", 7L)).toDF("id", "s", "extra").coalesce(1),
      t, mergeSchema = true)
    val base = spark.read.format("graftv").load(t)
    // an equality filter on the evolved column can never match the
    // pre-evolution file (its rows read extra as NULL): skipping it is
    // sound, and the result is exact
    val hit = base.where(col("extra") === 7L)
    assert(hit.collect().map(_.getLong(0)).toSeq === Seq(2L))
    // IS NULL is an unsupported pruning shape: no skipping, and the
    // pre-evolution row IS found
    val nulls = base.where(col("extra").isNull)
    assert(nulls.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // no-match bound: planning may prune everything, result is empty
    assert(base.where(col("extra") === 999L).count() === 0L)
  }

  test("maxVersionsPerTrigger bounds each micro-batch's commit range (admission control)") {
    import spark.implicits._
    val t = tmpTable()
    val ckpt = tempDir("graftv-mvpt-ckpt-").toString
    (1 to 6).foreach(i =>
      Versioned.commit(Seq((i.toLong, s"r$i")).toDF("id", "s"), t))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = spark.readStream.format("graftv")
      .option("maxVersionsPerTrigger", 2).load(t)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(df.collect().map(_.getLong(0)).toSeq.sorted); ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    val got = batches.asScala.toSeq.filter(_.nonEmpty)
    // a 6-commit backlog drains in bounded batches (≤2 commits = ≤2
    // rows each here), never one giant catch-up batch
    assert(got.size >= 3, s"expected >=3 bounded batches, got $got")
    assert(got.forall(_.size <= 2), s"a batch exceeded the cap: $got")
    assert(got.flatten.sorted === (1L to 6L))
  }

  test("readChangeFeed: a live tail consumes a MERGE as row-level changes, no skips") {
    import spark.implicits._
    val t = tmpTable()
    val ckpt = tempDir("graftv-cdf-ckpt-").toString
    Versioned.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t) // v1
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String, Int)]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftv")
        .option("readChangeFeed", true).load(t)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach(r => seen.add(
            (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))))
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(seen.asScala.toSeq.sorted ===
      Seq((1L, "a", "insert", 1), (2L, "b", "insert", 1)))
    // a COW merge lands on the live-tailed table: the resumed tail
    // emits its pre/post images and insert — NOT a skip, NOT a failure
    Versioned.merge(Seq((2L, "B"), (3L, "c")).toDF("id", "s"), t, "id") // v2
    Versioned.commit(Seq((4L, "d")).toDF("id", "s"), t) // v3
    runOnce()
    assert(seen.asScala.toSeq.sorted === Seq(
      (1L, "a", "insert", 1), (2L, "B", "update_postimage", 2),
      (2L, "b", "insert", 1), (2L, "b", "update_preimage", 2),
      (3L, "c", "insert", 2), (4L, "d", "insert", 3)))
    // an UPDATE commit (round 12) streams through the tail too:
    // pre/post images, no skip, no failure
    Versioned.updateWhere(spark, t, col("id") === 4L,
      Map("s" -> concat(col("s"), lit("!")))) // v4
    runOnce()
    assert(seen.asScala.toSeq.count(_._4 == 4) === 2)
    assert(seen.asScala.toSeq.filter(_._4 == 4).sorted === Seq(
      (4L, "d", "update_preimage", 4), (4L, "d!", "update_postimage", 4)))
    // downstream state maintenance: applying the feed reproduces the
    // table (the d14-style incremental consumer over an UPSERTED
    // corpus this feature exists for)
    val byKey = seen.asScala.toSeq.groupBy(_._1).map { case (k, evs) =>
      val last = evs.maxBy(e => (e._4, e._3 != "update_preimage"))
      k -> (last._2, last._3 != "update_preimage" && last._3 != "delete")
    }
    val alive = byKey.collect { case (k, (s, true)) => (k, s) }.toSeq.sorted
    assert(alive === Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted)
  }

  test("SQL DELETE FROM: COW touched-set, CDF, and loud non-translatable WHERE") {
    import spark.implicits._
    val t = tmpTable()
    // two disjoint-range files so the touched set is observable
    Versioned.commit((1L to 10L).map(i => (i, s"s$i")).toDF("id", "s")
      .coalesce(1), t)
    Versioned.commit((100L to 110L).map(i => (i, s"s$i")).toDF("id", "s")
      .coalesce(1), t)
    val before = Versioned.snapshot(t)
    spark.sql("DROP TABLE IF EXISTS g_del")
    spark.sql(s"CREATE TABLE g_del USING graftv LOCATION '$t'")
    try {
      spark.sql("DELETE FROM g_del WHERE id >= 3 AND id <= 4")
      // rows: exactly the matched ids are gone
      assert(spark.sql("SELECT count(*) AS n FROM g_del").head().getLong(0)
        === 19L)
      assert(spark.sql("SELECT min(id) AS m FROM g_del WHERE id < 50")
        .head().getLong(0) === 1L)
      // COW touched-set: the [100, 110] file provably held no match and
      // must carry BY REFERENCE into the delete's snapshot
      val after = Versioned.snapshot(t)
      assert(after.version === before.version + 1)
      assert(after.files.toSet.intersect(before.files.toSet).size === 1,
        "the disjoint file must survive the SQL DELETE untouched")
      // the delete flowed through the library door: CDF delete rows
      val ch = Versioned.readChanges(spark, t, before.version, after.version)
        .select("_change_type", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(ch === Seq(("delete", 3L), ("delete", 4L)))
      // a WHERE that cannot translate to source filters fails loudly,
      // never a silent partial delete
      val e = intercept[Exception] {
        spark.sql("DELETE FROM g_del WHERE id % 2 = 0")
      }
      assert(e.getMessage.toLowerCase.contains("delete"))
      assert(spark.sql("SELECT count(*) AS n FROM g_del").head().getLong(0)
        === 19L, "failed DELETE must not change the table")
    } finally spark.sql("DROP TABLE g_del")
  }

  test("INSERT OVERWRITE preserves the partition layout (round 12; r11 dropped it)") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 40L).map(i => (i, i % 4, s"s$i"))
      .toDF("id", "p", "s"), t, partitionBy = Seq("p"))
    spark.sql("DROP TABLE IF EXISTS g_ovw")
    spark.sql(s"CREATE TABLE g_ovw USING graftv LOCATION '$t'")
    try {
      spark.sql(
        "INSERT OVERWRITE g_ovw SELECT id * 10 AS id, id % 4 AS p, " +
          "concat('t', id) AS s FROM range(1, 21)")
      val snap = Versioned.snapshot(t)
      assert(snap.partitionCols === Seq("p"),
        "overwrite must keep the table's partitioning (Delta's rule)")
      assert(Versioned.read(spark, t).count() === 20L)
      // pruning still works after the overwrite: a partition filter
      // plans a strict subset of the files
      def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.map {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.length
              case _ => 1
            }.sum
        }.sum
      }
      val all = spark.read.format("graftv").load(t)
      val nAll = plannedFiles(all)
      val one = all.where(col("p") === 2L)
      assert(plannedFiles(one) < nAll,
        s"partition pruning lost after INSERT OVERWRITE ($nAll planned)")
      assert(one.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
        (1L to 20L).filter(_ % 4 == 2).map(_ * 10))
    } finally spark.sql("DROP TABLE g_ovw")
  }

  test("DSv2 streaming sink: exactly-once appends, replayed epoch publishes nothing") {
    import spark.implicits._
    val t = tmpTable()
    val ckpt = tempDir("graftv-sink-ckpt-").toString
    // the sink table must exist (the provider infers the sink schema)
    Versioned.commit(Seq((0L, "seed")).toDF("id", "s"), t)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(Long, String)]
    def runOnce(): Unit = {
      val q = mem.toDF().toDF("id", "s")
        .writeStream.format("graftv")
        .option("checkpointLocation", ckpt)
        .start(t)
      q.processAllAvailable(); q.stop()
    }
    mem.addData((1L, "a"), (2L, "b"))
    runOnce()
    mem.addData((3L, "c"))
    runOnce()
    def state() = Versioned.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(state() === Seq((0L, "seed"), (1L, "a"), (2L, "b"), (3L, "c")))
    // replay: wipe the last epoch's commit marker so the restarted
    // query RE-EXECUTES it (the at-least-once recovery shape); the txn
    // ledger must make the republish a no-op
    val vBefore = Versioned.snapshot(t).version
    val commits = Files.list(Paths.get(ckpt, "commits"))
    val last = commits.iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toInt)
    commits.close()
    Files.delete(last)
    // the local FS checkpoint manager writes a .crc sidecar per marker;
    // leaving it behind makes the re-written marker's rename fail
    Files.deleteIfExists(
      last.resolveSibling(s".${last.getFileName.toString}.crc"))
    runOnce()
    assert(state() === Seq((0L, "seed"), (1L, "a"), (2L, "b"), (3L, "c")),
      "replayed epoch must land exactly once")
    assert(Versioned.snapshot(t).version === vBefore,
      "the replayed epoch must publish NO new version")
  }

  test("partitioned tables through the round-12 write doors: streaming sink, SQL DELETE/UPDATE") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 0L, "a"), (2L, 1L, "b"), (3L, 0L, "c"),
      (4L, 1L, "d")).toDF("id", "p", "s"), t, partitionBy = Seq("p"))
    // DSv2 streaming sink inherits the layout per epoch
    val ckpt = tempDir("graftv-psink-ckpt-").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[(Long, Long, String)]
    mem.addData((5L, 0L, "e"), (6L, 1L, "f"))
    val q = mem.toDF().toDF("id", "p", "s")
      .writeStream.format("graftv")
      .option("checkpointLocation", ckpt).start(t)
    q.processAllAvailable(); q.stop()
    val snap = Versioned.snapshot(t)
    assert(snap.partitionCols === Seq("p"))
    val streamed = snap.files.filter(_.contains("c-strm-"))
    assert(streamed.nonEmpty && streamed.forall(_.contains("__part_p=")),
      s"streamed files must land in the hive layout: $streamed")
    // SQL DELETE keeps the layout; partition point stats prune it
    spark.sql("DROP TABLE IF EXISTS g_part_rl")
    spark.sql(s"CREATE TABLE g_part_rl USING graftv LOCATION '$t'")
    try {
      spark.sql("DELETE FROM g_part_rl WHERE id = 3")
      val afterDel = Versioned.snapshot(t)
      assert(afterDel.partitionCols === Seq("p"))
      assert(spark.sql("SELECT count(*) AS n FROM g_part_rl")
        .head().getLong(0) === 5L)
      // the p=1 files provably held no id=3 row (footer id stats):
      // at least the streamed p=1 file must carry by reference
      assert(afterDel.files.toSet.intersect(snap.files.toSet).nonEmpty)
      // SQL UPDATE keeps the layout too (rows re-route to value dirs)
      spark.sql("UPDATE g_part_rl SET s = concat(s, '!') WHERE id <= 2")
      val afterUpd = Versioned.snapshot(t)
      assert(afterUpd.partitionCols === Seq("p"))
      assert(afterUpd.files.forall(_.contains("__part_p=")))
      assert(spark.sql(
        "SELECT s FROM g_part_rl WHERE id <= 2 ORDER BY id").collect()
        .map(_.getString(0)).toSeq === Seq("a!", "b!"))
      // reads through the connector still prune on p
      assert(spark.read.format("graftv").load(t).where(col("p") === 0L)
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 5L))
    } finally spark.sql("DROP TABLE g_part_rl")
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF resolve graftv snapshots") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, "a")).toDF("id", "s"), t) // v1
    Thread.sleep(30) // real stamp gap for the timestamp form
    Versioned.commit(Seq((2L, "b")).toDF("id", "s"), t) // v2
    spark.sql("DROP TABLE IF EXISTS g_tt")
    spark.sql(s"CREATE TABLE g_tt USING graftv LOCATION '$t'")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM g_tt VERSION AS OF 1")
        .head().getLong(0) === 1L)
      assert(spark.sql("SELECT count(*) AS n FROM g_tt VERSION AS OF 2")
        .head().getLong(0) === 2L)
      // the direct-path form time-travels too
      assert(spark.sql(
        s"SELECT id FROM graftv.`$t` VERSION AS OF 1").head().getLong(0)
        === 1L)
      // TIMESTAMP AS OF at v1's commit stamp resolves to v1
      val ts1 = Versioned.commitTimestamp(t, 1)
      val sqlTs = new java.sql.Timestamp(ts1).toString
      assert(spark.sql(
        s"SELECT count(*) AS n FROM g_tt TIMESTAMP AS OF '$sqlTs'")
        .head().getLong(0) === 1L)
      // joins across versions work (the CDC-diff query shape)
      val diff = spark.sql("""
        SELECT cur.id FROM g_tt cur
        LEFT ANTI JOIN (SELECT id FROM g_tt VERSION AS OF 1) old
        ON cur.id = old.id""").collect().map(_.getLong(0)).toSeq
      assert(diff === Seq(2L))
      // zone-less ISO and date-only literals resolve too (self-review
      // finding: Instant.parse alone rejected them with a misleading
      // UNSUPPORTED_FEATURE error)
      val iso = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(ts1),
        java.time.ZoneId.systemDefault()).toString
      assert(spark.sql(
        s"SELECT count(*) AS n FROM g_tt TIMESTAMP AS OF '$iso'")
        .head().getLong(0) === 1L)
      // a time-traveled MERGE SOURCE resolves (the command wrapper is
      // a leaf; the transform must run before the wrap)
      spark.sql("""
        MERGE INTO g_tt AS tg
        USING (SELECT id, concat(s, '_old') AS s
               FROM g_tt VERSION AS OF 1) AS src
        ON tg.id = src.id
        WHEN MATCHED THEN UPDATE SET *
      """)
      assert(spark.sql("SELECT s FROM g_tt WHERE id = 1").head()
        .getString(0) === "a_old")
    } finally spark.sql("DROP TABLE g_tt")
  }

  test("table_changes TVF: SQL change feed over a version range") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L)).toDF("id", "v"), t) // v1
    Versioned.commit(Seq((2L, 20L)).toDF("id", "v"), t) // v2
    Versioned.merge(Seq((2L, 200L), (3L, 30L)).toDF("id", "v"), t,
      "id") // v3
    spark.sql("DROP TABLE IF EXISTS g_cdc")
    spark.sql(s"CREATE TABLE g_cdc USING graftv LOCATION '$t'")
    try {
      // inclusive both ends (Delta's convention): [2, 3]
      val rows = spark.sql(
        "SELECT id, v, _change_type, _commit_version " +
          "FROM table_changes('g_cdc', 2, 3)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getInt(3))).sorted.toSeq
      assert(rows === Seq(
        (2L, 20L, "insert", 2), (2L, 20L, "update_preimage", 3),
        (2L, 200L, "update_postimage", 3), (3L, 30L, "insert", 3)))
      // end defaults to the latest version; start is validated
      assert(spark.sql("SELECT count(*) AS n FROM table_changes('g_cdc', 1)")
        .head().getLong(0) === 5L)
      val e = intercept[Exception] {
        spark.sql("SELECT * FROM table_changes('g_cdc', 0)").collect()
      }
      assert(e.getMessage.contains("startVersion"))
      // the raw-path form works without a catalog table
      assert(spark.sql(
        s"SELECT count(*) AS n FROM table_changes('$t', 3, 3)")
        .head().getLong(0) === 3L)
      // filters/aggregation compose over the TVF like any relation
      assert(spark.sql(
        "SELECT sum(v) AS s FROM table_changes('g_cdc', 1) " +
          "WHERE _change_type = 'insert'").head().getLong(0) === 60L)
    } finally spark.sql("DROP TABLE g_cdc")
  }

  test("SQL maintenance: OPTIMIZE / VACUUM / RESTORE / DESCRIBE HISTORY") {
    import spark.implicits._
    val t = tmpTable()
    (1 to 4).foreach(i => Versioned.commit(
      Seq((i.toLong, s"s$i")).toDF("id", "s").coalesce(1), t))
    spark.sql("DROP TABLE IF EXISTS g_maint")
    spark.sql(s"CREATE TABLE g_maint USING graftv LOCATION '$t'")
    try {
      // OPTIMIZE compacts 4 files into 2, ZORDER BY the key
      val vOpt = spark.sql("OPTIMIZE g_maint ZORDER BY (id) INTO 2 FILES")
        .head().getInt(0)
      assert(vOpt === 5)
      assert(Versioned.snapshot(t).files.size === 2)
      assert(spark.sql("SELECT count(*) AS n FROM g_maint")
        .head().getLong(0) === 4L)
      // RESTORE is non-destructive: v6 = v2's live set, history intact
      val vRes = spark.sql("RESTORE g_maint TO VERSION AS OF 2")
        .head().getInt(0)
      assert(vRes === 6)
      assert(spark.sql("SELECT count(*) AS n FROM g_maint")
        .head().getLong(0) === 2L)
      // DESCRIBE HISTORY: one row per version, ops recorded
      val hist = spark.sql("DESCRIBE HISTORY g_maint").collect()
        .map(r => (r.getInt(0), r.getString(1)))
      assert(hist.length === 6)
      assert(hist.toMap.get(5) === Some("optimize"))
      assert(hist.toMap.get(6) === Some("restore"))
      // VACUUM with a tight horizon reports reclaimable counts (the
      // young-file mtime grace keeps just-written files, so 0 here —
      // the statement surface is what is under test; the reclaim
      // mechanics are VersionedSpec's)
      val removed = spark.sql("VACUUM g_maint RETAIN 3 VERSIONS")
        .head().getInt(0)
      assert(removed >= 0)
      // direct-path form + graftv-only gating
      assert(spark.sql(s"DESCRIBE HISTORY graftv.`$t`").count() === 6)
      val e = intercept[IllegalArgumentException] {
        spark.sql("OPTIMIZE definitely_not_a_graftv_table")
      }
      assert(e.getMessage.contains("graftv"))
      // malformed statements keep Spark's own parse error
      intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
        spark.sql("OPTIMIZE") // no target
      }
    } finally spark.sql("DROP TABLE g_maint")
  }

  test("SQL UPDATE: COW SET over the row, CDF, arbitrary predicates") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit((1L to 10L).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1), t)
    Versioned.commit((100L to 105L).map(i => (i, i * 10L)).toDF("id", "v")
      .coalesce(1), t)
    val before = Versioned.snapshot(t)
    spark.sql("DROP TABLE IF EXISTS g_upd")
    spark.sql(s"CREATE TABLE g_upd USING graftv LOCATION '$t'")
    try {
      spark.sql("UPDATE g_upd SET v = v + 1 WHERE id >= 3 AND id <= 4")
      assert(spark.sql("SELECT sum(v) AS s FROM g_upd WHERE id <= 10")
        .head().getLong(0) === (1L to 10L).map(_ * 10).sum + 2)
      // range predicate pruned: the disjoint file carried by reference
      val after = Versioned.snapshot(t)
      assert(after.files.toSet.intersect(before.files.toSet).size === 1)
      val ch = Versioned.readChanges(spark, t, before.version, after.version)
        .select("_change_type", "id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(ch === Seq(("update_postimage", 3L, 31L),
        ("update_postimage", 4L, 41L),
        ("update_preimage", 3L, 30L), ("update_preimage", 4L, 40L)))
      // an UNTRANSLATABLE-to-filters predicate still works here (the
      // command evaluates the Column, unlike DSv2 DELETE's filters) —
      // it just prunes nothing
      spark.sql("UPDATE g_upd SET v = 0 WHERE id % 100 = 1")
      assert(spark.sql("SELECT v FROM g_upd WHERE id IN (1, 101) ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === Seq(0L, 0L))
      // direct-path form
      spark.sql(s"UPDATE graftv.`$t` SET v = -1 WHERE id = 2")
      assert(spark.sql("SELECT v FROM g_upd WHERE id = 2").head().getLong(0)
        === -1L)
    } finally spark.sql("DROP TABLE g_upd")
  }

  test("SQL MERGE INTO: upsert, clause chain with SET, CDF, COW pruning") {
    import spark.implicits._
    val t = tmpTable()
    Versioned.commit(Seq((1L, 10L, "a"), (2L, 50L, "b"), (3L, 30L, "c"))
      .toDF("id", "v", "note").coalesce(1), t)
    Versioned.commit(Seq((100L, 1L, "z")).toDF("id", "v", "note")
      .coalesce(1), t) // disjoint file: COW must carry it by reference
    val before = Versioned.snapshot(t)
    spark.sql("DROP TABLE IF EXISTS g_mrg")
    spark.sql(s"CREATE TABLE g_mrg USING graftv LOCATION '$t'")
    try {
      // the CDC composite in ONE SQL statement: tombstone-delete,
      // upsert-if-newer with a partial SET, conditional + star inserts
      spark.sql("""
        MERGE INTO g_mrg AS tg
        USING (SELECT * FROM VALUES
                 (1, 99, 'tomb'), (2, 99, 'x'), (3, 5, 'y'),
                 (5, 70, 'tomb'), (6, 60, 'z')
               AS src(id, v, note)) AS s
        ON tg.id = s.id
        WHEN MATCHED AND s.note = 'tomb' THEN DELETE
        WHEN MATCHED AND s.v > tg.v THEN
          UPDATE SET v = s.v, note = concat(tg.note, '!')
        WHEN NOT MATCHED AND s.note = 'tomb' THEN
          INSERT (id, v) VALUES (s.id, -1)
        WHEN NOT MATCHED THEN INSERT *
      """)
      val rows = Versioned.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(2)).getOrElse("<null>"))).sorted.toSeq
      assert(rows === Seq(
        (2L, 99L, "b!"),     // SET update fired (99 > 50)
        (3L, 30L, "c"),      // no clause fired: untouched
        (5L, -1L, "<null>"), // partial INSERT: unset column NULL
        (6L, 60L, "z"),      // INSERT *
        (100L, 1L, "z")))    // untouched disjoint file
      // COW: the disjoint [100] file carried by reference
      val after = Versioned.snapshot(t)
      assert(after.files.toSet.intersect(before.files.toSet).size === 1,
        "SQL MERGE must keep the key-disjoint file untouched")
      // the merge flowed through the library door: CDF images
      val ch = Versioned.readChanges(spark, t, before.version, after.version)
        .select("_change_type", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(ch === Seq(("delete", 1L), ("insert", 5L), ("insert", 6L),
        ("update_postimage", 2L), ("update_preimage", 2L)))
      // the direct path form works without a catalog table
      spark.sql(s"""
        MERGE INTO graftv.`$t` AS tg
        USING (SELECT 200 AS id, 2 AS v, 'p' AS note) AS s
        ON tg.id = s.id
        WHEN NOT MATCHED THEN INSERT *
      """)
      assert(Versioned.read(spark, t).where(col("id") === 200L).count() === 1)
      // WHEN NOT MATCHED BY SOURCE (Delta's third clause family): the
      // sync-to-snapshot shape — rows the source misses get tombstoned
      // or marked, target-row conditions only
      spark.sql("""
        MERGE INTO g_mrg AS tg
        USING (SELECT * FROM VALUES (2, 99, 'keep') AS src(id, v, note)) AS s
        ON tg.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND tg.v < 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET note = 'orphan'
      """)
      // before: (2,99,'b!'), (3,30,'c'), (5,-1,null), (6,60,'z'),
      // (100,1,'z'), (200,2,'p') — id 5 (v<0) deletes, id 2 matches,
      // the rest orphan
      val afterNmbs = Versioned.read(spark, t).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(2)).getOrElse("<null>"))).sorted.toSeq
      assert(afterNmbs === Seq((2L, 99L, "keep"), (3L, 30L, "orphan"),
        (6L, 60L, "orphan"), (100L, 1L, "orphan"), (200L, 2L, "orphan")))
      // WITH SCHEMA EVOLUTION: a source-only column joins the table
      spark.sql(s"""
        MERGE WITH SCHEMA EVOLUTION INTO g_mrg AS tg
        USING (SELECT 300 AS id, 3 AS v, 'q' AS note, 'fresh' AS origin) AS s
        ON tg.id = s.id
        WHEN NOT MATCHED THEN INSERT *
      """)
      val evolved = Versioned.read(spark, t)
      assert(evolved.columns.toSeq === Seq("id", "v", "note", "origin"))
      assert(evolved.where(col("id") === 300L).select("origin")
        .head().getString(0) === "fresh")
      assert(evolved.where(col("id") === 2L).select("origin")
        .head().isNullAt(0), "pre-evolution rows read back null-filled")
      // a malformed ON (non-equality) fails loudly
      val e = intercept[IllegalArgumentException] {
        spark.sql("""
          MERGE INTO g_mrg AS tg
          USING (SELECT 1 AS id, 1 AS v, 'q' AS note) AS s
          ON tg.id > s.id
          WHEN MATCHED THEN DELETE
        """)
      }
      assert(e.getMessage.contains("ON"))
      // a non-graftv target falls through to Spark's native handling
      // (parquet tables have no row-level ops -> Spark's own error)
      val tp = tmpTable()
      Seq((1L, 1L)).toDF("id", "v").write.mode("overwrite")
        .parquet(s"$tp/pq")
      spark.sql("DROP TABLE IF EXISTS plain_pq")
      spark.sql(s"CREATE TABLE plain_pq USING parquet LOCATION '$tp/pq'")
      try {
        val e2 = intercept[Exception] {
          spark.sql("""
            MERGE INTO plain_pq AS tg
            USING (SELECT 1 AS id, 2 AS v) AS s
            ON tg.id = s.id
            WHEN MATCHED THEN UPDATE SET *
          """)
        }
        assert(!e2.getMessage.contains("graftv"),
          s"non-graftv MERGE must surface Spark's own error, got: ${e2.getMessage}")
      } finally spark.sql("DROP TABLE plain_pq")
    } finally spark.sql("DROP TABLE g_mrg")
  }
}
