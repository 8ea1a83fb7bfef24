package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * Table parquet is read with mergeSchema off and the session-default
  * parquet options; filters/projections applied downstream are pushed
  * into the scan by Catalyst (verify with `.explain("formatted")` —
  * `PushedFilters`/`ReadSchema` must reflect the query).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema cache per (dir, table): fixture parquet is immutable for
    * the life of a run, so the footer-inference pass (driver I/O at
    * PLANNING time, re-paid by every one of the 150+ queries that
    * reads the table) runs once per table per directory. Metadata
    * only — the production equivalent is a catalog entry; row data is
    * always read fresh from parquet. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap
      .empty[(String, String), org.apache.spark.sql.types.StructType]

  private def readCached(spark: SparkSession, dir: String,
      name: String): DataFrame = {
    val schema = schemaCache.getOrElseUpdate((dir, name),
      spark.read.parquet(s"$dir/$name.parquet").schema)
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // The engine-facing contract: events.ts is epoch-NANOS LongType,
      // whatever the fixture's physical type. Fixture generations have
      // used both parquet TIMESTAMP(NANOS) (rounds 1–4) and
      // TIMESTAMP(MICROS) (round 5+) — the silent round-5 flip broke
      // all 8 events queries at analysis time, so normalization lives
      // HERE at the boundary, not per-query.
      //  - TIMESTAMP(NANOS): Spark has no nanos timestamp type; read
      //    it as raw epoch-nanos LongType.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      //  - TIMESTAMP(MICROS, isAdjustedToUTC=false): keep NTZ inference
      //    OFF so the stored micros load as a TimestampType instant and
      //    unix_micros() returns the raw stored integer independent of
      //    the session timezone (NTZ + cast would re-interpret the wall
      //    clock in local time).
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      val df = readCached(spark, dir, name)
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => df
        case _ => df.withColumn("ts", expr("unix_micros(ts) * 1000"))
      }
    } else readCached(spark, dir, name)
  }

  /** Register every table as a temp view (for spark.sql surface parity
    * with the DuckDB oracle, which sees the same names). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Fixture preflight: verify each named table exists in `dir` and is
    * non-empty, returning (name → rowCount). Round-5 lesson: a missing
    * events fixture let 8 queries "pass" the bench at no-op speed and
    * silently drop out of the correctness artifact — fail LOUDLY here
    * instead, before any query runs. Row counts are summed from the
    * parquet footers of the table's data files (one file, or a
    * directory's files not starting with `_` or `.`): no Spark job.
    * Each table still goes through `apply`, so the schema cache and
    * the events read settings are set up as for a query. */
  def preflight(spark: SparkSession, dir: String,
      names: Seq[String] = all): Seq[(String, Long)] = {
    val missing = names.filterNot(n => new java.io.File(s"$dir/$n.parquet").exists())
    if (missing.nonEmpty)
      sys.error(s"[preflight] missing fixture table(s) in $dir: " +
        missing.mkString(", ") + " — refusing to run against a partial fixture set")
    names.map { n =>
      apply(spark, dir, n)
      val rows = footerRowCount(spark, s"$dir/$n.parquet")
      if (rows == 0)
        sys.error(s"[preflight] fixture table $n in $dir is EMPTY — " +
          "refusing to run (timings/results would be meaningless)")
      n -> rows
    }
  }

  /** Rows in the parquet file or directory at `path`, from footers. */
  private def footerRowCount(spark: SparkSession, path: String): Long = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def dataFiles(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") ||
          c.getPath.getName.startsWith("."))
        .flatMap(dataFiles)
    dataFiles(fs.getFileStatus(root)).map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}
