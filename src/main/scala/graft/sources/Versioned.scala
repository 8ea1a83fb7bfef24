package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Versioned parquet tables: snapshot isolation, time travel, restore
  * and vacuum — the table-format semantics SURVEY §1.3 points at
  * (Delta-style versioning; reference keeps a poor man's version in
  * the dbcat sidecars, utility.py:933–983). No external format jars
  * exist in this environment, so the LOG PROTOCOL is implemented
  * directly, the way the published Delta design does it (Armbrust et
  * al., "Delta Lake: High-Performance ACID Table Storage over Cloud
  * Object Stores", VLDB 2020):
  *
  *  - A table is a directory: immutable parquet data files under
  *    `data/c-<commit>/`, plus an ordered log `_log/v%06d.json` of
  *    manifests. Readers never list `data/` — the log is the source
  *    of truth, so a crashed writer's orphaned files are invisible.
  *  - A manifest is either a DELTA (`full=false`, the files this
  *    commit ADDS) or a CHECKPOINT (`full=true`, the complete live
  *    file set). Overwrites and restores are checkpoints by nature;
  *    appends self-checkpoint every [[CheckpointInterval]] commits so
  *    snapshot resolution replays a bounded manifest suffix
  *    (≤ interval), not the whole history — the log equivalent of
  *    Delta's parquet checkpoints.
  *  - Commit = write data files, then publish the next `v%06d.json`
  *    with an ATOMIC create-exclusive (hard-link a fully-written temp
  *    file into place; `CREATE_NEW` fallback). Two racing writers
  *    target the same version number; exactly one link succeeds, the
  *    loser re-reads the log and retries on top (optimistic
  *    concurrency). Append/append races always merge cleanly; the
  *    retry re-resolves the live set so a lost append lands on top of
  *    a concurrent overwrite with last-writer-wins append semantics.
  *
  * 100 TB shape: the log is O(files-per-commit) driver-side JSON and
  * snapshot resolution is O(interval) manifest reads; the data path
  * is plain immutable parquet, so reads keep pushdown/pruning and
  * writes are normal distributed parquet jobs. On a real cluster the
  * create-exclusive publish maps to the object store's put-if-absent
  * (or a log store service), which is exactly where Delta's LogStore
  * abstraction sits.
  */
object Versioned {

  /** Append commits self-checkpoint at this cadence: any snapshot read
    * replays at most this many manifests past its base checkpoint. */
  val CheckpointInterval = 10

  /** Per-file column statistic (round 11, generalized past BIGINT):
    *
    *  - [[LongStat]]: [min, max] of an integral column (INT64 and
    *    INT32/16/8 physical types, widened to Long) — the numeric
    *    skipping tier;
    *  - [[StrStat]]: [min, upper-bound] of a STRING column, recorded
    *    ONLY when both endpoints are pure ASCII (UTF-8 byte order,
    *    parquet's stats order, agrees with Java/UTF8String compare
    *    exactly there — outside ASCII the orderings diverge and a
    *    "skip" could drop matching rows, so non-ASCII endpoints are
    *    simply not recorded). `hi` is an inclusive upper BOUND, not
    *    necessarily an attained value: long endpoints are truncated
    *    to [[StrStatMaxLen]] chars with the last kept char bumped
    *    (Delta's stats-truncation discipline) so a uuid-keyed 10⁵-file
    *    manifest stays small;
    *  - [[NullStat]]: the column has ZERO non-null values in the file
    *    (proved by footer null counts) — skippable for every non-null
    *    comparison.
    *
    * A column ABSENT from a file's map means "nothing known" and is
    * always scanned (conservative). This is the round-11 semantics
    * flip that fixes the ADVICE r10 high: previously absence meant
    * "no non-null values" while only INT64 columns were ever
    * recorded, so a pushed filter on an INT32 column skipped every
    * stats-bearing file — wrong empty results. Now absence never
    * skips; only an explicit [[NullStat]] does. */
  sealed trait ColStat
  final case class LongStat(lo: Long, hi: Long) extends ColStat
  final case class StrStat(lo: String, hi: String) extends ColStat
  case object NullStat extends ColStat

  /** Stored string-stat endpoints are truncated to this many chars. */
  val StrStatMaxLen = 64

  /** Reserved per-file pseudo-stat keys (round 16): the file's
    * on-disk byte size and row count, recorded as point [[LongStat]]s
    * in the SAME per-file stats map as the min/max tier — they ride
    * every manifest serialization, replay, checkpoint-inheritance and
    * CONVERT path with zero format surgery, and pre-size manifests
    * simply lack the keys (readers fall back). `__graft_` names are
    * rename-protected (see [[renameColumn]]), so a data column can
    * never be renamed onto them; a column BORN with the name merely
    * suppresses the pseudo entry for its files (size unknown —
    * conservative). Consumed by the DSv2 scan's
    * `SupportsReportStatistics`: a post-pruning size estimate is what
    * lets Catalyst auto-broadcast a small (or well-pruned) graftv
    * side instead of defaulting to sort-merge. */
  private[sources] val SizeStatKey = "__graft_bytes"
  private[sources] val RowsStatKey = "__graft_rows"

  /** Per-file stats of every recordable top-level column. */
  type FileStats = Map[String, Map[String, ColStat]]

  final case class Snapshot(version: Int, files: Seq[String],
      schemaDdl: String, baseVersion: Int, replayedManifests: Int,
      stats: FileStats = Map.empty,
      partitionCols: Seq[String] = Nil,
      colMap: Map[String, String] = Map.empty,
      dvs: Map[String, String] = Map.empty) {
    /** Physical (file-side) name of logical column `c` — identity
      * unless a RENAME moved the logical name (round 14). */
    def physOf(c: String): String = colMap.getOrElse(c, c)
  }

  /** `txns` is the Delta SetTransaction analog: the highest batch id
    * committed per writer app, carried FORWARD in every manifest so
    * reading the latest manifest alone answers "was this micro-batch
    * already committed?" — the exactly-once handshake for streaming
    * sinks under foreachBatch's at-least-once replays.
    *
    * `tsMs` is the commit timestamp, stamped by [[publish]] at link
    * time (round 10) — the resolution target of `timestampAsOf`
    * (Delta's human-facing time travel; the reference's own dbcat
    * sidecars record a timestamp the version-number API could not
    * answer, utility.py:952–983). `changes` lists the row-level CDF
    * parquet a merge/delete commit persisted beside its rewritten
    * files (Delta CDF's update_preimage/postimage/delete rows).
    *
    * `stats` is the data-skipping tier IN the log (round 10, the
    * Delta discipline): per added file, [min, max] of every top-level
    * BIGINT column, read once from the just-written footers at commit
    * time (local and page-hot) so a later MERGE prunes its rewrite
    * set from the manifest alone — zero footer opens against a
    * 10⁵-file table. Checkpoints carry the full live set's stats
    * forward; files from pre-stats manifests fall back to footer
    * reads at merge time. */
  /** `colMap` (round 14, VERDICT r13 #3 — the Delta column-mapping
    * discipline): the COMPLETE logical→physical name mapping of the
    * version. Data files always carry PHYSICAL names; physical names
    * are STABLE once assigned, logical names move freely via RENAME
    * COLUMN. Identity entries are omitted, so never-renamed tables
    * write no mapping at all and old manifests parse as identity.
    * Reserved `__graft_retired_<n>` keys tombstone the physical names
    * of DROPPED columns, so a later ADD COLUMNS of the same logical
    * name gets a FRESH physical name instead of resurrecting the
    * dropped column's bytes from old files. */
  /** `dvs` (round 15, deletion vectors): the COMPLETE data-file →
    * DV-sidecar mapping of the version, or None = "this manifest does
    * not speak about DVs, inherit the previous state" (how every
    * pre-DV manifest parses, and how metadata-only commits stay
    * untouched). Every FULL manifest the current code writes carries
    * it explicitly — checkpoints are replay bases, so an inheriting
    * checkpoint would silently drop the mask and resurrect deleted
    * rows. */
  private final case class Manifest(version: Int, op: String,
      full: Boolean, files: Seq[String], schemaDdl: String,
      txns: Map[String, Long] = Map.empty, tsMs: Long = 0L,
      changes: Option[Seq[String]] = None,
      stats: FileStats = Map.empty,
      partitionCols: Seq[String] = Nil,
      constraints: Map[String, String] = Map.empty,
      colMap: Map[String, String] = Map.empty,
      dvs: Option[Map[String, String]] = None)

  // -------------------------------------------------------- log I/O

  /** Accept both plain paths and `file:` URIs (the session catalog
    * hands DSv2 providers a URI-form location for `CREATE TABLE …
    * USING graftv`). URI-first (round 10, replacing an accreted
    * string-prefix chain with a dead Windows-drive regex): parse once,
    * dispatch on the scheme. Any scheme other than file/absent is a
    * loud error — the local java.nio log I/O below is the
    * single-filesystem tier; a cluster deployment routes these through
    * the object store's put-if-absent instead (see the class doc). */
  private def norm(path: String): String = {
    val uri = try new java.net.URI(path) catch {
      case _: java.net.URISyntaxException =>
        // unparseable as a URI (e.g. the catalog hands back an
        // UNENCODED `file:/a/b c` location for a space-bearing root,
        // round 16): strip a file scheme by hand, else plain path
        return if (path.startsWith("file:")) {
          val rest = path.stripPrefix("file:")
          "/" + rest.dropWhile(_ == '/')
        } else path
    }
    uri.getScheme match {
      case null => path // scheme-less: already a filesystem path
      case "file" => uri.getPath
      case other => sys.error(s"versioned: unsupported path scheme " +
        s"'$other' in $path (local paths and file: URIs only in this " +
        "environment)")
    }
  }

  /** [[norm]] / [[fileStatsOf]] / [[statsForFiles]] / hive escaping,
    * exposed for the DSv2 writer. */
  private[sources] def normPath(p: String): String = norm(p)
  private[sources] def statsOf(spark: SparkSession, path: String,
      files: Seq[String]): FileStats = fileStatsOf(spark, path, files)
  private[sources] def statsOfPartitioned(spark: SparkSession,
      path: String, files: Seq[String], pcols: Seq[String],
      schema: StructType, colMap: Map[String, String] = Map.empty)
      : FileStats =
    statsForFiles(spark, path, files, pcols, schema, colMap)

  /** Hive-style path escaping of a partition VALUE (the inverse of
    * [[unescapePathName]]): the chars Spark's partitioned writer
    * percent-encodes, so DSv2-written partition dirs parse back
    * identically. */
  private[sources] def escapePathName(s: String): String = {
    val needs = "\"#%'*/:=?\\{[]^"
    val sb = new StringBuilder
    s.foreach { c =>
      // 0x7F (DEL) matches Spark's ExternalCatalogUtils.escapePathName,
      // so DSv2-written dirs never diverge from library/Spark-written
      // ones for the same value (ADVICE r11)
      if (c < 0x20 || c == 0x7f || needs.contains(c))
        sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  private def dataPath(path: String, commitId: String): Path =
    Paths.get(norm(path), "data", s"c-$commitId")

  private def logDir(path: String): Path = Paths.get(norm(path), "_log")

  /** `Files.list` with the stream closed (it holds a directory fd). */
  private def listDir(p: Path): Vector[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toVector finally s.close()
  }

  private def manifestPath(path: String, v: Int): Path =
    logDir(path).resolve(f"v$v%06d.json")

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def toJson(m: Manifest): String = {
    val files = m.files.map(jstr).mkString("[", ", ", "]")
    // the "changes" key is written ONLY by CDF-recording ops: its
    // absence marks a manifest whose row-level delta was never
    // persisted (pre-r10, or an op that has none), distinctly from a
    // merge/delete that touched zero rows (present-but-empty array)
    val changes = m.changes.map(cs =>
      s""""changes": ${cs.map(jstr).mkString("[", ", ", "]")}, """)
      .getOrElse("")
    val txns = m.txns.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
    val stats = m.stats.toSeq.sortBy(_._1).map { case (f, cols) =>
      s"${jstr(f)}: " + cols.toSeq.sortBy(_._1).map { case (c, st) =>
        val v = st match {
          case LongStat(lo, hi) => s"[$lo, $hi]"
          case StrStat(lo, hi) => s"[${jstr(lo)}, ${jstr(hi)}]"
          case NullStat => "null"
        }
        s"${jstr(c)}: $v"
      }.mkString("{", ", ", "}")
    }.mkString("{", ", ", "}")
    val partition =
      if (m.partitionCols.isEmpty) ""
      else s""""partition": ${m.partitionCols.map(jstr)
        .mkString("[", ", ", "]")}, """
    // written only when present — pre-constraint manifests stay
    // byte-identical and absent parses as empty
    val constraints =
      if (m.constraints.isEmpty) ""
      else s""""constraints": ${m.constraints.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")}, """
    val colmap =
      if (m.colMap.isEmpty) ""
      else s""""colmap": ${m.colMap.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")}, """
    // present-even-if-empty when defined: an empty map CLEARS dv
    // state (overwrite), absence INHERITS it (metadata commits)
    val dvs = m.dvs.map(d =>
      s""""dvs": ${d.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")}, """).getOrElse("")
    s"""{"version": ${m.version}, "op": ${jstr(m.op)}, """ +
      s""""full": ${m.full}, "ts": ${m.tsMs}, """ +
      s""""schema": ${jstr(m.schemaDdl)}, $partition$constraints$colmap$dvs""" +
      s""""txns": $txns, $changes"stats": $stats, "files": $files}"""
  }

  private def parseManifest(p: Path): Manifest = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(Files.readString(p))
    def str(f: String) = (j \ f) match {
      case JString(s) => s
      case other => sys.error(s"versioned: manifest $p field $f: $other")
    }
    Manifest(
      version = (j \ "version") match {
        case JInt(v) => v.toInt
        case other => sys.error(s"versioned: manifest $p version: $other")
      },
      op = str("op"),
      full = (j \ "full") match {
        case JBool(b) => b
        case other => sys.error(s"versioned: manifest $p full: $other")
      },
      files = (j \ "files") match {
        case JArray(xs) => xs.map { case JString(s) => s
          case other => sys.error(s"versioned: manifest $p file: $other") }
        case other => sys.error(s"versioned: manifest $p files: $other")
      },
      schemaDdl = str("schema"),
      txns = (j \ "txns") match {
        case JObject(fields) => fields.map {
          case (k, JInt(v)) => k -> v.toLong
          case (k, other) => sys.error(s"versioned: manifest $p txn $k: $other")
        }.toMap
        case JNothing => Map.empty // pre-txn manifests
        case other => sys.error(s"versioned: manifest $p txns: $other")
      },
      tsMs = (j \ "ts") match {
        case JInt(v) => v.toLong
        // pre-r10 manifests carry no stamp: the file's mtime is the
        // honest fallback (it IS the publish instant for a hard link)
        case JNothing => Files.getLastModifiedTime(p).toMillis
        case other => sys.error(s"versioned: manifest $p ts: $other")
      },
      changes = (j \ "changes") match {
        case JArray(xs) => Some(xs.map { case JString(s) => s
          case other => sys.error(s"versioned: manifest $p change: $other") })
        case JNothing => None // pre-CDF manifest / non-CDF op
        case other => sys.error(s"versioned: manifest $p changes: $other")
      },
      partitionCols = (j \ "partition") match {
        case JArray(xs) => xs.map { case JString(s) => s
          case other => sys.error(s"versioned: manifest $p partition: $other") }
        case JNothing => Nil // unpartitioned / pre-r11 manifest
        case other => sys.error(s"versioned: manifest $p partition: $other")
      },
      stats = (j \ "stats") match {
        case JObject(files) => files.map {
          case (f, JObject(cols)) => f -> cols.map {
            case (c, JArray(List(JInt(lo), JInt(hi)))) =>
              c -> (LongStat(lo.toLong, hi.toLong): ColStat)
            case (c, JArray(List(JString(lo), JString(hi)))) =>
              c -> (StrStat(lo, hi): ColStat)
            case (c, JNull) => c -> (NullStat: ColStat)
            case (c, other) =>
              sys.error(s"versioned: manifest $p stat $f.$c: $other")
          }.toMap
          case (f, other) =>
            sys.error(s"versioned: manifest $p stats $f: $other")
        }.toMap
        case JNothing => Map.empty // pre-stats manifests
        case other => sys.error(s"versioned: manifest $p stats: $other")
      },
      constraints = (j \ "constraints") match {
        case JObject(fields) => fields.map {
          case (k, JString(v)) => k -> v
          case (k, other) =>
            sys.error(s"versioned: manifest $p constraint $k: $other")
        }.toMap
        case JNothing => Map.empty // pre-constraint manifests
        case other => sys.error(s"versioned: manifest $p constraints: $other")
      },
      colMap = (j \ "colmap") match {
        case JObject(fields) => fields.map {
          case (k, JString(v)) => k -> v
          case (k, other) =>
            sys.error(s"versioned: manifest $p colmap $k: $other")
        }.toMap
        case JNothing => Map.empty // identity (pre-mapping manifests)
        case other => sys.error(s"versioned: manifest $p colmap: $other")
      },
      dvs = (j \ "dvs") match {
        case JObject(fields) => Some(fields.map {
          case (k, JString(v)) => k -> v
          case (k, other) =>
            sys.error(s"versioned: manifest $p dv $k: $other")
        }.toMap)
        case JNothing => None // inherit (pre-DV / metadata manifests)
        case other => sys.error(s"versioned: manifest $p dvs: $other")
      })
  }

  /** (schemaDdl, colMap) as committed at version `v` — every manifest
    * carries both completely. One driver-side JSON parse; the
    * streaming schema-change gate's probe (round 15). */
  private[sources] def schemaStateAt(path: String, v: Int)
      : (String, Map[String, String]) = {
    val m = parseManifest(manifestPath(path, v))
    (m.schemaDdl, m.colMap)
  }

  /** All committed versions, ascending (empty for a fresh/absent table). */
  def versions(path: String): Seq[Int] = {
    val dir = logDir(path)
    if (!Files.isDirectory(dir)) return Seq.empty
    listDir(dir)
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .sorted
  }

  /** All of `rel` (table-root-relative staging files the in-flight
    * `op` just wrote) still exist — else a concurrent [[vacuum]]
    * whose grace window undershot our write-to-publish duration
    * reclaimed them, and publishing would reference missing files.
    * The loud failure names the contract knob. */
  private def requireStaged(path: String, rel: Seq[String],
      op: String): Unit =
    rel.foreach { f =>
      require(Files.exists(Paths.get(norm(path), f)),
        s"versioned: $op at $path lost staged file $f before publish " +
          "— a concurrent vacuum's graceMs was shorter than this " +
          "write's write-to-publish duration; re-run the write and " +
          "size vacuum graceMs above the longest expected write")
    }

  /** CHECK-constraint gate over a DataFrame: a row VIOLATES a
    * constraint iff its expression evaluates FALSE — NULL passes (the
    * SQL-standard rule, Delta's too). ONE aggregation pass counts
    * violations of every constraint simultaneously; any nonzero count
    * is a loud error naming each violated constraint. */
  private def enforceOnDf(df: DataFrame,
      constraints: Map[String, String], path: String, op: String): Unit = {
    if (constraints.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce => fnCoalesce, expr => fnExpr, not => fnNot, sum => fnSum, lit => fnLit}
    val named = constraints.toSeq.sortBy(_._1)
    val viol = named.map { case (n, e) =>
      n -> fnNot(fnCoalesce(fnExpr(e), fnLit(true)))
    }
    val row = df.agg(
      fnSum(viol.head._2.cast("long")).as(viol.head._1),
      viol.tail.map { case (n, c) =>
        fnSum(c.cast("long")).as(n) }: _*).head()
    val bad = named.indices.flatMap { i =>
      val c = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (c > 0) Some(s"${named(i)._1} (${named(i)._2}): $c row(s)")
      else None
    }
    require(bad.isEmpty,
      s"versioned: $op at $path violates CHECK constraint(s): " +
        bad.mkString("; "))
  }

  /** [[enforceOnDf]] over freshly-staged data files — the single
    * enforcement seam both publish paths share, so library commits,
    * DSv2 batch/streaming writes, merges and updates are all gated
    * identically (one validation scan of the fresh files per commit;
    * a failed check aborts BEFORE publish and the staged files stay
    * unreferenced for vacuum). */
  private def enforceOnFiles(path: String, files: Seq[String],
      ddl: String, constraints: Map[String, String], op: String,
      colMap: Map[String, String] = Map.empty): Unit = {
    if (constraints.isEmpty || files.isEmpty) return
    val spark = org.apache.spark.sql.SparkSession.active
    enforceOnDf(readFiles(spark, path, files, ddl, colMap),
      constraints, path, op)
  }

  // -------------------------------------- column mapping (round 14)

  /** DEEPLY-nullable form of a schema (round 15): parquet round-trips
    * lose NOT NULL at every depth, and struct-to-struct CASTS (the
    * nested-mapping alias seam) refuse nullable-to-NOT-NULL fields —
    * so every DDL derived from a DataFrame normalizes nested struct
    * fields nullable too, not just the top level. */
  private[sources] def deepNullable(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = deepNullable(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = deepNullable(m.keyType),
        valueType = deepNullable(m.valueType))
    case other => other
  }
  private[sources] def asNullableSchema(st: StructType): StructType =
    deepNullable(st).asInstanceOf[StructType]

  /** NESTED column mapping (round 15, VERDICT r14 #4): mapping keys
    * are DOTTED LOGICAL paths (`prov.source`); values are the DOTTED
    * PHYSICAL path for nested fields and the plain physical name for
    * top-level columns (how every pre-r15 manifest already parses).
    * Physical leaf of a path = last segment of its mapped value. */
  private def physLeafOf(colMap: Map[String, String],
      logicalPath: String, leaf: String): String =
    colMap.get(logicalPath).map(_.split('.').last).getOrElse(leaf)

  /** Dotted PHYSICAL path of a dotted logical path: each ancestor
    * segment resolves through the mapping cumulatively. */
  private def physPathOf(colMap: Map[String, String],
      logicalPath: String): String = {
    val segs = logicalPath.split('.')
    segs.indices.map { i =>
      physLeafOf(colMap, segs.take(i + 1).mkString("."), segs(i))
    }.mkString(".")
  }

  /** Physical schema of a logical one: field names translated
    * through `colMap` (identity when absent), recursively through
    * struct fields (round 15). Positions and types never move —
    * mapping renames, it does not reorder. */
  private def physicalSchema(logical: StructType,
      colMap: Map[String, String]): StructType = {
    if (colMap.isEmpty) return logical
    def walk(st: StructType, prefix: String): StructType =
      StructType(st.fields.map { f =>
        val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        val pn = physLeafOf(colMap, path, f.name)
        f.dataType match {
          case s: StructType => f.copy(name = pn, dataType = walk(s, path))
          case _ => f.copy(name = pn)
        }
      })
    walk(logical, "")
  }

  /** Read table-relative data `files` under the LOGICAL `ddl`: files
    * carry physical names, so the scan reads the physical schema and
    * aliases back positionally. The single read seam every consumer
    * (snapshot reads, COW rewrites, enforcement) shares.
    *
    * `dvs` (round 15, deletion vectors): files present in the map
    * scan with `_metadata.row_index` and drop their masked ordinals;
    * files absent keep the native vectorized multi-file scan — so a
    * table with a handful of DV'd files pays the per-row mask only on
    * those, and COW rewrites reading through this seam can never
    * resurrect DV-deleted rows. */
  private def readFiles(spark: SparkSession, path: String,
      files: Seq[String], ddl: String,
      colMap: Map[String, String],
      dvs: Map[String, String] = Map.empty): DataFrame = {
    // deep-nullable: pre-r15 manifests may carry nested NOT NULL the
    // alias-back struct CAST would refuse
    val logical = asNullableSchema(StructType.fromDDL(ddl))
    val physSchema = physicalSchema(logical, colMap)
    def abs(f: String) = s"${norm(path)}/$f"
    val (masked, clean) = files.partition(dvs.contains)
    val cleanScan =
      if (clean.isEmpty) None
      else Some(spark.read.schema(physSchema).parquet(clean.map(abs): _*))
    val dvScan =
      if (masked.isEmpty) None
      else {
        // closure carries only the file→sidecar PATH map (round 16):
        // executors read exactly the sidecars their tasks scan.
        // strict — every file on this leg carries a DV, so a key miss
        // is a normalization divergence, not a clean file
        val dvPaths = DeletionVectors.dvPathsOf(norm(path),
          dvs.view.filterKeys(masked.toSet).toMap)
        Some(spark.read.schema(physSchema).parquet(masked.map(abs): _*)
          .where(DeletionVectors.liveFilter(dvPaths, strict = true)(
            col("_metadata.file_path"), col("_metadata.row_index")))
          .select(physSchema.fieldNames.map(col).toIndexedSeq: _*))
      }
    val scan = DeletionVectors.maskedUnion(cleanScan, dvScan)
    if (colMap.isEmpty) scan
    else
      // alias back to LOGICAL names — struct casts are positional, so
      // a nested mapping (round 15) renames interior fields too
      scan.select(logical.fields.zip(physSchema.fields).map {
        case (lf, pf) =>
          col(s"`${pf.name}`").cast(lf.dataType).as(lf.name)
      }.toIndexedSeq: _*)
  }

  /** [[physicalSchema]] for the DSv2 connector (round 15: recursive
    * through structs, shared with the scan's delegate). */
  private[sources] def physicalSchemaOf(logical: StructType,
      colMap: Map[String, String]): StructType =
    physicalSchema(logical, colMap)

  /** Physical DDL of a logical one — the DSv2 writers hand their
    * task-side parquet writers this form so files carry physical
    * names (rows are positional; only names change). */
  private[sources] def physicalDdlOf(path: String, logicalDdl: String)
      : String = {
    val cmap =
      if (versions(path).isEmpty) Map.empty[String, String]
      else snapshot(path).colMap
    physicalSchema(StructType.fromDDL(logicalDdl), cmap).toDDL
  }

  /** Logical-named DataFrame → physical column names for a file
    * write (identity when the table has no mapping). Columns outside
    * the mapping — CDF markers, partition-dir staging columns — pass
    * through untouched (their paths miss the map → identity). Struct
    * casts are positional, so nested mappings rename interior fields
    * (round 15). */
  private def toPhysical(df: DataFrame,
      colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else {
      val phys = physicalSchema(df.schema, colMap)
      df.select(df.schema.fields.zip(phys.fields).map {
        case (lf, pf) =>
          col(s"`${lf.name}`").cast(pf.dataType).as(pf.name)
      }.toIndexedSeq: _*)
    }

  /** Resolve a dotted path's segments to their ACTUAL field case,
    * walking structs (case-insensitive match, loud errors on missing
    * fields / non-struct parents). Returns (canonical segments, the
    * resolved leaf field). */
  private def resolvePath(st: StructType, dotted: String,
      path: String): (Seq[String], org.apache.spark.sql.types.StructField) = {
    val segs = dotted.split('.').toSeq
    require(segs.nonEmpty && segs.forall(_.nonEmpty),
      s"versioned: bad column path '$dotted' at $path")
    var cur = st
    val canonical = scala.collection.mutable.ArrayBuffer.empty[String]
    segs.init.foreach { seg =>
      val f = cur.fields.find(_.name.equalsIgnoreCase(seg)).getOrElse(
        throw new IllegalArgumentException(
          s"versioned: no column $seg (of $dotted) at $path (have " +
            s"${cur.fieldNames.mkString(", ")})"))
      canonical += f.name
      cur = f.dataType match {
        case s: StructType => s
        case other => throw new IllegalArgumentException(
          s"versioned: ${canonical.mkString(".")} is $other, not a " +
            s"struct, at $path")
      }
    }
    val leaf = cur.fields.find(_.name.equalsIgnoreCase(segs.last))
      .getOrElse(throw new IllegalArgumentException(
        s"versioned: no column ${segs.last} (of $dotted) at $path " +
          s"(have ${cur.fieldNames.mkString(", ")})"))
    canonical += leaf.name
    (canonical.toSeq, leaf)
  }

  /** Rebuild `st` with the struct at `parentSegs` edited. */
  private def rebuildStruct(st: StructType, parentSegs: Seq[String],
      edit: StructType => StructType): StructType =
    if (parentSegs.isEmpty) edit(st)
    else StructType(st.fields.map { f =>
      if (f.name == parentSegs.head) f.dataType match {
        case inner: StructType =>
          f.copy(dataType = rebuildStruct(inner, parentSegs.tail, edit))
        case other => sys.error(
          s"versioned: ${parentSegs.head} is $other, not a struct")
      } else f
    })

  /** Physical names RETIRED by DROP COLUMN — a later ADD COLUMNS of
    * the same logical name must mint a fresh physical name instead
    * of resurrecting these from old files. */
  private def retiredPhysical(colMap: Map[String, String]): Set[String] =
    colMap.collect { case (k, v) if k.startsWith(RetiredKeyPrefix) => v }
      .toSet
  private val RetiredKeyPrefix = "__graft_retired_"
  /** The LIVE (non-tombstone) part of a mapping. */
  private def liveColMap(colMap: Map[String, String])
      : Map[String, String] =
    colMap.filterNot { case (k, _) => k.startsWith(RetiredKeyPrefix) }

  /** Publish `m` as version `m.version` atomically. True on success,
    * false if that version number was taken by a racing writer. The
    * content is fully written to a temp file FIRST; the publish is a
    * hard link (atomic existence + content), so concurrent readers
    * never observe a partial manifest. */
  private def publish(path: String, m: Manifest): Boolean = {
    val dir = logDir(path)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".tmp-", ".json")
    // stamp at link time, uniformly for every op: the manifest content
    // IS the commit instant, so timestampAsOf never depends on fs
    // metadata surviving copies/backups
    Files.writeString(tmp, toJson(m.copy(tsMs = System.currentTimeMillis())))
    val target = manifestPath(path, m.version)
    try {
      try Files.createLink(target, tmp)
      catch {
        case _: UnsupportedOperationException =>
          // no hard links (exotic fs): create-exclusive copy
          Files.write(target, Files.readAllBytes(tmp),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
      }
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  // ----------------------------------------------------- snapshots

  /** Resolve the live file set at `asOf` (default: latest): walk back
    * to the nearest checkpoint, then replay the delta suffix. */
  def snapshot(path: String, asOf: Option[Int] = None): Snapshot = {
    val vs = versions(path)
    require(vs.nonEmpty, s"versioned: no committed versions under $path")
    val v = asOf.getOrElse(vs.max)
    require(vs.contains(v),
      s"versioned: version $v not in log (have ${vs.mkString(",")})")
    val upTo = vs.filter(_ <= v)
    // v1 is always full (first commit has nothing to delta against)
    var files = Vector.empty[String]
    var ddl = ""
    var base = -1
    var replayed = 0
    // walk backwards until the first full manifest, then forward-apply
    val suffix = upTo.reverse.takeWhile { ver =>
      base = ver; !parseManifest(manifestPath(path, ver)).full
    }
    val toApply = (base +: suffix.reverse).distinct
    var stats: FileStats = Map.empty
    var pcols: Seq[String] = Nil
    var cmap: Map[String, String] = Map.empty
    var dvm: Map[String, String] = Map.empty
    toApply.foreach { ver =>
      val m = parseManifest(manifestPath(path, ver))
      replayed += 1
      if (m.full) { files = m.files.toVector; stats = m.stats }
      else { files = files ++ m.files; stats = stats ++ m.stats }
      ddl = m.schemaDdl
      pcols = m.partitionCols
      cmap = m.colMap // complete mapping per manifest: last wins
      m.dvs.foreach(d => dvm = d) // present = complete; absent = inherit
    }
    Snapshot(v, files, ddl, base, replayed, stats, pcols, cmap, dvm)
  }

  /** Resolve a wall-clock instant to a version — Delta's
    * `timestampAsOf` semantics: the LATEST commit whose stamp is ≤
    * `tsMs`; an instant before the first commit is a loud error; an
    * instant after the last resolves to the latest. Stamps are made
    * MONOTONE by running max during the scan (two racing writers can
    * publish v and v+1 with skewed clocks; a later version must never
    * resolve to an earlier instant — the same adjustment Delta applies
    * to its commit file times). O(versions) driver-side JSON reads,
    * like every other log walk here. */
  def timestampToVersion(path: String, tsMs: Long): Int = {
    val vs = versions(path)
    require(vs.nonEmpty, s"versioned: no committed versions under $path")
    var adjusted = Long.MinValue
    var resolved = -1
    vs.foreach { v =>
      adjusted = math.max(adjusted, parseManifest(manifestPath(path, v)).tsMs)
      if (adjusted <= tsMs) resolved = v
    }
    require(resolved >= 0,
      s"versioned: timestamp $tsMs predates the first commit of $path " +
        s"(earliest ${parseManifest(manifestPath(path, vs.min)).tsMs})")
    resolved
  }

  /** The (monotone-adjusted) commit instant of `v` — what
    * `timestampAsOf` resolves against; exposed for history listings. */
  def commitTimestamp(path: String, v: Int): Long = {
    val vs = versions(path)
    require(vs.contains(v), s"versioned: version $v not in log")
    vs.filter(_ <= v)
      .map(x => parseManifest(manifestPath(path, x)).tsMs).max
  }

  /** Timestamp-based time travel: read the table as of a wall-clock
    * instant (epoch millis). `read(…, Some(v))`'s human-facing twin. */
  def readAsOfTimestamp(spark: SparkSession, path: String,
      tsMs: Long): DataFrame =
    read(spark, path, Some(timestampToVersion(path, tsMs)))

  /** History listing (Delta DESCRIBE HISTORY): one row per committed
    * version, ascending — op, the monotone-adjusted commit instant
    * `timestampAsOf` resolves against, whether the manifest is a
    * checkpoint, how many files it lists, and whether it persisted a
    * row-level change set. O(versions) driver-side JSON reads. */
  def history(spark: SparkSession, path: String): DataFrame = {
    var adjusted = Long.MinValue
    val rows = versions(path).map { v =>
      val m = parseManifest(manifestPath(path, v))
      adjusted = math.max(adjusted, m.tsMs)
      Row(v, m.op, adjusted, m.full, m.files.size,
        m.changes.isDefined)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType.fromDDL("version INT, op STRING, timestamp_ms BIGINT, " +
        "is_checkpoint BOOLEAN, n_files INT, has_change_feed BOOLEAN"))
  }

  // ------------------------------------------------------- commits

  /** Parquet files under `dir`, RECURSIVE (a partitioned commit lays
    * files out hive-style under `col=value/` subdirs), as
    * dir-relative paths. */
  private def listParquet(dir: Path): Seq[String] = {
    def walk(p: Path, prefix: String): Vector[String] =
      listDir(p).flatMap { c =>
        val n = c.getFileName.toString
        if (Files.isDirectory(c)) walk(c, s"$prefix$n/")
        else if (n.endsWith(".parquet") && !n.startsWith("."))
          Vector(s"$prefix$n")
        else Vector.empty
      }
    walk(dir, "").sorted
  }

  /** Hive-style `%XX` path unescape (the escaping Spark's partitioned
    * writer applies to special chars in partition values). */
  private[sources] def unescapePathName(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          val hex = try Some(Integer.parseInt(s.substring(i + 1, i + 3), 16))
            catch { case _: NumberFormatException => None }
          hex match {
            case Some(code) => sb.append(code.toChar); i += 3
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Directory-name prefix of graftv partition segments. Partitioned
    * commits are staged through DUPLICATED `__part_<col>` columns so
    * the hive-style layout exists on disk (human-navigable, the
    * reference's per-group folder convention, database/__init__.py:
    * 85–87) while the ORIGINAL columns stay physically present in
    * every data file — the Iceberg discipline, not Delta's. Readers
    * therefore never depend on path parsing or partition discovery
    * (which cannot span multiple `c-<commit>` dirs under one
    * basePath); the manifest's per-file partition point stats are the
    * partition index, and pruning rides the same [[ColStat]] skipping
    * machinery as footer stats. */
  private[sources] val PartDirPrefix = "__part_"

  /** The `col=value` partition segments of a relative file path, raw
    * (hive-unescaped) string values, keyed by the ORIGINAL column
    * name (the [[PartDirPrefix]] staging prefix is stripped). */
  private[sources] def partitionValuesOf(relFile: String)
      : Map[String, String] =
    relFile.split('/').iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(unescapePathName(seg.substring(0, i))
        .stripPrefix(PartDirPrefix) ->
        unescapePathName(seg.substring(i + 1)))
    }.toMap

  /** Partition values of a file AS [[ColStat]] point ranges — so
    * partition pruning rides the exact same manifest-stats skipping
    * machinery as footer stats (a partition value IS a perfect
    * min == max statistic for every row in the file).
    *
    * Hive's default marker records NOTHING (ADVICE r11): Spark's
    * partitioned writer emits `__HIVE_DEFAULT_PARTITION__` for null
    * AND for empty-string values AND for the literal sentinel string
    * itself, so the marker is ambiguous — a [[NullStat]] here would
    * falsely prove "no non-null values" for a file holding `p = ''`
    * rows, silently pruning it from a pushed `p = ''` filter and
    * letting a merge keyed on `p` insert a duplicate instead of
    * updating. Absence = the file is never skipped. */
  private def partitionStatsOf(relFile: String, pcols: Seq[String],
      schema: StructType): Map[String, ColStat] = {
    import org.apache.spark.sql.types._
    val kvs = partitionValuesOf(relFile)
    pcols.flatMap { c =>
      kvs.get(c).flatMap { raw =>
        if (raw == "__HIVE_DEFAULT_PARTITION__") None
        else schema.find(_.name == c).map(_.dataType) match {
          case Some(LongType | IntegerType | ShortType | ByteType) =>
            try Some(c -> (LongStat(raw.toLong, raw.toLong): ColStat))
            catch { case _: NumberFormatException => None }
          case Some(StringType) if isAscii(raw) =>
            truncMax(raw).map(h => c -> (StrStat(truncMin(raw), h): ColStat))
          case _ => None // untyped/unsupported: no stat, never skipped
        }
      }
    }.toMap
  }

  /** Write `df` under `dest`: flat parquet when unpartitioned,
    * hive-style by the [[PartDirPrefix]] staging duplicates of
    * `pcols` otherwise — the original columns stay IN the files. */
  private def writeData(df0: DataFrame, dest: String,
      pcols: Seq[String], colMap: Map[String, String] = Map.empty)
      : Unit = {
    // files carry PHYSICAL names (round 14, column mapping); the
    // partition staging columns key off logical names first (pcols
    // are never renameable, so logical == physical for them)
    val df = toPhysical(df0, colMap)
    if (pcols.isEmpty) df.write.mode("errorifexists").parquet(dest)
    else {
      val staged = pcols.foldLeft(df)((d, c) =>
        d.withColumn(s"$PartDirPrefix$c", col(c)))
      staged.write.mode("errorifexists")
        .partitionBy(pcols.map(c => s"$PartDirPrefix$c"): _*)
        .parquet(dest)
    }
  }

  /** Footer stats + (for partitioned tables) partition-value point
    * stats, per file — what every commit records in its manifest. */
  private def statsForFiles(spark: SparkSession, path: String,
      files: Seq[String], pcols: Seq[String], schema: StructType,
      colMap: Map[String, String] = Map.empty): FileStats = {
    val footer = fileStatsOf(spark, path, files)
    // bloom sidecar seam (round 16): every commit path funnels its
    // FRESH files through here for footer stats, so this is the one
    // place point-lookup blooms get built too (opt-in via
    // spark.graft.bloom.columns; content-addressed, see BloomFilters).
    // Round 17 (VERDICT r16 #4): the filter-sizing row counts come
    // from the footer stats just read driver-side (RowsStatKey) —
    // the build's former pass 1, a distributed
    // groupBy(file).count()+collect per commit, is gone; one scan of
    // the fresh files remains (the bit-set OR pass).
    val bloomCols = BloomFilters.configuredPhysCols(spark, colMap)
    if (bloomCols.nonEmpty && files.nonEmpty) {
      val rowCounts: Map[String, Long] = files.flatMap { f =>
        footer.get(f).flatMap(_.get(RowsStatKey)).collect {
          case LongStat(n, _) => f -> n
        }
      }.toMap
      BloomFilters.buildFor(spark, norm(path), files, bloomCols, rowCounts)
    }
    if (pcols.isEmpty) footer
    else files.map(f => f -> (footer.getOrElse(f, Map.empty) ++
      partitionStatsOf(f, pcols, schema))).toMap
  }

  /** Commit `df` to the table at `path`. `mode` = "append" |
    * "overwrite". Returns the committed version number. Appends to an
    * existing table require an identical schema DDL (loud error — the
    * reference's silent schema-drift failure mode) unless
    * `mergeSchema = true`, which allows ADDITIVE evolution: new
    * columns join the table schema as nullable, common columns must
    * keep their types, and old files read back with the new columns
    * null-filled (the committed DDL per manifest means time travel
    * sees each version under its own schema). Overwrite may change
    * the schema freely. */
  def commit(df: DataFrame, path: String, mode: String = "append",
      mergeSchema: Boolean = false, partitionBy: Seq[String] = Nil): Int =
    commitInternal(df, path, mode, txn = None, mergeSchema = mergeSchema,
      partitionBy = partitionBy)
      .getOrElse(
        sys.error(s"versioned: plain commit cannot be skipped ($path)"))

  /** SHALLOW CLONE (round 14; Delta's `CREATE TABLE … SHALLOW CLONE`
    * shape): birth a NEW table at `dst` whose v1 references the
    * SOURCE snapshot's data — zero rows rewritten. On a local
    * filesystem each live file HARD-LINKS into `dst` (same inode,
    * metadata-only; graftv data files are immutable/COW so shared
    * inodes are safe), with a byte-copy fallback where links are
    * unsupported. The clone is fully independent afterwards: its own
    * log, its own txn ledger (fresh — a clone is a new table for
    * exactly-once purposes), its own vacuum horizon (links are
    * separate paths; reclaiming one side never touches the other),
    * while schema, partitioning, column mapping, stats and CHECK
    * constraints carry over. The 100 TB shape: cloning a table costs
    * O(files) metadata operations, never bytes — the
    * experiment-branch / backfill-sandbox idiom. On object stores a
    * deployment would reference the source objects by absolute URI
    * instead (Delta's actual shallow clone); the local tier links so
    * the relative-path manifest invariant holds. */
  def cloneTable(spark: SparkSession, src: String, dst: String,
      asOf: Option[Int] = None): Int = {
    require(versions(dst).isEmpty,
      s"versioned: clone target $dst already has committed versions")
    val snap = snapshot(src, asOf)
    val srcHeadM = parseManifest(manifestPath(src,
      asOf.getOrElse(versions(src).max)))
    val dstRoot = Paths.get(norm(dst))
    Files.createDirectories(dstRoot)
    // bloom sidecars travel with their data files (round 16): same
    // rel in the clone → same content address, so the clone's point
    // DML prunes from day one; a missing sidecar is simply weaker
    // pruning there
    val bloomRels = snap.files.map(BloomFilters.sidecarRel)
      .filter(r => Files.exists(Paths.get(norm(src), r)))
    (snap.files ++ snap.dvs.values ++ bloomRels).foreach { f =>
      val from = Paths.get(norm(src), f)
      val to = Paths.get(norm(dst), f)
      Option(to.getParent).foreach(Files.createDirectories(_))
      try { Files.createLink(to, from); () }
      catch {
        case _: UnsupportedOperationException |
            _: java.nio.file.FileSystemException =>
          Files.copy(from, to,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
      }
    }
    val ok = publish(dst, Manifest(1, "clone", full = true, snap.files,
      snap.schemaDdl, txns = Map.empty, stats = snap.stats,
      partitionCols = snap.partitionCols,
      constraints = srcHeadM.constraints, colMap = snap.colMap,
      dvs = Some(snap.dvs)))
    require(ok, s"versioned: clone target $dst was concurrently created")
    1
  }

  /** CONVERT an existing parquet directory into a graftv table IN
    * PLACE (round 13; Delta's `CONVERT TO DELTA` shape): NO data is
    * rewritten — the published v1 `convert` manifest references the
    * directory's part files where they lie, with footer stats (and,
    * for hive-layout `k=v` subdirs, partition point stats) recorded
    * exactly as a fresh commit would. The adoption door for data that
    * already exists: `spark.read.parquet(dir)` users switch to the
    * lake without paying a rewrite of the corpus.
    *
    * Constraints, all loud:
    *  - the directory must not already be a graftv table;
    *  - partitioned layouts are adopted ONLY when the partition
    *    columns are physically present in the part files (graftv's
    *    Iceberg-style full-row discipline — the library read path and
    *    every COW op read values from the files, not the paths).
    *    Spark's default `partitionBy` output STRIPS those columns;
    *    such directories must re-ingest via
    *    `commit(df, path, partitionBy = …)` instead;
    *  - every file must agree on the partition key set.
    *
    * Converted originals live OUTSIDE `data/` — [[vacuum]] sweeps
    * only `data/` and `_changes/`, so even after later COW rewrites
    * de-reference them the original files are never deleted by the
    * lake (conservative by design: the user's pre-existing files stay
    * the user's). Subsequent commits/merges/deletes behave exactly as
    * on a born-graftv table. */
  def convertParquet(spark: SparkSession, path: String): Int = {
    require(versions(path).isEmpty,
      s"versioned: $path is already a graftv table (convert adopts " +
        "plain parquet directories only)")
    val root = Paths.get(norm(path))
    require(Files.isDirectory(root),
      s"versioned: convert target $path is not a directory")
    def walk(p: Path, prefix: String): Vector[String] =
      listDir(p).flatMap { c =>
        val n = c.getFileName.toString
        if (Files.isDirectory(c)) {
          // the lake's own areas colliding at the top level would be
          // silently part-adopted (their files skipped) — refuse
          // loudly instead; `data`/`_changes` holding parquet means
          // this is a half-built graftv dir or a name collision the
          // user must resolve, not something to guess about
          if (prefix.isEmpty && (n == "_log" || n == "data" ||
            n == "_changes")) {
            require(listParquet(c).isEmpty,
              s"versioned: convert target $path has a top-level '$n' " +
                "directory holding parquet — that name is reserved " +
                "for the lake's own layout and its files would not " +
                "be adopted; move or rename it first")
            Vector.empty
          } else walk(c, s"$prefix$n/")
        } else if (n.endsWith(".parquet") && !n.startsWith(".") &&
          !n.startsWith("_")) {
          // partition values parse from `k=v` PATH segments everywhere
          // (manifest stats, DSv2 constants) — a '=' in a FILE name
          // would masquerade as one; Spark never writes such names,
          // so refuse rather than misparse
          require(!n.contains('='),
            s"versioned: cannot adopt $prefix$n — '=' in a file name " +
              "would parse as a partition segment; rename it first")
          Vector(s"$prefix$n")
        } else Vector.empty
      }
    val files = walk(root, "").sorted
    require(files.nonEmpty,
      s"versioned: no parquet files to convert at $path")
    val keySets = files.map(f => partitionValuesOf(f).keySet)
    require(keySets.forall(_ == keySets.head),
      s"versioned: inconsistent partition layout at $path " +
        s"(key sets ${keySets.distinct.mkString(" vs ")})")
    val pcols = keySets.head.toSeq.sorted
    // physical schema from the files themselves (explicit file list =
    // no path-based partition-column inference)
    val physical = spark.read
      .parquet(files.map(f => s"${norm(path)}/$f"): _*).schema
    pcols.foreach(c => require(physical.fieldNames.contains(c),
      s"versioned: partition column $c is not in the data files at " +
        s"$path — graftv keeps partition columns in the rows " +
        "(full-row files); Spark's column-stripping partitionBy " +
        "layout cannot be adopted in place, re-ingest via " +
        "commit(df, path, partitionBy = ...)"))
    val schema = asNullableSchema(physical)
    val stats = statsForFiles(spark, path, files, pcols, schema)
    val ok = publish(path, Manifest(1, "convert", full = true, files,
      schema.toDDL, stats = stats, partitionCols = pcols))
    require(ok,
      s"versioned: a concurrent writer created a table at $path " +
        "during convert")
    1
  }

  /** Exactly-once commit: append `df` tagged (appId, batchId); if a
    * manifest already records a batch id ≥ `batchId` for `appId` the
    * commit is a no-op returning None — safe under foreachBatch's
    * at-least-once replays. Any data files a losing replay wrote stay
    * invisible (the log is the source of truth) and are reclaimed by
    * [[vacuum]]. */
  def commitIfAbsent(df: DataFrame, path: String, appId: String,
      batchId: Long): Option[Int] = {
    if (lastTxn(path, appId).exists(_ >= batchId)) return None // fast path
    commitInternal(df, path, "append", txn = Some(appId -> batchId))
  }

  /** Highest batch id committed by `appId`, from the LATEST manifest
    * alone (txns are carried forward at every commit). */
  def lastTxn(path: String, appId: String): Option[Long] = {
    val vs = versions(path)
    if (vs.isEmpty) None
    else parseManifest(manifestPath(path, vs.max)).txns.get(appId)
  }

  /** foreachBatch adapter: `stream.writeStream.foreachBatch(
    * Versioned.streamingSink(path, appId)).start()` gives an
    * exactly-once versioned-table sink. */
  def streamingSink(path: String, appId: String): (DataFrame, Long) => Unit =
    (df, batchId) => { commitIfAbsent(df, path, appId, batchId); () }

  /** Apply a CHANGE-FEED batch (rows carrying `_change_type` +
    * `_commit_version`, as produced by `readChangeFeed` in batch or
    * streaming form) to the graftv table at `target` — the v6
    * cdf-apply law as an executable operator (round 13). The WHOLE
    * version range in the batch coalesces to its NET effect per key
    * FIRST (round 14; Delta's batch CDC-apply discipline): only a
    * key's LAST event — ordered by `_commit_version`, deletes ranking
    * below same-version re-inserts (a REPLACE commit deletes and
    * re-inserts the same key; deletes apply first, so the re-inserted
    * row is the survivor) — reaches the table, so a replica catching
    * up over N versions pays at most TWO COW merges, not 2N. Net
    * effect over the table's exact schema (no marker column ever
    * evolves into the replica):
    *
    *  - keys whose last event is `delete` tombstone-delete (a
    *    whenMatchedDelete merge with no insert chain),
    *  - keys whose last event is `insert` / `update_postimage` upsert
    *    (a plain upsert merge) — the two key sets are disjoint by
    *    construction (one last event per key), so merge order between
    *    them is immaterial,
    *  - `update_preimage` rows are dropped (the postimage carries the
    *    state),
    *  - an empty batch (OPTIMIZE / metadata commits are layout- or
    *    schema-only) is a no-op.
    *
    * The coalescing window = the TRIGGER batch: with
    * `maxVersionsPerTrigger = n` the replica still surfaces every
    * n-th intermediate state (rate-limited convergence, the same law
    * the admission control enforces); without it a catch-up drain
    * converges straight to the source head.
    *
    * A nonexistent / empty `target` is BORN from the first batch's
    * inserts (table birth is a write), with tombstones for
    * never-seen keys skipped. REPLAY-IDEMPOTENT state-wise: re-
    * applying a version's changes upserts identical rows and its
    * tombstones find no match (and insert nothing — the delete-merge
    * has no notMatched chain), so foreachBatch's at-least-once replay
    * of the last uncommitted batch converges to the same `target`
    * state — at the cost of an extra (empty-effect) version on
    * `target`.
    *
    * Scale shape: at most TWO COW merges per TRIGGER regardless of
    * how many source commits it drains, each touching only the files
    * the net keys hit (file-granular COW + stats pruning), so a
    * replica of a 100 TB table pays per-trigger for the trigger's net
    * key footprint — never the table's size, and never N× for an
    * N-version catch-up. The coalescing shuffle is ONE exchange on
    * `keys` sized by the change batch itself. */
  def applyChanges(batch: DataFrame, target: String,
      keys: Seq[String]): Unit = {
    require(batch.columns.contains("_change_type") &&
      batch.columns.contains("_commit_version"),
      "versioned: applyChanges needs a change-feed batch " +
        "(_change_type + _commit_version columns); read the source " +
        "with readChangeFeed")
    val dataCols = batch.columns
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    keys.foreach(k => require(dataCols.contains(k),
      s"versioned: replication key $k not in the change batch"))
    // NET effect per key over the whole drained range (round 14):
    // keep each key's LAST event — version ascending; within a
    // version a key appears in at most one change kind EXCEPT a
    // replace commit's delete+re-insert, where deletes apply first,
    // so the re-insert outranks the delete. One row_number window =
    // one keyed exchange sized by the change batch.
    val events = batch.where(col("_change_type") =!= "update_preimage")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "delete", 0).otherwise(1).desc)
    val ranked = events
      .withColumn("__g_rn", org.apache.spark.sql.functions
        .row_number().over(w))
      .withColumn("__g_rk", org.apache.spark.sql.functions
        .rank().over(w))
    // Replication requires KEY-UNIQUE sources (round 15, ADVICE r14):
    // a single source commit carrying two non-delete rows with the
    // same key ties on (version, kind), so row_number would pick one
    // NONDETERMINISTICALLY and the replica would silently diverge —
    // the same situation the per-version path surfaced through
    // merge's "source has duplicate keys" error. Detect it in the
    // SAME window (no extra exchange): a row with rank 1 but
    // row_number 2 IS a tie with the winner; ties can only pair rows
    // of the same change kind (the kind flag orders), and duplicate
    // DELETES of one key are idempotent, so only non-delete ties are
    // divergence. Fail loudly naming a culprit.
    // ONE execution of the change-feed read + window (round 16): the
    // ranked batch used to be re-executed up to five times (tie probe,
    // two isEmpty probes, both merges). Pin the net events PLUS the
    // tie markers in one localCheckpoint — everything downstream reads
    // the pinned blocks. Pinned volume is O(net change keys), the same
    // bound the netChanges drain carries.
    val pinned = ranked
      .where(col("__g_rn") === 1 ||
        (col("__g_rk") === 1 && col("__g_rn") === 2 &&
          col("_change_type") =!= "delete"))
      .localCheckpoint(false) // materializes in the count job below
    val last = pinned.where(col("__g_rn") === 1).drop("__g_rk")
    val dels = last.where(col("_change_type") === "delete")
      .select(dataCols.map(col).toIndexedSeq: _*)
    val ups = last
      .where(col("_change_type").isin("insert", "update_postimage"))
      .select(dataCols.map(col).toIndexedSeq: _*)
    // one tiny job over the pinned blocks replaces the two isEmpty
    // probes (round 16) AND the tie probe (round 17: the culprit
    // lookup was an unconditional extra job per drained batch — the
    // tie COUNT folds into this aggregate for free, and the culprit's
    // key is only fetched on the error path)
    val nRow = pinned.agg(
      count(when(col("__g_rn") === 1 &&
        col("_change_type") === "delete", lit(1))).as("nd"),
      count(when(col("__g_rn") === 1 &&
        col("_change_type").isin("insert", "update_postimage"),
        lit(1))).as("nu"),
      count(when(col("__g_rn") === 2, lit(1))).as("nties")).head()
    if (nRow.getLong(2) > 0) {
      val culprit = pinned.where(col("__g_rn") === 2)
        .select((keys.map(col) :+ col("_commit_version")).toIndexedSeq: _*)
        .limit(1).collect()
      throw new IllegalArgumentException(
        "versioned: applyChanges requires a key-unique source — " +
          s"commit version ${culprit.head.get(keys.size)} carries " +
          s"duplicate non-delete rows for key (${keys.mkString(",")}) = " +
          s"(${keys.indices.map(culprit.head.get).mkString(",")}) at " +
          s"$target; deduplicate the source or replicate on a unique key")
    }
    val (nDels, nUps) = (nRow.getLong(0), nRow.getLong(1))
    if (versions(target).isEmpty) {
      // table birth: commit the net inserts; tombstones have nothing
      // to delete on an empty replica
      if (nUps > 0) { commit(ups, target, "append"); () }
    } else {
      // the two key sets are disjoint (one last event per key), so
      // delete-merge vs upsert-merge order is immaterial
      if (nDels > 0) {
        mergeClauses(dels, target, keys,
          matched = Seq(WhenMatched.Delete(None)), notMatched = Nil)
        ()
      }
      if (nUps > 0) { merge(ups, target, keys); () }
    }
  }

  /** foreachBatch adapter for CONTINUOUS CDC replication A→B:
    * {{{
    * spark.readStream.format("graftv")
    *   .option("readChangeFeed", "true").load(a)
    *   .writeStream.option("checkpointLocation", ckpt)
    *   .foreachBatch(Versioned.replicationSink(b, Seq("id"))).start()
    * }}}
    * keeps `b` state-equal to `a` at every drained version through
    * inserts, updates, deletes, and layout-only commits. */
  def replicationSink(target: String, keys: Seq[String])
      : (DataFrame, Long) => Unit =
    (df, _) => applyChanges(df, target, keys)

  private def commitInternal(df: DataFrame, path: String, mode: String,
      txn: Option[(String, Long)], mergeSchema: Boolean = false,
      partitionBy: Seq[String] = Nil)
      : Option[Int] = {
    require(mode == "append" || mode == "overwrite",
      s"versioned: mode must be append|overwrite, got $mode")
    // resolve the EFFECTIVE partitioning before writing any file:
    // partitioning is a table property (Delta), so appends inherit the
    // table's layout when no partitionBy is given, and a conflicting
    // explicit partitionBy on append is a loud error. Overwrite may
    // re-lay-out freely.
    val existingPcols: Seq[String] =
      if (versions(path).isEmpty) Nil else snapshot(path).partitionCols
    val pcols: Seq[String] =
      if (mode == "overwrite" || versions(path).isEmpty) partitionBy
      else if (partitionBy.isEmpty) existingPcols
      else {
        require(partitionBy == existingPcols,
          s"versioned: append partitionBy (${partitionBy.mkString(",")}) " +
            s"must match the table's (${existingPcols.mkString(",")}) " +
            s"at $path")
        partitionBy
      }
    pcols.foreach(c => require(df.columns.contains(c),
      s"versioned: partition column $c not in the DataFrame at $path"))
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    // files carry PHYSICAL names (round 14): appends translate the
    // logical df through the table's mapping; an overwrite or first
    // commit re-establishes identity
    val writeMap: Map[String, String] =
      if (mode == "overwrite" || versions(path).isEmpty)
        Map.empty
      else snapshot(path).colMap
    writeData(df, s"$path/$dataRel", pcols, writeMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    // asNullable: parquet round-trips lose NOT NULL anyway; storing the
    // nullable form keeps a Seq-derived first commit (non-null encoders)
    // append-compatible with later parquet-derived commits.
    val ddl = asNullableSchema(df.schema).toDDL
    // footer + partition-value stats of the just-written files, once,
    // outside the retry loop (the files don't change across publish
    // retries)
    val addedStats = statsForFiles(df.sparkSession, path, added, pcols,
      df.schema, writeMap)
    publishAdded(path, added, ddl, mode, txn, mergeSchema, pcols,
      addedStats)
  }

  /** Safe WIDENING lattice (round 14, VERDICT r13 #6; the Delta
    * type-widening discipline, and the reference's coerce-to-
    * int64/float64 persist posture, atoms.py:37–65): integral types
    * widen along byte < short < int < long, and float widens to
    * double. Spark 4's parquet readers (vectorized and parquet-mr)
    * promote the narrower PHYSICAL type at scan time, so old files
    * written before a widening read back widened with no rewrite. */
  private val widenChain: Map[org.apache.spark.sql.types.DataType, Int] =
    Map(org.apache.spark.sql.types.ByteType -> 0,
      org.apache.spark.sql.types.ShortType -> 1,
      org.apache.spark.sql.types.IntegerType -> 2,
      org.apache.spark.sql.types.LongType -> 3)
  private[sources] def widened(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] =
    if (a == b) Some(a)
    else (widenChain.get(a), widenChain.get(b)) match {
      case (Some(x), Some(y)) => Some(if (x >= y) a else b)
      case _ =>
        import org.apache.spark.sql.types.{DoubleType, FloatType}
        if (Set[org.apache.spark.sql.types.DataType](a, b) ==
          Set[org.apache.spark.sql.types.DataType](FloatType, DoubleType))
          Some(DoubleType)
        else None
    }

  /** ADDITIVE schema merge (mergeSchema appends and schema-evolution
    * merges share it): `prev` columns keep their position — a shared
    * column resolves to the WIDER of the two types along the safe
    * [[widened]] lattice (round 14; any other type change is a loud
    * error) — and genuinely new `next` columns append as nullable.
    * Old files read back under the merged DDL with the new columns
    * null-filled (parquet fills absent columns) and narrower
    * physical types promoted at scan time. */
  private def mergeDdl(prevDdl: String, nextDdl: String, path: String,
      what: String): String = {
    val prevS = StructType.fromDDL(prevDdl)
    val newS = StructType.fromDDL(nextDdl)
    val kept = prevS.fields.map { pf =>
      newS.fields.find(_.name == pf.name).fold(pf) { nf =>
        val w = widened(pf.dataType, nf.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"versioned: $what cannot change ${pf.name}: " +
              s"${pf.dataType} -> ${nf.dataType} at $path (only " +
              "byte<short<int<long and float<double widen)"))
        pf.copy(dataType = w)
      }
    }
    val extra = newS.fields.filterNot(f =>
      prevS.fieldNames.contains(f.name))
    StructType(kept ++ extra).toDDL
  }

  /** Publish ALREADY-WRITTEN data files as an append/overwrite commit
    * — the seam shared by [[commitInternal]] (which writes the files
    * itself) and the DSv2 batch writer (whose TASKS write the files;
    * the driver publishes once all succeed). */
  private[sources] def publishAdded(path: String, added: Seq[String],
      ddl: String, mode: String, txn: Option[(String, Long)],
      mergeSchema: Boolean, pcols: Seq[String],
      addedStats: FileStats): Option[Int] = {
    // Path-STRUCTURAL safety only (ADVICE r11): the old whitelist
    // rejected characters Spark's partitioned writer legitimately
    // leaves unescaped in partition values (space, '+', ',', '(', …),
    // so `partitionBy` a string column holding "a b" failed loudly
    // AFTER writing its data files — and the DSv2 publish path skipped
    // the check entirely. A manifest-relative path is safe iff it
    // cannot escape the table root: no leading '/', no NUL, no '..'
    // or empty segment. Checked HERE (the seam both write paths share)
    // so library and DSv2 commits are gated identically.
    added.foreach { f =>
      val segs = f.split('/')
      require(!f.startsWith("/") && !f.contains('\u0000') &&
        segs.nonEmpty && !segs.contains("..") && !segs.contains(""),
        s"versioned: unsafe file name $f")
    }
    val hook = beforeAppendPublish
    beforeAppendPublish = () => ()
    hook()
    // Vacuum-race guard (round 13): staging files are unreferenced
    // until THIS publish lands, so a concurrent vacuum whose grace
    // window is shorter than our write-to-publish duration may have
    // reclaimed them. Publishing anyway would commit a manifest whose
    // files are gone — silent corruption discovered only at scan.
    // Fail LOUDLY instead; the caller re-runs the write. (One stat
    // per added file, driver-side; the residual check-to-publish
    // window is milliseconds vs the minutes-scale grace contract —
    // SCALING.md §cross-process writers.)
    requireStaged(path, added, "commit")
    // CHECK constraints gate the fresh files ONCE before the publish
    // loop (one validation scan); the loop re-validates only if a
    // racing metadata commit changed the constraint set meanwhile.
    // Enforcement reads the staged files under the TABLE's DDL, not
    // the append's: constraints were validated against the table
    // schema, and a mergeSchema append omitting a constrained column
    // must evaluate it over the null-fill (NULL passes; `c IS NOT
    // NULL` counts a violation) instead of dying unresolved.
    // (an OVERWRITE may change the schema, so its staged files read
    // under the NEW ddl — a constraint referencing a column the
    // overwrite dropped then fails loudly: drop the constraint first)
    var enforced: Map[String, String] = Map.empty
    var enforcedDdl: String = ddl
    var enforcedMap: Map[String, String] = Map.empty
    locally {
      val vs0 = versions(path)
      if (vs0.nonEmpty) {
        val m0 = parseManifest(manifestPath(path, vs0.max))
        // Exactly-once replay check BEFORE constraint enforcement
        // (round 14, ADVICE): a foreachBatch replay of an already-
        // committed batch must no-op with None even if a constraint
        // added AFTER the original commit would reject the replayed
        // rows — otherwise a restarted stream is permanently stuck in
        // recovery. The loop below re-checks under the then-current
        // head, so a race that commits the same batch between here
        // and publish still dedups.
        txn.foreach { case (app, b) =>
          if (m0.txns.get(app).exists(_ >= b)) return None
        }
        enforced = m0.constraints
        if (mode != "overwrite") {
          enforcedDdl = m0.schemaDdl
          enforcedMap = m0.colMap // staged files carry physical names
        }
      }
    }
    enforceOnFiles(path, added, enforcedDdl, enforced, s"$mode commit",
      enforcedMap)
    var attempt = 0
    while (attempt < 64) {
      val vs = versions(path)
      val cur = if (vs.isEmpty) 0 else vs.max
      val v = cur + 1
      val prevM =
        if (cur == 0) None else Some(parseManifest(manifestPath(path, cur)))
      val prevTxns = prevM.map(_.txns).getOrElse(Map.empty[String, Long])
      val prevConstraints =
        prevM.map(_.constraints).getOrElse(Map.empty[String, String])
      if (prevConstraints != enforced) {
        // a concurrent ADD/DROP CONSTRAINT landed after our gate —
        // re-validate under the new set before publishing against it
        enforceOnFiles(path, added,
          if (mode == "overwrite") ddl
          else prevM.map(_.schemaDdl).getOrElse(ddl),
          prevConstraints, s"$mode commit",
          if (mode == "overwrite") Map.empty
          else prevM.map(_.colMap).getOrElse(Map.empty))
        enforced = prevConstraints
      }
      txn.foreach { case (app, b) =>
        // re-check under the current log head: a racing replay of the
        // same batch may have won while we were writing data files
        if (prevTxns.get(app).exists(_ >= b)) return None
      }
      val (full, files, outDdl, stats, outDvs) =
        if (mode == "overwrite" || cur == 0)
          // fresh/replaced file set: explicit EMPTY dv map (clears)
          (true, added, ddl, addedStats,
            Some(Map.empty[String, String]))
        else {
          val prev = snapshot(path, Some(cur))
          require(prev.partitionCols == pcols,
            s"versioned: append layout (${pcols.mkString(",")}) does not " +
              s"match the table's (${prev.partitionCols.mkString(",")}) " +
              s"at $path v$v — a racing commit changed the partitioning")
          val committed =
            if (prev.schemaDdl == ddl) ddl
            else if (!mergeSchema)
              throw new IllegalArgumentException(
                s"versioned: append schema mismatch at $path v$v:\n  table: " +
                  s"${prev.schemaDdl}\n  append: $ddl (pass mergeSchema = " +
                  "true for additive evolution)")
            else {
              // evolution through the DATA path writes the new
              // column's bytes under its LOGICAL name — if that name
              // was DROPPED earlier its physical name is retired and
              // old files still carry those bytes; minting can't help
              // (the staged files are already written), so reject
              // loudly and steer to ADD COLUMNS (which mints) (r14)
              val merged = mergeDdl(prev.schemaDdl, ddl, path, "mergeSchema")
              val fresh = StructType.fromDDL(merged).fieldNames
                .filterNot(StructType.fromDDL(prev.schemaDdl)
                  .fieldNames.contains)
              val taken = prevM.map(_.colMap.values.toSet)
                .getOrElse(Set.empty)
              fresh.filter(taken.contains).foreach { c =>
                throw new IllegalArgumentException(
                  s"versioned: evolved column $c at $path reuses a " +
                    "retired physical name — add it via ALTER TABLE " +
                    "ADD COLUMNS first (which mints a fresh physical " +
                    "name), then append")
              }
              merged
            }
          if (v % CheckpointInterval == 0)
            // checkpoint carries stats AND the dv map forward — it is
            // a replay base; inheriting here would drop the mask
            (true, prev.files ++ added, committed,
              prev.stats ++ addedStats, Some(prev.dvs))
          else (false, added, committed, addedStats,
            None) // delta append: absent = inherit dv state
        }
      // column mapping is a table property: appends carry it forward;
      // an overwrite re-establishes identity (every file is fresh)
      val outMap =
        if (mode == "overwrite" || cur == 0) Map.empty[String, String]
        else prevM.map(_.colMap).getOrElse(Map.empty)
      if (publish(path, Manifest(v, mode, full, files, outDdl,
        prevTxns ++ txn, stats = stats, partitionCols = pcols,
        constraints = prevConstraints, colMap = outMap, dvs = outDvs)))
        return Some(v)
      attempt += 1 // lost the race: re-resolve on top of the winner
    }
    sys.error(s"versioned: gave up after $attempt contended commits at $path")
  }

  /** ALTER TABLE … ADD COLUMNS (round 13): publish a METADATA-ONLY
    * commit (op `metadata`, zero files) whose DDL appends the new
    * columns as nullable — the SQL face of the additive evolution
    * `mergeSchema` appends and `WITH SCHEMA EVOLUTION` merges already
    * perform (the reference's open params/properties schema,
    * atoms.py:218–236). Existing files read back with the new columns
    * null-filled (parquet fills absent columns — NESTED fields too,
    * round 15: a struct field absent from an old file's group reads
    * null); time travel keeps each version under its own DDL, so
    * pre-ALTER versions still read WITHOUT the columns (the v5 law
    * through DDL). `parent` (round 15, VERDICT r14 #4) appends the
    * fields to that dotted STRUCT path instead of the top level — the
    * §1.2 nested-provenance evolution. Duplicate names are loud
    * errors. Concurrency: the publish retries like any append; a
    * concurrent COW op that read the pre-ALTER schema aborts against
    * this commit (schema changed), as it must. */
  def addColumns(path: String, colsDdl: String,
      parent: String = ""): Int = {
    val newCols = StructType.fromDDL(colsDdl)
    require(newCols.nonEmpty, s"versioned: ADD COLUMNS needs columns")
    var attempt = 0
    while (attempt < 64) {
      val vs = versions(path)
      require(vs.nonEmpty,
        s"versioned: no committed versions under $path — create the " +
          "table before altering it")
      val cur = vs.max
      val snap = snapshot(path, Some(cur))
      val prevS = StructType.fromDDL(snap.schemaDdl)
      val headM = parseManifest(manifestPath(path, cur))
      // canonical parent segments (loud on missing / non-struct)
      val parentSegs: Seq[String] =
        if (parent.isEmpty) Nil
        else {
          val (segs, leaf) = resolvePath(prevS, parent, path)
          require(leaf.dataType.isInstanceOf[StructType],
            s"versioned: ADD COLUMNS parent $parent is " +
              s"${leaf.dataType}, not a struct, at $path")
          segs
        }
      val target =
        if (parentSegs.isEmpty) prevS
        else parentSegs.foldLeft(prevS)((s, n) =>
          s(n).dataType.asInstanceOf[StructType])
      newCols.fields.foreach(f => require(
        !target.fieldNames.exists(_.equalsIgnoreCase(f.name)),
        s"versioned: column ${f.name} already exists " +
          (if (parentSegs.isEmpty) s"at $path"
           else s"in ${parentSegs.mkString(".")} at $path")))
      val outDdl = rebuildStruct(prevS, parentSegs, p =>
        StructType(p.fields ++ newCols.fields.map(_.copy(nullable = true))))
        .toDDL
      // a new logical path whose PHYSICAL path is already taken by a
      // dropped (or renamed-away) column must mint a fresh physical
      // name, or old files would resurrect the retired bytes (r14;
      // r15 extends the check to dotted physical paths)
      val taken = headM.colMap.values.toSet
      val physParent =
        if (parentSegs.isEmpty) ""
        else physPathOf(headM.colMap, parentSegs.mkString(".")) + "."
      val minted = newCols.fields.collect {
        case f if taken.contains(s"$physParent${f.name}") =>
          (parentSegs :+ f.name).mkString(".") ->
            s"$physParent${f.name}__p${cur + 1}"
      }.toMap
      if (publishMetadata(path, cur, outDdl, snap.partitionCols,
        headM.txns, headM.constraints, headM.colMap ++ minted))
        return cur + 1
      attempt += 1
    }
    sys.error(s"versioned: gave up altering $path after $attempt attempts")
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t` (round 14, VERDICT r13
    * #6): a METADATA-ONLY commit whose DDL carries the column at the
    * WIDER type — allowed strictly along the safe [[widened]] lattice
    * (byte<short<int<long, float<double; Delta's type-widening
    * feature). Existing files keep their narrower physical type and
    * read back promoted at scan time; NARROWING (or any other type
    * change) is a loud error naming the lattice. Time travel keeps
    * per-version DDL, so pre-widening versions still read narrow.
    * Partition columns widen like any other (the manifest's point
    * stats are LongStat either way). */
  def alterColumnType(path: String, colName: String,
      newTypeDdl: String): Int = {
    val newType = StructType.fromDDL(s"`c` $newTypeDdl").head.dataType
    var attempt = 0
    while (attempt < 64) {
      val vs = versions(path)
      require(vs.nonEmpty,
        s"versioned: no committed versions under $path — create the " +
          "table before altering it")
      val cur = vs.max
      val snap = snapshot(path, Some(cur))
      val prevS = StructType.fromDDL(snap.schemaDdl)
      val f = prevS.fields.find(_.name.equalsIgnoreCase(colName))
        .getOrElse(throw new IllegalArgumentException(
          s"versioned: no column $colName at $path (have " +
            s"${prevS.fieldNames.mkString(", ")})"))
      require(widened(f.dataType, newType).contains(newType) &&
        f.dataType != newType,
        s"versioned: ALTER COLUMN ${f.name} ${f.dataType.sql} -> " +
          s"${newType.sql} at $path is not a widening (only " +
          "byte<short<int<long and float<double widen)")
      val outDdl = StructType(prevS.fields.map(p =>
        if (p.name == f.name) p.copy(dataType = newType) else p)).toDDL
      val headM = parseManifest(manifestPath(path, cur))
      if (publishMetadata(path, cur, outDdl, snap.partitionCols,
        headM.txns, headM.constraints, headM.colMap))
        return cur + 1
      attempt += 1
    }
    sys.error(s"versioned: gave up altering $path after $attempt attempts")
  }

  /** Attribute names a constraint expression references (walked from
    * the parsed Column tree; Opaque subtrees contribute nothing, so
    * the caller must treat an empty answer as "unknown" only for
    * exotic expressions — the constraint surface here is simple
    * boolean SQL). */
  private def constraintRefs(exprSql: String): Set[String] = {
    import org.apache.spark.sql.graftx.ColumnExpr
    def walk(n: ColumnExpr.Node): Set[String] = n match {
      case ColumnExpr.Fn(_, args) => args.flatMap(walk).toSet
      case a: ColumnExpr.Attr => Set(a.name.toLowerCase)
      case _ => Set.empty
    }
    walk(ColumnExpr.nodeOfSql(exprSql))
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new` (round 14, VERDICT r13
    * #3; Delta's column-mapping discipline, the reference analog:
    * `_conform_atoms`'s rename projection,
    * database/__init__.py:1107–1157): a METADATA-ONLY commit whose
    * DDL carries the new LOGICAL name while the column keeps its
    * stable PHYSICAL name — zero files rewritten, old versions still
    * read under their own names via time travel. Loud errors:
    * unknown/duplicate names, partition columns (their names are
    * baked into file paths), and columns referenced by a CHECK
    * constraint (drop the constraint first — Delta's rule). */
  /** `oldName` may be a DOTTED PATH into struct columns (round 15,
    * VERDICT r14 #4 — nested column mapping): `renameColumn(t,
    * "prov.source", "origin")` renames the struct FIELD metadata-only
    * over its stable physical name, exactly like a top-level rename.
    * `newName` is always the new LEAF name. Child mapping keys under
    * a renamed struct re-prefix to the new logical path (their
    * physical-path values are stable and stay). */
  def renameColumn(path: String, oldName: String, newName: String): Int = {
    require(newName.nonEmpty && !newName.contains('.') &&
      !newName.startsWith("__graft_"),
      s"versioned: invalid target column name '$newName'")
    var attempt = 0
    while (attempt < 64) {
      val vs = versions(path)
      require(vs.nonEmpty,
        s"versioned: no committed versions under $path — create the " +
          "table before altering it")
      val cur = vs.max
      val snap = snapshot(path, Some(cur))
      val prevS = StructType.fromDDL(snap.schemaDdl)
      val (segs, f) = resolvePath(prevS, oldName, path)
      val oldPath = segs.mkString(".")
      val parentSegs = segs.init
      val parentStruct =
        if (parentSegs.isEmpty) prevS
        else parentSegs.foldLeft(prevS)((s, n) =>
          s(n).dataType.asInstanceOf[StructType])
      require(!parentStruct.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"versioned: column $newName already exists " +
          (if (parentSegs.isEmpty) s"at $path"
           else s"in ${parentSegs.mkString(".")} at $path"))
      require(!(parentSegs.isEmpty &&
        snap.partitionCols.exists(_.equalsIgnoreCase(f.name))),
        s"versioned: cannot rename partition column ${f.name} at " +
          s"$path — partition names are baked into file paths; " +
          "re-layout via an overwrite instead")
      val headM = parseManifest(manifestPath(path, cur))
      headM.constraints.foreach { case (n, e) =>
        // conservative for nested: a constraint referencing the TOP
        // column may reach into the renamed field
        require(!constraintRefs(e).contains(segs.head.toLowerCase),
          s"versioned: cannot rename $oldPath at $path — CHECK " +
            s"constraint $n ($e) references ${segs.head}; drop the " +
            "constraint first")
      }
      val outS = rebuildStruct(prevS, parentSegs, p =>
        StructType(p.fields.map(x =>
          if (x.name == f.name) x.copy(name = newName) else x)))
      val newPath = (parentSegs :+ newName).mkString(".")
      // the new logical path takes over the OLD stable physical path
      val phys = physPathOf(headM.colMap, oldPath)
      val childPrefix = oldPath + "."
      val outMap = headM.colMap.view.filterKeys(_ != oldPath).map {
        case (k, v) if k.startsWith(childPrefix) =>
          (newPath + "." + k.stripPrefix(childPrefix)) -> v
        case kv => kv
      }.toMap ++
        (if (phys == newPath) Map.empty[String, String]
        else Map(newPath -> phys))
      if (publishMetadata(path, cur, outS.toDDL, snap.partitionCols,
        headM.txns, headM.constraints, outMap))
        return cur + 1
      attempt += 1
    }
    sys.error(s"versioned: gave up altering $path after $attempt attempts")
  }

  /** `ALTER TABLE … DROP COLUMN c` (round 14): a METADATA-ONLY
    * commit without the column — the data files keep its bytes
    * (unread once unmapped; vacuum of rewritten files reclaims them
    * over time), and the physical name is TOMBSTONED so a later ADD
    * COLUMNS of the same logical name mints a fresh physical name
    * instead of resurrecting old values. Loud errors: unknown names,
    * the last column, partition columns, and columns referenced by a
    * CHECK constraint. */
  /** `colName` may be a DOTTED PATH (round 15): dropping a struct
    * FIELD is metadata-only too — the bytes stay in old files,
    * unmapped, and the field's PHYSICAL PATH is tombstoned so a
    * re-add under the same parent mints fresh. A struct must keep at
    * least one field (parquet has no empty groups). */
  def dropColumn(path: String, colName: String): Int = {
    var attempt = 0
    while (attempt < 64) {
      val vs = versions(path)
      require(vs.nonEmpty,
        s"versioned: no committed versions under $path — create the " +
          "table before altering it")
      val cur = vs.max
      val snap = snapshot(path, Some(cur))
      val prevS = StructType.fromDDL(snap.schemaDdl)
      val (segs, f) = resolvePath(prevS, colName, path)
      val oldPath = segs.mkString(".")
      val parentSegs = segs.init
      val parentStruct =
        if (parentSegs.isEmpty) prevS
        else parentSegs.foldLeft(prevS)((s, n) =>
          s(n).dataType.asInstanceOf[StructType])
      require(parentStruct.fields.length > 1,
        if (parentSegs.isEmpty)
          s"versioned: cannot drop the last column ${f.name} at $path"
        else s"versioned: cannot drop the last field of struct " +
          s"${parentSegs.mkString(".")} at $path")
      require(!(parentSegs.isEmpty &&
        snap.partitionCols.exists(_.equalsIgnoreCase(f.name))),
        s"versioned: cannot drop partition column ${f.name} at $path " +
          "— re-layout via an overwrite instead")
      val headM = parseManifest(manifestPath(path, cur))
      headM.constraints.foreach { case (n, e) =>
        require(!constraintRefs(e).contains(segs.head.toLowerCase),
          s"versioned: cannot drop $oldPath at $path — CHECK " +
            s"constraint $n ($e) references ${segs.head}; drop the " +
            "constraint first")
      }
      val outDdl = rebuildStruct(prevS, parentSegs, p =>
        StructType(p.fields.filterNot(_.name == f.name))).toDDL
      val phys = physPathOf(headM.colMap, oldPath)
      val childPrefix = oldPath + "."
      val outMap = headM.colMap.view
        .filterKeys(k => k != oldPath && !k.startsWith(childPrefix))
        .toMap + (s"$RetiredKeyPrefix${cur + 1}" -> phys)
      if (publishMetadata(path, cur, outDdl, snap.partitionCols,
        headM.txns, headM.constraints, outMap))
        return cur + 1
      attempt += 1
    }
    sys.error(s"versioned: gave up altering $path after $attempt attempts")
  }

  /** Publish a METADATA-ONLY commit (schema/constraint change, zero
    * row effect) as version `cur + 1`. On a CHECKPOINT boundary
    * (v % CheckpointInterval == 0) the commit publishes FULL —
    * carrying the live file set forward like an append checkpoint
    * would — so a run of consecutive metadata commits can never
    * stretch snapshot replay past CheckpointInterval (the
    * O(checkpoint)-reads law holds for EVERY commit mix, not just
    * append-heavy histories; SnapshotReplaySpec pins it). */
  private def publishMetadata(path: String, cur: Int, outDdl: String,
      pcols: Seq[String], txns: Map[String, Long],
      constraints: Map[String, String],
      colMap: Map[String, String]): Boolean = {
    val v = cur + 1
    if (v % CheckpointInterval == 0) {
      val snap = snapshot(path, Some(cur))
      publish(path, Manifest(v, "metadata", full = true, snap.files,
        outDdl, txns, stats = snap.stats, partitionCols = pcols,
        constraints = constraints, colMap = colMap,
        dvs = Some(snap.dvs))) // checkpoint = replay base: explicit
    } else
      publish(path, Manifest(v, "metadata", full = false, Nil, outDdl,
        txns, partitionCols = pcols, constraints = constraints,
        colMap = colMap))
  }

  /** The table's CHECK constraints (name → boolean SQL expression),
    * from the latest manifest. Constraints are a TABLE PROPERTY: they
    * carry forward through every commit kind (append, COW, metadata,
    * restore) until dropped. */
  def constraintsOf(path: String): Map[String, String] = {
    val vs = versions(path)
    if (vs.isEmpty) Map.empty
    else parseManifest(manifestPath(path, vs.max)).constraints
  }

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)` (round 13,
    * Delta's constraint shape): validates that EVERY existing row
    * satisfies `exprSql` (one scan; violations are a loud error with
    * the count — Delta refuses the same way), then publishes a
    * metadata-only commit carrying the new constraint. From then on
    * every write door — library commits, DSv2 batch/streaming writes,
    * merges, updates — validates its fresh files against the set
    * before publishing (the shared [[enforceOnFiles]] seam); a NULL
    * evaluation PASSES (the SQL-standard CHECK rule). */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String): Int = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'),
      s"versioned: constraint name must be [A-Za-z0-9_]+, got '$name'")
    var attempt = 0
    while (attempt < 64) {
      val vs = versions(path)
      require(vs.nonEmpty,
        s"versioned: no committed versions under $path — create the " +
          "table before constraining it")
      val cur = vs.max
      val headM = parseManifest(manifestPath(path, cur))
      require(!headM.constraints.keys.exists(_.equalsIgnoreCase(name)),
        s"versioned: constraint $name already exists at $path")
      // existing rows must conform BEFORE the constraint can exist
      enforceOnDf(read(spark, path, Some(cur)), Map(name -> exprSql),
        path, s"ADD CONSTRAINT $name")
      if (publishMetadata(path, cur, headM.schemaDdl,
        headM.partitionCols, headM.txns,
        headM.constraints + (name -> exprSql), headM.colMap))
        return cur + 1
      attempt += 1
    }
    sys.error(s"versioned: gave up constraining $path after $attempt " +
      "attempts")
  }

  /** `ALTER TABLE … DROP CONSTRAINT name` — metadata-only commit
    * without it; unknown names are a loud error. */
  def dropConstraint(path: String, name: String): Int = {
    var attempt = 0
    while (attempt < 64) {
      val vs = versions(path)
      require(vs.nonEmpty, s"versioned: no committed versions at $path")
      val cur = vs.max
      val headM = parseManifest(manifestPath(path, cur))
      val key = headM.constraints.keys
        .find(_.equalsIgnoreCase(name)).getOrElse(
          throw new IllegalArgumentException(
            s"versioned: no constraint named $name at $path (have " +
              s"${headM.constraints.keys.mkString(", ")})"))
      if (publishMetadata(path, cur, headM.schemaDdl,
        headM.partitionCols, headM.txns, headM.constraints - key,
        headM.colMap))
        return cur + 1
      attempt += 1
    }
    sys.error(s"versioned: gave up dropping $name at $path")
  }

  /** DESCRIBE DETAIL (round 13, Delta's statement of the same name):
    * one row of table-level facts — format, location, schema DDL,
    * partition columns, latest version, live file count, created /
    * last-modified instants, and total committed versions. O(log)
    * driver-side reads. */
  def describeDetail(spark: SparkSession, path: String): DataFrame = {
    val vs = versions(path)
    require(vs.nonEmpty, s"versioned: no committed versions under $path")
    val snap = snapshot(path)
    val row = Row("graftv", norm(path), snap.schemaDdl,
      snap.partitionCols.mkString(","), snap.version,
      snap.files.size, commitTimestamp(path, vs.min),
      commitTimestamp(path, vs.max), vs.size,
      constraintsOf(path).toSeq.sortBy(_._1)
        .map { case (n, e) => s"$n CHECK ($e)" }.mkString("; "))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1),
      StructType.fromDDL(
        "format STRING, location STRING, schema_ddl STRING, " +
          "partition_columns STRING, version INT, num_files INT, " +
          "created_ts_ms BIGINT, last_modified_ts_ms BIGINT, " +
          "num_versions INT, constraints STRING"))
  }

  /** Non-destructive rollback (Delta RESTORE): commit a checkpoint
    * whose live set is `toVersion`'s. History is preserved. */
  def restore(path: String, toVersion: Int): Int = {
    val snap = snapshot(path, Some(toVersion))
    var attempt = 0
    while (attempt < 64) {
      val cur = versions(path).max
      val v = cur + 1
      // txns AND constraints roll FORWARD across a restore (the data
      // rolls back; the exactly-once ledger must not — a replayed
      // batch is still dup — and constraints are a table property,
      // not table state)
      val headM = parseManifest(manifestPath(path, cur))
      // The restored rows may PREDATE a constraint added after
      // toVersion — re-validate the whole restored snapshot against
      // the carried set (round 14, ADVICE; the addConstraint
      // discipline: a constraint in the manifest must HOLD over the
      // live set it describes). Loud error → drop the constraint
      // first, then restore. Cost: one column-pruned agg over the
      // snapshot's constrained columns, paid only when constraints
      // exist on an explicit admin op.
      enforceOnFiles(path, snap.files, snap.schemaDdl, headM.constraints,
        s"RESTORE to v$toVersion", snap.colMap)
      if (publish(path, Manifest(v, "restore", full = true, snap.files,
        snap.schemaDdl, headM.txns, stats = snap.stats,
        partitionCols = snap.partitionCols,
        constraints = headM.constraints,
        colMap = snap.colMap, dvs = Some(snap.dvs)))) return v
      attempt += 1
    }
    sys.error(s"versioned: gave up restoring $path to v$toVersion")
  }

  // ------------------------------------------------- merge (upsert)

  private def isAscii(s: String): Boolean = s.forall(c => c < 0x7f)

  /** Truncate a string MIN endpoint: any prefix is ≤ the original in
    * byte order, so a plain cut is a valid lower bound. */
  private def truncMin(s: String): String = s.take(StrStatMaxLen)

  /** Truncate a string MAX endpoint to a still-valid inclusive upper
    * bound: cut to [[StrStatMaxLen]] and bump the last kept char — any
    * string with the kept prefix is strictly below the bumped form.
    * ASCII endpoints only (enforced by the caller), so the bump stays
    * single-byte. None when unbumpable (cannot happen for ASCII < 0x7f
    * but kept total). */
  private def truncMax(s: String): Option[String] =
    if (s.length <= StrStatMaxLen) Some(s)
    else {
      val cut = s.substring(0, StrStatMaxLen)
      val last = cut.last
      if (last < 0x7e) Some(cut.init + (last + 1).toChar) else None
    }

  /** Per-file [[ColStat]] of every recordable top-level column, from
    * parquet FOOTERS — no data scan, O(files) metadata reads. Called
    * ONCE per commit on the just-written (local, page-hot) files and
    * persisted in the manifest (the Delta log-stats discipline), so
    * later merges prune from the log alone; also the fallback for
    * files committed by pre-stats manifests.
    *
    * Recorded: INT64/INT32 physical columns as [[LongStat]]; STRING
    * (BINARY+UTF8) columns with pure-ASCII endpoints as [[StrStat]]
    * (truncated, see [[truncMax]]); provably all-null columns as
    * [[NullStat]]. Anything uncertain — missing block stats, non-ASCII
    * endpoints, other types — records NOTHING for that column, and an
    * absent column is never skipped (see [[ColStat]]). */
  private def fileStatsOf(spark: SparkSession, path: String,
      files: Seq[String]): FileStats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$path/$f"), conf)
      val reader = ParquetFileReader.open(in)
      try {
        // per column: Some(stat) accumulated so far, or None = poisoned
        // (some block unknown → the column must never be recorded)
        val acc = scala.collection.mutable.Map[String, Option[ColStat]]()
        reader.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { col =>
            val name = col.getPath.toDotString
            if (!name.contains('.')) { // top-level only
              val st: org.apache.parquet.column.statistics.Statistics[_] =
                col.getStatistics
              val blockStat: Option[ColStat] =
                if (st == null || st.isEmpty) None
                else if (!st.hasNonNullValue) {
                  // no non-null values in this block: provably all-null
                  // only if the null count covers every row
                  if (st.isNumNullsSet && st.getNumNulls == b.getRowCount)
                    Some(NullStat)
                  else None
                } else st.genericGetMin match {
                  case n: java.lang.Long => Some(LongStat(n.longValue,
                    st.genericGetMax.asInstanceOf[java.lang.Long].longValue))
                  case n: java.lang.Integer => Some(LongStat(n.longValue,
                    st.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
                  case bin: org.apache.parquet.io.api.Binary
                      if col.getPrimitiveType.getLogicalTypeAnnotation ==
                        LogicalTypeAnnotation.stringType() =>
                    val lo = bin.toStringUsingUTF8
                    val hi = st.genericGetMax
                      .asInstanceOf[org.apache.parquet.io.api.Binary]
                      .toStringUsingUTF8
                    if (isAscii(lo) && isAscii(hi))
                      truncMax(hi).map(h => StrStat(truncMin(lo), h))
                    else None // byte-order vs UTF-16 order diverge: skip
                  case _ => None // unrecorded type
                }
              val merged: Option[ColStat] =
                if (!acc.contains(name)) blockStat
                else (acc(name), blockStat) match {
                  case (Some(NullStat), s) => s
                  case (s, Some(NullStat)) => s
                  case (Some(LongStat(a, b2)), Some(LongStat(c, d))) =>
                    Some(LongStat(math.min(a, c), math.max(b2, d)))
                  case (Some(StrStat(a, b2)), Some(StrStat(c, d))) =>
                    Some(StrStat(if (a <= c) a else c, if (b2 >= d) b2 else d))
                  case _ => None // unknown/mismatched block: poison
                }
              acc(name) = merged
            }
          }
        }
        val cols = acc.toSeq.collect { case (c, Some(s)) => c -> s }.toMap
        // size/row-count pseudo-stats (round 16): zero extra I/O —
        // the footer is already open and the length is the input's
        val pseudo = Seq(
          SizeStatKey -> (LongStat(in.getLength, in.getLength): ColStat),
          RowsStatKey -> (LongStat(reader.getRecordCount,
            reader.getRecordCount): ColStat))
          .filterNot { case (k, _) => cols.contains(k) }
        f -> (cols ++ pseudo)
      } finally reader.close()
    }.toMap
  }

  /** Per-file [[ColStat]] map for `keys`: from the SNAPSHOT's manifest
    * stats when present (zero I/O), footer reads only for files
    * committed by pre-stats manifests. A key absent from a file's map
    * means "nothing known" — the caller must treat the file as
    * possibly matching (conservative; only an explicit [[NullStat]]
    * proves the file holds no matchable key). */
  private def fileKeyStats(spark: SparkSession, path: String,
      snap: Snapshot): Seq[(String, Map[String, ColStat])] = {
    val (known, unknown) = snap.files.partition(snap.stats.contains)
    known.map(f => f -> snap.stats(f)) ++
      fileStatsOf(spark, path, unknown).toSeq
  }

  /** Does a file whose recorded stat for a key column is `stat`
    * possibly contain a key inside the source's [lo, hi] bound?
    * Absent/shape-mismatched stats → yes (conservative); [[NullStat]]
    * → no (key equality is a non-null comparison). String compares
    * are Java order — sound because [[StrStat]] endpoints are
    * ASCII-only by construction and non-ASCII BOUNDS are widened by
    * the caller. */
  private def statIntersects(stat: Option[ColStat],
      bound: ColStat): Boolean = (stat, bound) match {
    case (None, _) => true
    case (Some(NullStat), _) => false
    case (Some(LongStat(flo, fhi)), LongStat(lo, hi)) =>
      fhi >= lo && flo <= hi
    case (Some(StrStat(flo, fhi)), StrStat(lo, hi)) =>
      fhi >= lo && flo <= hi
    case _ => true // mismatched shapes never prune
  }

  /** MERGE clause surface (Delta's whenMatched/whenNotMatched, scoped
    * to schema-identical upserts). Matched-clause `condition`s may
    * reference BOTH sides by qualifier — `col("target.v") <
    * col("source.v")` is the upsert-if-newer CDC pattern — or just
    * the source row (unqualified columns resolve against the SOURCE;
    * qualify both sides whenever target columns appear). Not-matched
    * conditions are over the source row alone (there is no target
    * row, Delta's rule). A matched target row no clause fires on is
    * left UNCHANGED.
    *
    * Round 12: clause CHAINS (`mergeClauses`) with Delta's
    * first-match-wins rule — per matched pair the first clause whose
    * condition holds applies, every clause but the last must carry a
    * condition — and partial-column `UPDATE SET` / `INSERT (cols)`
    * via the `set` map (target column → expression over the
    * `target.`/`source.`-qualified pair; unset update columns keep
    * the TARGET value, unset insert columns are NULL).
    *
    * Clause conditions and SET expressions must be DETERMINISTIC
    * (they are evaluated once per set-algebra join, Delta's own
    * rule); the SOURCE relation may be nondeterministic — it is
    * materialized once up front (see [[mergeClauses]]). */
  sealed trait WhenMatched
  object WhenMatched {
    /** Replace each matched target row by its source row — or, with a
      * non-empty `set`, by the target row with only the named columns
      * replaced by their expressions (UPDATE SET) — when the
      * condition holds.
      *
      * DUPLICATE-KEY targets (a degenerate state only plain appends
      * can create — the table's own merges never do): BOTH forms
      * rewrite EACH matched target copy (whole-row replaces every
      * copy with the source row; a SET update's `target.…` reads see
      * each copy's own values), preserving row count — Delta's
      * semantics (round 13; previously the whole-row form collapsed
      * the copies into one row). Deduplicate (d1-family) before
      * merging if you want copies collapsed. */
    final case class Update(condition: Option[Column] = None,
        set: Map[String, Column] = Map.empty)
      extends WhenMatched
    /** Delete each matched target row (when the condition holds) —
      * the tombstone-feed shape. */
    final case class Delete(condition: Option[Column] = None)
      extends WhenMatched
    /** Matched rows are left untouched (insert-only merge). */
    case object Ignore extends WhenMatched
  }
  sealed trait WhenNotMatched
  object WhenNotMatched {
    /** Insert each unmatched source row — or, with a non-empty `set`,
      * a row with the named columns set and every other column NULL
      * (INSERT (cols) VALUES …) — when the source-row condition
      * holds. */
    final case class Insert(condition: Option[Column] = None,
        set: Map[String, Column] = Map.empty)
      extends WhenNotMatched
    /** Unmatched source rows are dropped (update-only merge). */
    case object Ignore extends WhenNotMatched
  }

  /** Key column types a MERGE accepts: orderable, footer-stat-able,
    * hash-equality-clean. (Float/double keys are rejected — equality
    * on floats is a data bug waiting to happen.) */
  private val MergeKeyTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(LongType, IntegerType, ShortType, ByteType, StringType)
  }

  /** MERGE (upsert) on a single key — the pre-r11 surface, kept as
    * the common case: update-all on match, insert-all otherwise. */
  def merge(updates: DataFrame, path: String, key: String): Int =
    merge(updates, path, Seq(key))

  /** MERGE on a COMPOSITE key with ONE whenMatched + ONE
    * whenNotMatched clause — the round-11 surface, now sugar over
    * [[mergeClauses]] (`Ignore` is the empty chain). */
  def merge(updates: DataFrame, path: String, keys: Seq[String],
      whenMatched: WhenMatched = WhenMatched.Update(),
      whenNotMatched: WhenNotMatched = WhenNotMatched.Insert()): Int =
    mergeClauses(updates, path, keys,
      whenMatched match {
        case WhenMatched.Ignore => Nil
        case c => Seq(c)
      },
      whenNotMatched match {
        case WhenNotMatched.Ignore => Nil
        case c => Seq(c)
      })

  /** MERGE on a COMPOSITE key with Delta-style clause CHAINS (round
    * 12; round 11 introduced the composite/string-key single-clause
    * form — the reference's own row identity is a uuid4 STRING,
    * atoms.py:193). Key columns may be any mix of [[MergeKeyTypes]]
    * (integrals and strings). Per matched (target, source) pair the
    * FIRST matched clause whose condition holds applies (Delta's
    * rule; clauses after the first unconditional one would be dead,
    * so every clause but the last must carry a condition); unmatched
    * source rows take the first firing notMatched clause the same
    * way. The CDC composite — upsert-if-newer AND tombstone-delete
    * in ONE merge — is
    * `Seq(Delete(Some(src("tombstone"))), Update(Some(newer)))`.
    *
    * SINGLE-EVALUATION SOURCE (round 12): `updates` is materialized
    * once (localCheckpoint) before the duplicate-key precondition, so
    * the precondition, the matched/inserted set algebra, and the data
    * write all see the SAME rows even for a nondeterministic source
    * (a rand()-salted feed, input files changing mid-merge) — Delta's
    * source-materialization discipline.
    *
    * File-granular copy-on-write: only files whose recorded stats
    * ([[ColStat]] — numeric ranges, ASCII string ranges, explicit
    * all-null markers) can intersect the source's per-key bounds are
    * rewritten; every other live file carries into the new snapshot
    * BY REFERENCE — the Delta COW discipline, so a 100 TB table pays
    * for the files it touches, not its size. Matched detection
    * against the touched files alone is COMPLETE because pruning is
    * conservative (a file is only skipped when its stats PROVE no
    * source key can be present). The rewrite keeps the touched set's
    * file granularity, but an insert-heavy merge scales its output
    * file count with the SOURCE volume
    * (`spark.graft.versioned.targetFileRows`, default 2²⁰) instead of
    * serializing a bulk insert through `touched.size` tasks (round
    * 12; the r11 coalesce was a single-writer bottleneck on
    * bulk-insert merges into small tables).
    *
    * Publishes with conflict RESOLUTION (round 11, upgraded from
    * detection): an interloping APPEND whose added files are provably
    * key-disjoint from the source bounds (per its manifest stats) is
    * REBASED over — its files join the new snapshot untouched, the
    * Delta disjoint-file-set retry. Any other interloper (overwrite /
    * restore / another COW op, a same-key append, an append without
    * stats, a concurrent schema change) still aborts loudly and the
    * caller retries the whole merge. */
  def mergeClauses(updates: DataFrame, path: String, keys: Seq[String],
      matched: Seq[WhenMatched], notMatched: Seq[WhenNotMatched],
      notMatchedBySource: Seq[WhenMatched] = Nil,
      mergeSchema: Boolean = false): Int = {
    val spark = updates.sparkSession
    require(keys.nonEmpty, "versioned: merge needs at least one key column")
    require(!matched.contains(WhenMatched.Ignore) &&
      !notMatched.contains(WhenNotMatched.Ignore) &&
      !notMatchedBySource.contains(WhenMatched.Ignore),
      "versioned: Ignore is the EMPTY clause chain — pass Nil, not " +
        "Seq(Ignore)")
    // WHEN NOT MATCHED BY SOURCE (round 12, Delta's third clause
    // family): applies to TARGET rows with no source match. There is
    // no source row, so conditions and SET expressions are over the
    // target row alone (plain column references), and an Update must
    // say WHAT to set (no whole-source-row to copy). Its footprint is
    // every unmatched target row — the WHOLE table — so the merge
    // reads all files and its publish cannot rebase over ANY
    // interloping append (appended rows would themselves be
    // not-matched-by-source).
    notMatchedBySource.foreach {
      case WhenMatched.Update(_, set) => require(set.nonEmpty,
        "versioned: a notMatchedBySource Update needs an explicit SET " +
          "map (there is no source row to copy)")
      case _ => ()
    }
    def mCondOf(c: WhenMatched): Option[Column] = c match {
      case WhenMatched.Update(cc, _) => cc
      case WhenMatched.Delete(cc) => cc
      case WhenMatched.Ignore => None
    }
    matched.dropRight(1).zipWithIndex.foreach { case (c, i) =>
      require(mCondOf(c).nonEmpty,
        s"versioned: matched clause ${i + 1} of ${matched.size} has no " +
          "condition — only the LAST clause in a chain may be " +
          "unconditional (everything after it would be dead)")
    }
    notMatched.dropRight(1).zipWithIndex.foreach {
      case (WhenNotMatched.Insert(cc, _), i) =>
        require(cc.nonEmpty,
          s"versioned: notMatched clause ${i + 1} of ${notMatched.size} " +
            "has no condition — only the LAST clause in a chain may be " +
            "unconditional")
      case _ => ()
    }
    notMatchedBySource.dropRight(1).zipWithIndex.foreach { case (c, i) =>
      require(mCondOf(c).nonEmpty,
        s"versioned: notMatchedBySource clause ${i + 1} of " +
          s"${notMatchedBySource.size} has no condition — only the LAST " +
          "clause in a chain may be unconditional")
    }
    val base = snapshot(path)
    val srcDdl =
      asNullableSchema(updates.schema).toDDL
    // SCHEMA EVOLUTION (round 12, Delta's WITH SCHEMA EVOLUTION):
    // with mergeSchema, source-only columns join the table as
    // nullable (table columns keep position and type) — untouched
    // files read back null-filled under the merged DDL, the rewrite
    // and the CDF carry the evolved schema, and time travel sees each
    // version under its own DDL. The source must still carry EVERY
    // table column (union compatibility; a narrower source is a
    // schema mismatch, evolution only WIDENS).
    val mergedDdl =
      if (base.schemaDdl == srcDdl) base.schemaDdl
      else if (!mergeSchema)
        throw new IllegalArgumentException(
          s"versioned: merge schema mismatch at $path:\n  table: " +
            s"${base.schemaDdl}\n  updates: $srcDdl (pass mergeSchema = " +
            "true for additive evolution)")
      else {
        val tblCols = StructType.fromDDL(base.schemaDdl).fieldNames
        val missing = tblCols.filterNot(updates.schema.fieldNames.contains)
        require(missing.isEmpty,
          s"versioned: merge source is missing table column(s) " +
            s"${missing.mkString(", ")} at $path — evolution only " +
            "ADDS columns, the source must carry every table column")
        mergeDdl(base.schemaDdl, srcDdl, path, "merge schema evolution")
      }
    keys.foreach { k =>
      require(MergeKeyTypes.contains(updates.schema(k).dataType),
        s"versioned: merge key $k has unsupported type " +
          s"${updates.schema(k).dataType} at $path (integral and string " +
          "key columns only)")
    }
    val schema = StructType.fromDDL(mergedDdl)
    val tableCols: Seq[String] = schema.fields.map(_.name).toSeq
    ((matched ++ notMatchedBySource)
      .collect { case WhenMatched.Update(_, s) => s } ++
      notMatched.collect { case WhenNotMatched.Insert(_, s) => s })
      .foreach(_.keys.foreach(k => require(tableCols.contains(k),
        s"versioned: SET column $k is not a table column at $path " +
          s"(table: ${tableCols.mkString(", ")})")))
    // SINGLE EVALUATION: pin the source rows before anything reads
    // them — the class doc's discipline. localCheckpoint (not cache)
    // so the plan TRUNCATES: downstream joins re-reading the source
    // cannot recompute a nondeterministic lineage. LAZY (round 17):
    // the eager pin was a separate full pass per merge; the lazy pin
    // materializes inside the precondition aggregate's job (block
    // locks make the first computation the only one, so the
    // single-evaluation guarantee is unchanged) and every later
    // consumer reads the pinned blocks.
    val src = updates.localCheckpoint(false)
    // ONE pass over the materialized source: per-key bounds for file
    // pruning, plus two Delta-MERGE preconditions checked BEFORE any
    // file write — (a) no null keys (a null key matches nothing and
    // silently becomes a permanent insert-only row), and (b) unique
    // source keys (with duplicates every copy of a matched table key
    // is anti-joined away and ALL duplicates insert, multiplying rows
    // nondeterministically; Delta errors on multiple source matches
    // per target row).
    val aggCols = keys.flatMap(k => Seq(min(col(k)), max(col(k)))) ++ Seq(
      count(lit(1)),
      count(when(keys.map(col(_).isNull).reduce(_ || _), lit(1))),
      count_distinct(col(keys.head), keys.tail.map(col): _*))
    val r = src.agg(aggCols.head, aggCols.tail: _*).head()
    val nTotal = r.getLong(2 * keys.size)
    // empty source: a pure matched/insert merge is a no-op; with
    // notMatchedBySource clauses EVERY target row is unmatched and the
    // clauses still apply (Delta's semantics)
    if (nTotal == 0 && notMatchedBySource.isEmpty) return base.version
    val nNullKey = r.getLong(2 * keys.size + 1)
    require(nNullKey == 0,
      s"versioned: merge source has $nNullKey null-key rows at $path — " +
        s"MERGE keys (${keys.mkString(", ")}) must be non-null")
    val nDistinct = r.getLong(2 * keys.size + 2)
    require(nTotal == nDistinct,
      s"versioned: merge source has duplicate (${keys.mkString(", ")}) " +
        s"values ($nTotal rows, $nDistinct distinct keys) at $path — " +
        "MERGE requires at most one update row per key")
    // per-key source bounds as ColStat; a key with unusable bounds
    // (non-ASCII string endpoints) simply never prunes or proves
    // disjointness
    val bounds: Map[String, ColStat] =
      if (nTotal == 0) Map.empty // empty NMBS-only source: no bounds
      else keys.zipWithIndex.flatMap {
        case (k, i) => src.schema(k).dataType match {
          case org.apache.spark.sql.types.StringType =>
            val (lo, hi) = (r.getString(2 * i), r.getString(2 * i + 1))
            if (isAscii(lo) && isAscii(hi)) Some(k -> StrStat(lo, hi))
            else None
          case _ =>
            def asLong(a: Any): Long = a match {
              case l: Long => l; case x: Int => x.toLong
              case s: Short => s.toLong; case b: Byte => b.toLong
              case other => sys.error(s"versioned: merge key bound $other")
            }
            Some(k ->
              LongStat(asLong(r.get(2 * i)), asLong(r.get(2 * i + 1))))
        }
      }.toMap
    val ranges = fileKeyStats(spark, path, base)
    // notMatchedBySource touches every unmatched target row — which
    // can live in ANY file — so pruning is off and every file rewrites
    val (rangedT, untouchedT) =
      if (notMatchedBySource.nonEmpty) (ranges, Nil)
      else ranges.partition { case (_, st) =>
        bounds.forall { case (k, b) => statIntersects(st.get(base.physOf(k)), b) }
      }
    // bloom tier (round 16): a SMALL source (the CDC-upsert regime,
    // ≤ MergeKeyCap distinct key tuples) probes candidate sidecars
    // with its exact key sets — the pruning min/max can't give on
    // uuid-like keys. Collected only when a candidate actually has a
    // sidecar; per-column membership is a NECESSARY condition for a
    // match, so skipped files carry by reference exactly like
    // range-disjoint ones.
    val bloomKeys: Map[String, Seq[Any]] =
      if (notMatchedBySource.nonEmpty || nTotal == 0 ||
        nTotal > BloomFilters.MergeKeyCap ||
        !rangedT.exists(r => java.nio.file.Files.exists(
          java.nio.file.Paths.get(norm(path),
            BloomFilters.sidecarRel(r._1))))) Map.empty
      else {
        val rows = src.select(keys.map(col(_)): _*).distinct().collect()
        keys.zipWithIndex.map { case (k, i) =>
          k -> rows.map(_.get(i)).toSeq.distinct
        }.toMap
      }
    val bloomKeep = bloomPrune(spark, path, base, rangedT.map(_._1),
      bloomKeys).toSet
    val (touched, bloomSkipped) = rangedT.partition(r => bloomKeep(r._1))
    val untouched = untouchedT ++ bloomSkipped
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    val existing =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else // files carry ALL columns (Iceberg discipline — partition
        // values are duplicated into the paths, never dropped from
        // the rows), under PHYSICAL names (column mapping, round 14)
        readFiles(spark, path, touched.map(_._1), mergedDdl, base.colMap,
          base.dvs)
    val keyCols = keys.map(col)
    def condOf(c: Option[Column]): Column = c.getOrElse(lit(true))
    val none = src.limit(0)
    val existingKeys = existing.select(keyCols: _*)
    /** ONE pair join for the whole matched side (round 16). The old
      * shape ran a join per clause per consumer — k firedMatchedKeys
      * joins, k exclusion anti-joins, a pair join per update clause,
      * a semi join per preimage, and the kept anti-join — each a full
      * pass over the touched files (~2k+4 passes for a k-clause
      * merge, and a broadcast-build job per join). Now: (1) `claims`
      * evaluates EVERY clause condition in one inner pair join and
      * reduces to the key-level first-match-wins winner; (2) `paired`
      * is one left-outer join of the touched rows against the source
      * and the (source-bounded) claims table, from which the change
      * set, the kept rows and the NMBS chain all project. Two passes
      * over touched bytes per action instead of ~2k+4.
      *
      * First-match-wins is KEY-level (source keys are unique): clause
      * i claims key k iff SOME (target-copy, source) pair of k fires
      * cond_i and no earlier clause fires on any pair of k. Per-pair
      * `rowFirst` = first clause that pair fires; min over the key's
      * pairs = first clause ANY pair fires — exactly the old
      * firedExcl semantics (duplicate-key target copies all follow
      * the key's winning clause, round-13 discipline). */
    val pairCond = keys.map(k =>
      col(s"target.$k") === col(s"source.$k")).reduce(_ && _)
    // bare attribute refs in a matched condition resolved against the
    // SOURCE side (the old single-sided firedMatchedKeys contract);
    // target.x / source.x qualified refs pass through
    val rowFirst = matched.zipWithIndex.foldRight(lit(-1)) {
      case ((c, i), acc) => when(condOf(mCondOf(c).map(
        org.apache.spark.sql.graftx.ColumnExpr.qualifyBare(_, "source"))),
        lit(i)).otherwise(acc)
    }
    val Claim = "__graft_claim"
    val claims: DataFrame =
      if (matched.isEmpty)
        none.select(keyCols: _*).withColumn(Claim, lit(-1))
      else existing.alias("target").join(src.alias("source"), pairCond)
        .select(keys.map(k => col(s"source.$k").as(k))
          :+ rowFirst.as("__graft_rf"): _*)
        .where(col("__graft_rf") >= 0)
        .groupBy(keyCols: _*)
        .agg(min(col("__graft_rf")).as(Claim))
    val claimsR = claims.select(
      keys.map(k => col(k).as(s"__graft_ck_$k")) :+ col(Claim): _*)
    val SrcP = "__graft_src_present"
    /** Touched rows × their matched source row × the key's claim:
      * matched rows carry [[SrcP]] = 1; rows of unclaimed keys (and
      * unmatched target rows) carry a null [[Claim]]. */
    val paired = existing.alias("target")
      .join(src.withColumn(SrcP, lit(1)).alias("source"), pairCond,
        "left_outer")
      .join(claimsR, keys.map(k =>
        col(s"target.$k") === col(s"__graft_ck_$k")).reduce(_ && _),
        "left_outer")
    /** Post-image projection of an update clause: the whole source
      * row when `set` is empty, else the TARGET row with the set
      * columns replaced. BOTH forms rewrite EACH matched target copy
      * (round 13, ADVICE r12: the whole-row form previously
      * semi-joined the source, which COLLAPSED duplicate-key target
      * copies into one output row — Delta updates every matched copy
      * and preserves row count, and the CDF preimage/postimage counts
      * must agree). Every output column is CAST to its table type
      * (round 13, ADVICE r12 high: an uncast `SET v = v / 2` on a
      * BIGINT column published DOUBLE-typed parquet under a manifest
      * DDL still saying BIGINT — every later `spark.read.schema` of
      * the live version failed with a parquet type-convert error
      * until RESTORE; Delta applies store-assignment casts at exactly
      * this seam). */
    def postProj(set: Map[String, Column]): Seq[Column] = tableCols.map { c =>
      val e =
        if (set.isEmpty) col(s"source.$c")
        else set.getOrElse(c, col(s"target.$c"))
      e.cast(schema(c).dataType).as(c)
    }
    val preProj: Seq[Column] = tableCols.map(c =>
      col(s"target.$c").cast(schema(c).dataType).as(c))
    val CT = "_change_type"
    def ev(proj: Seq[Column], ct: String): Column =
      struct(proj :+ lit(ct).as(CT): _*)
    /** Matched-side change rows in ONE pass over [[paired]]: each
      * claimed row emits its pre-image (and, for update clauses, its
      * post-image) through an array-explode — no per-clause join, no
      * second evaluation for the post-image. */
    val matchedChanges: DataFrame = {
      val branches: Seq[(Column, Column)] = matched.zipWithIndex.collect {
        case (WhenMatched.Update(_, set), i) =>
          (col(Claim) === i, array(ev(preProj, "update_preimage"),
            ev(postProj(set), "update_postimage")))
        case (WhenMatched.Delete(_), i) =>
          (col(Claim) === i, array(ev(preProj, "delete")))
      }
      if (branches.isEmpty) none.withColumn(CT, lit("insert")).limit(0)
      else {
        val emit = branches.tail.foldLeft(
          when(branches.head._1, branches.head._2)) {
          case (acc, (c, v)) => acc.when(c, v)
        } // no otherwise: a claim-less row yields null, explode drops it
        paired.where(col(Claim).isNotNull)
          .select(explode(emit).as("__graft_e"))
          .select(col("__graft_e.*"))
      }
    }
    /** Target rows no matched clause claimed, projected back to table
      * columns — the old `keptFired` (matched-but-unclaimed rows AND
      * source-unmatched rows), read off [[paired]] instead of a
      * separate anti-join pass. Carries [[SrcP]] for the NMBS split. */
    val keptFired = paired.where(col(Claim).isNull)
      .select(tableCols.map(c => col(s"target.$c").as(c)) :+ col(SrcP): _*)
    // notMatchedBySource chain: over target rows with NO source match
    // (conditions/SETs are target-row-local → ONE projection); rows no
    // clause claims stay unchanged
    val NmbsIdx = "__graft_nmbs_clause"
    val (keptExisting, nmbsUpdateOuts, nmbsPre):
        (DataFrame, Map[Int, DataFrame], Int => DataFrame) =
      if (notMatchedBySource.isEmpty)
        (keptFired.drop(SrcP), Map.empty, _ => none)
      else {
        val matchedKept = keptFired.where(col(SrcP) === 1).drop(SrcP)
        val unmatchedTgt = keptFired.where(col(SrcP).isNull).drop(SrcP)
        val idxCol = notMatchedBySource.zipWithIndex.foldRight(lit(-1)) {
          case ((c, i), acc) => when(condOf(mCondOf(c)), lit(i))
            .otherwise(acc)
        }
        val withIdx = unmatchedTgt.withColumn(NmbsIdx, idxCol)
        def claimed(i: Int): DataFrame =
          withIdx.where(col(NmbsIdx) === i).drop(NmbsIdx)
        val outs: Map[Int, DataFrame] =
          notMatchedBySource.zipWithIndex.collect {
            case (WhenMatched.Update(_, set), i) =>
              // cast to the table type — the updateOut discipline
              i -> claimed(i).select(tableCols.map(c =>
                set.getOrElse(c, col(c)).cast(schema(c).dataType)
                  .as(c)): _*)
          }.toMap
        val unchanged = withIdx.where(col(NmbsIdx) === -1).drop(NmbsIdx)
        // outs (the NMBS post-images) are NOT unioned here any more:
        // they are change-set rows, which the pinned changeSet below
        // evaluates once and the data write reads back by tag
        val kept = Seq(matchedKept, unchanged).reduce(_.unionByName(_))
        (kept, outs, claimed _)
      }
    // notMatched chain: conditions are source-row-local, so the
    // first-match-wins index is ONE projection over the unmatched
    // source rows — no per-clause join
    val unmatchedSrc = src.alias("source")
      .join(existingKeys, keys, "left_anti")
    val nmIdxCol = notMatched.zipWithIndex.foldRight(lit(-1)) {
      case ((WhenNotMatched.Insert(c, _), i), acc) =>
        when(condOf(c), lit(i)).otherwise(acc)
      case ((WhenNotMatched.Ignore, _), acc) => acc
    }
    val NmIdx = "__graft_nm_clause"
    val unmatchedIdx = unmatchedSrc.withColumn(NmIdx, nmIdxCol)
    val insertOuts: Seq[DataFrame] = notMatched.zipWithIndex.collect {
      case (WhenNotMatched.Insert(_, set), i) =>
        val rows = unmatchedIdx.where(col(NmIdx) === i).drop(NmIdx)
        if (set.isEmpty) rows
        else rows.select(tableCols.map(c =>
          set.get(c).map(_.cast(schema(c).dataType).as(c))
            .getOrElse(lit(null).cast(schema(c).dataType).as(c))): _*)
    }
    val insertedRows = insertOuts.reduceOption(_.unionByName(_))
      .getOrElse(none)
    // the rewrite keeps the TOUCHED set's file granularity (without
    // the coalesce the union inherits the join's shuffle partitioning
    // and a 1-file rewrite lands as shuffle-partition-many small
    // files — measured: 1 touched file re-emerged as 17), but the
    // output file count also scales with the SOURCE volume so a
    // bulk-insert merge into a small table is not serialized through
    // one writer task (round 12). coalesce never INCREASES partition
    // count, so a small union still lands compactly.
    val targetFileRows = spark.conf
      .getOption("spark.graft.versioned.targetFileRows")
      .map(_.toLong).getOrElse(1L << 20)
    val outFiles = math.max(math.max(1, touched.size),
      math.min(4096L, (nTotal + targetFileRows - 1) / targetFileRows).toInt)
    // row-level CDF: this commit's change set — update clauses emit
    // pre/post images, delete clauses emit deletes, inserts emit
    // inserts. Touched files are COMPLETE for matched detection (see
    // the class doc). Evaluated ONCE (round 16): the CDF write
    // previously re-executed every pair/semi join and RE-READ the
    // touched files a second full time after the data rewrite — at
    // scale that is a whole extra pass over the touched bytes per
    // merge, and at bench scale it was ~6 redundant broadcast-build
    // jobs per commit. The change set is source-bounded (≤ matched +
    // inserted rows, never kept rows), so an eager localCheckpoint
    // pins it cheaply; the data write reads the post-images/inserts
    // back out of the pin by tag and the CDF write persists the pin
    // as-is. Like the data files, the change parquet is invisible
    // until the manifest publishes.
    val chgPieces: Seq[DataFrame] = matchedChanges +:
      (notMatchedBySource.zipWithIndex.map {
        case (WhenMatched.Update(_, _), i) =>
          nmbsPre(i).withColumn(CT, lit("update_preimage"))
            .unionByName(nmbsUpdateOuts(i)
              .withColumn(CT, lit("update_postimage")))
        case (WhenMatched.Delete(_), i) =>
          nmbsPre(i).withColumn(CT, lit("delete"))
        case (WhenMatched.Ignore, _) =>
          none.withColumn(CT, lit("insert"))
      } :+ insertedRows.withColumn(CT, lit("insert")))
    // lazy (round 17): materializes inside the data write's job — the
    // write's filter still persists WHOLE partitions of the change
    // set, so the CDF write below reads complete pinned blocks
    val changeSet = chgPieces.reduce(_.unionByName(_))
      .localCheckpoint(false)
    writeData(keptExisting
      .unionByName(changeSet.where(col("_change_type")
        .isin("update_postimage", "insert")).drop("_change_type"))
      .coalesce(outFiles), s"$path/$dataRel",
      base.partitionCols, base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    val files = untouched.map(_._1) ++ added
    val mergedStats = base.stats.view
      .filterKeys(untouched.map(_._1).toSet).toMap ++
      statsForFiles(spark, path, added, base.partitionCols, schema, base.colMap)
    val changeRel = writeChanges(changeSet, path, commitId, base.colMap)
    // a notMatchedBySource merge's footprint is the whole table —
    // empty bounds prove nothing, so ANY interloping append aborts
    publishCow(path, "merge", base, files, mergedStats,
      changes = Some(changeRel),
      sourceBounds =
        if (notMatchedBySource.nonEmpty) Some(Map.empty) else Some(bounds),
      ddl = Some(mergedDdl))
  }

  /** Publish a COW commit (merge/optimize) with conflict RESOLUTION:
    * interloping APPEND commits that are provably disjoint from the
    * op's read-and-rewrite footprint are rebased over (their added
    * files join the new snapshot untouched); everything else aborts
    * with [[java.util.ConcurrentModificationException]].
    *
    * Disjointness proof per interloping append: `sourceBounds = None`
    * (a pure layout op — OPTIMIZE — whose rows are carried verbatim)
    * accepts ANY append; otherwise every file the append added must
    * have a manifest stat proving NO source key can be present
    * ([[statIntersects]] false on at least one bound key). An append
    * without usable stats, a concurrent schema change, or any
    * non-append op aborts — the caller retries the whole operation. */
  /** Test seam: invoked ONCE per COW op, after its files are written
    * but before the log head is resolved for publish — lets specs
    * inject a deterministic concurrent commit into the conflict
    * window. Self-clearing. */
  private[graft] var beforeCowPublish: () => Unit = () => ()

  /** Test hook mirroring [[beforeCowPublish]] for the APPEND seam:
    * fires once between data-file staging and manifest publish —
    * the exact window a concurrent vacuum (or second writer) can
    * interleave into. Self-clearing. */
  private[graft] var beforeAppendPublish: () => Unit = () => ()

  /** `dvUpdates` (round 15, deletion vectors): NEW data-file → DV
    * sidecar entries this op created (a DV delete/update). The
    * published dv map is `base.dvs` restricted to files that SURVIVE
    * in the out set (a rewritten or dropped file takes its mask with
    * it) plus these updates; rebased interloping appends carry no
    * DVs by construction. */
  private def publishCow(path: String, op: String, base: Snapshot,
      files: Seq[String], stats: FileStats, changes: Option[Seq[String]],
      sourceBounds: Option[Map[String, ColStat]],
      ddl: Option[String] = None,
      dvUpdates: Map[String, String] = Map.empty): Int = {
    // the published DDL: base's, unless the op evolved it (schema-
    // evolution merge). Interloping-append compatibility is still
    // judged against the BASE schema — that is what the op read, and
    // old-schema files read back null-filled under the evolved DDL.
    val outDdl = ddl.getOrElse(base.schemaDdl)
    val hook = beforeCowPublish
    beforeCowPublish = () => ()
    hook()
    // same vacuum-race guard as the append seam, on the FRESH subset
    // only: carried-by-reference base files are protected by the
    // retained manifests (vacuum keeps them), so stat-ing them would
    // be O(live files) per commit for nothing — only this op's
    // still-unreferenced rewrites and CDC files are reclaimable by an
    // undershooting concurrent vacuum. After the test hook, which
    // simulates exactly this write-to-publish interloper window.
    requireStaged(path,
      files.filterNot(base.files.toSet) ++ changes.getOrElse(Nil) ++
        dvUpdates.values.filterNot(base.dvs.values.toSet), op)
    // CHECK constraints gate the FRESH rewrite files (one validation
    // scan; kept-by-reference files conformed when they were written).
    // The base version's constraint set IS the publish-time set: a
    // concurrent ADD/DROP CONSTRAINT is a metadata commit, and any
    // non-append interloper aborts this COW below.
    val cowConstraints =
      parseManifest(manifestPath(path, base.version)).constraints
    enforceOnFiles(path, files.filterNot(base.files.toSet), outDdl,
      cowConstraints, op, base.colMap)
    var seen = base.version
    var extraFiles = Vector.empty[String]
    var extraStats: FileStats = Map.empty
    var attempt = 0
    while (attempt < 64) {
      val cur = versions(path).max
      if (cur != seen) {
        versions(path).filter(v => v > seen && v <= cur).foreach { v =>
          val m = parseManifest(manifestPath(path, v))
          def conflict(why: String): Nothing =
            throw new java.util.ConcurrentModificationException(
              s"versioned: $op at $path read v${base.version} but a " +
                s"concurrent '${m.op}' commit landed at v$v ($why); " +
                s"retry the $op")
          if (m.op != "append") conflict("only appends can be rebased over")
          if (m.schemaDdl != base.schemaDdl) conflict("schema changed")
          val addedF =
            if (!m.full) m.files
            else m.files.filterNot(snapshot(path, Some(v - 1)).files.toSet)
          sourceBounds.foreach { bounds =>
            addedF.foreach { f =>
              val st = m.stats.getOrElse(f, Map.empty)
              val mayOverlap = bounds.isEmpty ||
                bounds.forall { case (k, b) => statIntersects(st.get(base.physOf(k)), b) }
              if (mayOverlap) conflict(
                s"appended file $f cannot be proven key-disjoint from " +
                  "the source")
            }
          }
          extraFiles = extraFiles ++ addedF
          extraStats = extraStats ++
            m.stats.view.filterKeys(addedF.toSet).toMap
        }
        seen = cur
      }
      val headM = parseManifest(manifestPath(path, cur))
      val outDvs = base.dvs.view
        .filterKeys((files ++ extraFiles).toSet).toMap ++ dvUpdates
      if (publish(path, Manifest(cur + 1, op, full = true,
        files ++ extraFiles, outDdl, headM.txns, changes = changes,
        stats = stats ++ extraStats,
        partitionCols = base.partitionCols,
        constraints = headM.constraints, colMap = headM.colMap,
        dvs = Some(outDvs))))
        return cur + 1
      attempt += 1 // lost the publish race: re-examine the new head
    }
    sys.error(s"versioned: $op gave up after $attempt contended commits " +
      s"at $path")
  }

  private def writeChanges(chg: DataFrame, path: String,
      commitId: String, colMap: Map[String, String] = Map.empty)
      : Seq[String] = {
    val rel = s"_changes/c-$commitId"
    // change files carry PHYSICAL data-column names like data files;
    // the _change_type marker is outside the mapping (identity)
    toPhysical(chg, colMap).write.mode("errorifexists")
      .parquet(s"$path/$rel")
    listParquet(Paths.get(norm(path), "_changes", s"c-$commitId"))
      .map(f => s"$rel/$f")
  }

  /** Conjunctive NECESSARY per-column bounds of a predicate tree: any
    * row satisfying the predicate must have each bounded column
    * inside its range. Used to SKIP files whose stats are disjoint
    * from a bound (they can hold no matching row). Conservative by
    * construction — unanalyzable shapes contribute nothing, `Or`
    * widens, non-ASCII string literals never bound. */
  private def predBounds(e: org.apache.spark.sql.graftx.ColumnExpr.Node)
      : Map[String, ColStat] = {
    import org.apache.spark.sql.graftx.ColumnExpr._
    def nameOf(x: Node): Option[String] = x match {
      case a: Attr => Some(a.name)
      case _ => None
    }
    def longOf(l: Any): Option[Long] = l match {
      case v: Long => Some(v); case v: Int => Some(v.toLong)
      case v: Short => Some(v.toLong); case v: Byte => Some(v.toLong)
      case _ => None
    }
    def strOf(l: Any): Option[String] = l match {
      case u: org.apache.spark.unsafe.types.UTF8String =>
        val s = u.toString; if (isAscii(s)) Some(s) else None
      case s: String if isAscii(s) => Some(s)
      case _ => None
    }
    val StrTop = "￿" * 8 // above any ASCII-ranged file stat
    def stat(lo: Option[Long], hi: Option[Long], slo: Option[String],
        shi: Option[String]): Option[ColStat] =
      if (lo.isDefined || hi.isDefined)
        Some(LongStat(lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue)))
      else if (slo.isDefined || shi.isDefined)
        Some(StrStat(slo.getOrElse(""), shi.getOrElse(StrTop)))
      else None
    def one(col: Option[String], s: Option[ColStat]): Map[String, ColStat] =
      (for (c <- col; v <- s) yield Map(c -> v)).getOrElse(Map.empty)
    def intersect(a: Map[String, ColStat], b: Map[String, ColStat]) =
      (a.keySet ++ b.keySet).flatMap { c =>
        ((a.get(c), b.get(c)) match {
          case (Some(LongStat(l1, h1)), Some(LongStat(l2, h2))) =>
            Some(LongStat(math.max(l1, l2), math.min(h1, h2)))
          case (Some(StrStat(l1, h1)), Some(StrStat(l2, h2))) =>
            Some(StrStat(if (l1 >= l2) l1 else l2, if (h1 <= h2) h1 else h2))
          case (x, y) => x.orElse(y)
        }).map(c -> _)
      }.toMap
    def union(a: Map[String, ColStat], b: Map[String, ColStat]) =
      a.keySet.intersect(b.keySet).flatMap { c =>
        ((a(c), b(c)) match {
          case (LongStat(l1, h1), LongStat(l2, h2)) =>
            Some(LongStat(math.min(l1, l2), math.max(h1, h2)))
          case (StrStat(l1, h1), StrStat(l2, h2)) =>
            Some(StrStat(if (l1 <= l2) l1 else l2, if (h1 >= h2) h1 else h2))
          case _ => None
        }).map(c -> _)
      }.toMap
    def cmp(a: Node, v: Any, op: String): Map[String, ColStat] = op match {
      case "=" | "==" | "<=>" if strOf(v).isDefined || longOf(v).isDefined =>
        one(nameOf(a), stat(longOf(v), longOf(v), strOf(v), strOf(v)))
      case ">" => one(nameOf(a), stat(longOf(v).map(x =>
        if (x == Long.MaxValue) x else x + 1), None, strOf(v), None))
      case ">=" => one(nameOf(a), stat(longOf(v), None, strOf(v), None))
      case "<" => one(nameOf(a), stat(None, longOf(v).map(x =>
        if (x == Long.MinValue) x else x - 1), None, strOf(v)))
      case "<=" => one(nameOf(a), stat(None, longOf(v), None, strOf(v)))
      case _ => Map.empty
    }
    def flip(op: String): String = op match {
      case ">" => "<"; case ">=" => "<="
      case "<" => ">"; case "<=" => ">="; case other => other
    }
    e match {
      case Fn("and", Seq(l, r)) => intersect(predBounds(l), predBounds(r))
      case Fn("or", Seq(l, r)) => union(predBounds(l), predBounds(r))
      case Fn(op @ ("=" | "==" | "<=>" | ">" | ">=" | "<" | "<="),
          Seq(a @ Attr(_), Lit(v))) => cmp(a, v, op)
      case Fn(op @ ("=" | "==" | "<=>" | ">" | ">=" | "<" | "<="),
          Seq(Lit(v), a @ Attr(_))) => cmp(a, v, flip(op))
      case Fn("in", (a @ Attr(_)) +: vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Lit]) =>
        val lits = vs.map(_.asInstanceOf[Lit].value)
        val ls = lits.flatMap(longOf)
        val ss = lits.flatMap(strOf)
        if (ls.size == lits.size)
          one(nameOf(a), Some(LongStat(ls.min, ls.max)))
        else if (ss.size == lits.size)
          one(nameOf(a), Some(StrStat(ss.min, ss.max)))
        else Map.empty
      case _ => Map.empty // unanalyzable: no necessary bound
    }
  }

  /** FINITE key sets a predicate forces per column — the bloom tier's
    * input, where [[predBounds]] is the range tier's: a returned
    * `col -> values` entry means every matching row has `col` IN
    * `values` (a NECESSARY condition, like the bounds). Equality and
    * all-literal IN produce sets; AND merges (same column:
    * intersect); OR keeps a column only when BOTH sides bound it
    * (union) — `k = 1 OR other = 2` bounds neither. Anything else
    * contributes nothing, so callers fall back to range pruning. */
  private def pointKeySets(e: org.apache.spark.sql.graftx.ColumnExpr.Node)
      : Map[String, Seq[Any]] = {
    import org.apache.spark.sql.graftx.ColumnExpr._
    def norm(v: Any): Option[Any] = v match {
      case l: Long => Some(l); case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong); case b: Byte => Some(b.toLong)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case s: String => Some(s)
      case _ => None
    }
    // TOP-LEVEL attrs only: a nested `a.b` would alias its leaf name
    // onto an unrelated top-level bloom column — wrong skipping
    def ofEq(a: Node, v: Any): Map[String, Seq[Any]] = (a, norm(v)) match {
      case (at: Attr, Some(nv)) if at.parts.size == 1 =>
        Map(at.name -> Seq(nv))
      case _ => Map.empty
    }
    e match {
      case Fn("and", Seq(l, r)) =>
        val (a, b) = (pointKeySets(l), pointKeySets(r))
        (a.keySet ++ b.keySet).map { c =>
          c -> ((a.get(c), b.get(c)) match {
            case (Some(x), Some(y)) => x.intersect(y)
            case (x, y) => x.orElse(y).get
          })
        }.toMap
      case Fn("or", Seq(l, r)) =>
        val (a, b) = (pointKeySets(l), pointKeySets(r))
        a.keySet.intersect(b.keySet)
          .map(c => c -> (a(c) ++ b(c)).distinct).toMap
      case Fn("=" | "==" | "<=>", Seq(a @ Attr(_), Lit(v))) => ofEq(a, v)
      case Fn("=" | "==" | "<=>", Seq(Lit(v), a @ Attr(_))) => ofEq(a, v)
      case Fn("in", (a @ Attr(parts)) +: vs)
          if parts.size == 1 && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[Lit]) =>
        val lits = vs.map(v => norm(v.asInstanceOf[Lit].value))
        if (lits.forall(_.isDefined)) Map(a.name -> lits.map(_.get))
        else Map.empty
      case _ => Map.empty
    }
  }

  /** Bloom-tier file skipping (round 16, see [[BloomFilters]]):
    * shrink `candidates` to the files whose sidecars may contain the
    * predicate's finite key sets, translated to physical names. A
    * no-sidecar file, a non-finite predicate, or an empty key-set map
    * keeps everything — the tier only ever REMOVES provably-clean
    * files on top of the range tier's verdict. */
  private def bloomPrune(spark: SparkSession, path: String,
      base: Snapshot, candidates: Seq[String],
      keySets: Map[String, Seq[Any]]): Seq[String] = {
    if (keySets.isEmpty || candidates.isEmpty) return candidates
    val phys = keySets.map { case (c, vs) => base.physOf(c) -> vs }
    val keep = BloomFilters.survivors(spark, norm(path), candidates, phys)
    candidates.filter(keep)
  }

  /** DELETE rows matching `pred`, file-granular copy-on-write (round
    * 11, the [[merge]] discipline applied to deletes): files whose
    * stats are DISJOINT from the predicate's necessary bounds
    * ([[predBounds]] — equality/range/IN shapes over stats-bearing
    * columns) provably hold no matching row and carry into the new
    * snapshot BY REFERENCE; only intersecting files rewrite.
    * Unanalyzable predicates keep the rewrite-what-you-scan behavior.
    *
    * SINGLE EVALUATION (round 12): the predicate is evaluated ONCE
    * per touched row and the verdict pinned via localCheckpoint, so
    * the kept-rows data write and the CDF delete write see the SAME
    * split — the r11 double-read (`live.where(!pred)` then
    * `live.where(pred)`) scanned the touched files twice and could
    * tear on a nondeterministic predicate. The checkpoint converts
    * two scans into one.
    *
    * Publishes with the same conflict RESOLUTION as [[mergeClauses]]
    * (round 12; r11 aborted on ANY interloper, so a steady append
    * stream starved deletes): an interloping APPEND whose added files
    * are provably disjoint from the predicate's necessary bounds —
    * their manifest stats prove no appended row can satisfy `pred` —
    * is REBASED over; an overlapping or stats-less append, any
    * non-append commit, or an unanalyzable predicate (empty bounds
    * prove nothing) still aborts loudly. */
  /** Selective overwrite (round 13, Delta's `replaceWhere`): in ONE
    * commit, delete every row matching `pred` and insert `df`'s rows
    * — the backfill idiom (replace one day/partition/key-range with
    * a recomputed slice, atomically). Delta's validation rule: every
    * inserted row must itself MATCH `pred` (a replaceWhere must not
    * smuggle rows outside its window) — violations are a loud error
    * before anything publishes. File-granular COW: only files whose
    * stats intersect the predicate's bounds rewrite (an unanalyzable
    * predicate conservatively touches every file); CDF records the
    * removed rows as `delete` and the new rows as `insert`; the
    * publish rebases over provably predicate-disjoint concurrent
    * appends (their rows could not have matched the window) and
    * aborts against anything else. The inserted schema must equal
    * the table's. */
  def replaceWhere(df: DataFrame, path: String,
      pred: org.apache.spark.sql.Column): Int = {
    val spark = df.sparkSession
    val base = snapshot(path)
    val schema = StructType.fromDDL(base.schemaDdl)
    val insDdl =
      asNullableSchema(df.schema).toDDL
    require(insDdl == base.schemaDdl,
      s"versioned: replaceWhere schema mismatch at $path:\n  table: " +
        s"${base.schemaDdl}\n  insert: $insDdl")
    // single evaluation of a possibly nondeterministic source (the
    // merge discipline), then Delta's window validation
    val ins = df.localCheckpoint()
    val smuggled = ins.where(!coalesce(pred, lit(false))).count()
    require(smuggled == 0L,
      s"versioned: replaceWhere at $path: $smuggled inserted row(s) " +
        s"do not match the replace predicate $pred — a selective " +
        "overwrite only writes inside its own window")
    val bounds = predBounds(
      org.apache.spark.sql.graftx.ColumnExpr.nodeOf(pred))
    val ranges = fileKeyStats(spark, path, base)
    val (touched, untouched) = ranges.partition { case (_, st) =>
      bounds.forall { case (c, b) => statIntersects(st.get(base.physOf(c)), b) }
    }
    val live =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else readFiles(spark, path, touched.map(_._1), base.schemaDdl,
        base.colMap, base.dvs)
    val RepFlag = "__graft_replace"
    val tagged = live.withColumn(RepFlag, pred).localCheckpoint()
    val kept = tagged
      .where(!col(RepFlag) || col(RepFlag).isNull).drop(RepFlag)
    val removed = tagged.where(col(RepFlag)).drop(RepFlag)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    // output files scale with the INSERT volume (the merge
    // discipline), floored at the touched set's granularity
    val targetFileRows = spark.conf
      .getOption("spark.graft.versioned.targetFileRows")
      .map(_.toLong).getOrElse(1L << 20)
    val nIns = ins.count()
    val outFiles = math.max(math.max(1, touched.size),
      math.min(4096L, (nIns + targetFileRows - 1) / targetFileRows).toInt)
    writeData(kept.unionByName(ins).coalesce(outFiles),
      s"$path/$dataRel", base.partitionCols, base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    val files = untouched.map(_._1) ++ added
    val newStats = base.stats.view
      .filterKeys(untouched.map(_._1).toSet).toMap ++
      statsForFiles(spark, path, added, base.partitionCols, schema, base.colMap)
    val changeRel = writeChanges(
      removed.withColumn("_change_type", lit("delete"))
        .unionByName(ins.withColumn("_change_type", lit("insert"))),
      path, commitId, base.colMap)
    publishCow(path, "replace", base, files, newStats,
      changes = Some(changeRel), sourceBounds = Some(bounds))
  }

  def deleteWhere(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column): Int = {
    val base = snapshot(path)
    val node = org.apache.spark.sql.graftx.ColumnExpr.nodeOf(pred)
    val bounds = predBounds(node)
    val ranges = fileKeyStats(spark, path, base)
    val (ranged, untouchedR) = ranges.partition { case (_, st) =>
      bounds.forall { case (c, b) => statIntersects(st.get(base.physOf(c)), b) }
    }
    // bloom tier on top of the range tier (round 16): an equality/IN
    // predicate on a high-cardinality key — where [min,max] prunes
    // nothing — shrinks to the files whose sidecars may hold the keys
    val bloomKeep = bloomPrune(spark, path, base, ranged.map(_._1),
      pointKeySets(node)).toSet
    val (touched, bloomSkipped) = ranged.partition(r => bloomKeep(r._1))
    val untouched = untouchedR ++ bloomSkipped
    if (dvEnabled(spark) && touched.nonEmpty)
      return dvDelete(spark, path, base, pred, bounds,
        touched.map(_._1), untouched.map(_._1))
    val schema = StructType.fromDDL(base.schemaDdl)
    val live =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else readFiles(spark, path, touched.map(_._1), base.schemaDdl,
        base.colMap, base.dvs)
    val DelFlag = "__graft_delete"
    // lazy pin (round 17): the eager pin was a separate full read of
    // the touched files; now the kept-rows write materializes (and
    // persists) the tagged scan in its own job and the CDF write
    // reads the pinned blocks
    val tagged = live.withColumn(DelFlag, pred).localCheckpoint(false)
    val kept = tagged
      .where(!col(DelFlag) || col(DelFlag).isNull).drop(DelFlag)
    val deleted = tagged.where(col(DelFlag)).drop(DelFlag)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    writeData(kept.coalesce(math.max(1, touched.size)),
      s"$path/$dataRel", base.partitionCols, base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    val files = untouched.map(_._1) ++ added
    val keptStats = base.stats.view
      .filterKeys(untouched.map(_._1).toSet).toMap ++
      statsForFiles(spark, path, added, base.partitionCols, schema, base.colMap)
    // row-level CDF: the deleted rows (complete from the touched
    // files alone — untouched files provably hold none), persisted
    // before publish
    val changeRel = writeChanges(
      deleted.withColumn("_change_type", lit("delete")),
      path, commitId, base.colMap)
    publishCow(path, "delete", base, files, keptStats,
      changes = Some(changeRel), sourceBounds = Some(bounds))
  }

  // ------------------------------- deletion vectors (round 15)

  /** DV mode gate: `spark.graft.dv.enabled` (default FALSE — the
    * Delta discipline gates DVs behind an explicit opt-in too, and
    * the COW path stays the no-config behavior). */
  private def dvEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.dv.enabled").exists(_.toBoolean)

  /** Per-file COW crossover: a file whose matched fraction reaches
    * this rewrites (COW) instead of carrying a DV — masking most of a
    * file pays the mask on every scan forever while the rewrite pays
    * once and shrinks the bytes; a file below it takes the O(matched
    * rows) sidecar. 0.0 forces COW everywhere, 1.0 DVs everything
    * short of a full-file delete (which always just DROPS the file —
    * cheaper than either). */
  private def dvRewriteFraction(spark: SparkSession): Double =
    spark.conf.getOption("spark.graft.dv.rewriteFraction")
      .map(_.toDouble).getOrElse(0.5)

  /** Merge-on-read DELETE: commit per-file sidecars of matched row
    * ordinals instead of rewriting file bytes. Write cost ∝ matched
    * ROWS (sidecars + CDF parquet + one manifest), never touched-file
    * bytes — the point-DML shape COW cannot give a 100 TB table.
    * Per-file triage from ONE localCheckpoint'd scan:
    *
    *  - zero matches → file carried by reference, DV state unchanged;
    *  - every live row matches → file DROPPED from the set (no
    *    sidecar, no rewrite — strictly cheaper than both);
    *  - matched fraction ≥ [[dvRewriteFraction]] → classic COW
    *    rewrite of the kept rows (the crossover);
    *  - else → sidecar with (existing ∪ new) ordinals.
    *
    * The scan reads ordinals RAW (`_metadata.row_index`) and
    * re-applies the existing mask as a filter, so ordinals are always
    * physical-file positions and an already-deleted row can never
    * re-match (or re-emit CDF). CDF rows persist as plain change
    * parquet like the COW path — the change FEED is identical either
    * way, only the data layout differs. Conflict detection, CHECK
    * enforcement (fresh rewrite files only — dropping rows cannot
    * violate a CHECK) and the vacuum-race guard ride [[publishCow]]
    * unchanged. */
  private def dvDelete(spark: SparkSession, path: String,
      base: Snapshot, pred: org.apache.spark.sql.Column,
      bounds: Map[String, ColStat], touched: Seq[String],
      untouched: Seq[String]): Int = {
    val schema = StructType.fromDDL(base.schemaDdl)
    val logical = asNullableSchema(schema)
    val physSchema = physicalSchema(logical, base.colMap)
    val absOf: Map[String, String] =
      touched.map(f => s"${norm(path)}/$f" -> f).toMap
    val priorDvs = base.dvs.view.filterKeys(touched.toSet).toMap
    val FileC = "__g_file"
    val PosC = "__g_pos"
    val DelFlag = "__graft_delete"
    val raw = spark.read.schema(physSchema)
      .parquet(touched.map(f => s"${norm(path)}/$f"): _*)
      .withColumn(FileC, col("_metadata.file_path"))
      .withColumn(PosC, col("_metadata.row_index"))
      .where(DeletionVectors.liveFilter(
        DeletionVectors.dvPathsOf(norm(path), priorDvs),
        strict = false)(col(FileC), col(PosC)))
    // physical → logical via the readFiles positional struct-cast
    // seam (round 16, ADVICE r15): a top-level `col(p).as(l)` alias
    // leaves nested physical names in place, so a predicate over a
    // renamed NESTED field would fail here where COW succeeds
    val tagged = raw.select(logical.fields.zip(physSchema.fields).map {
      case (lf, pf) => col(s"`${pf.name}`").cast(lf.dataType).as(lf.name)
    }.toIndexedSeq ++ Seq(col(FileC), col(PosC)): _*)
      .withColumn(DelFlag, coalesce(pred, lit(false)))
      .localCheckpoint() // evaluate a possibly nondeterministic pred ONCE
    val counts = tagged.groupBy(col(FileC))
      .agg(count(lit(1)).as("n"), sum(col(DelFlag).cast("long")).as("h"))
      .collect()
      .map(r => (DeletionVectors.normFilePath(r.getString(0)),
        r.getLong(1), r.getLong(2)))
    val frac = dvRewriteFraction(spark)
    var dropped = Vector.empty[String] // fully-dead: leave the set
    var cowRel = Vector.empty[String] // rewrite kept rows
    var dvRel = Vector.empty[String] // sidecar
    var zeroRel = Vector.empty[String] // carried, DV state unchanged
    counts.foreach { case (absFile, n, h) =>
      val rel = absOf(absFile)
      if (h == 0L) zeroRel :+= rel
      else if (h == n) dropped :+= rel
      else if (h.toDouble / n >= frac) cowRel :+= rel
      else dvRel :+= rel
    }
    // a pruned-in file ALL of whose rows were already DV-masked reads
    // zero rows — it never appears in `counts`; carry it untouched
    val counted = counts.map(c => absOf(c._1)).toSet
    zeroRel ++= touched.filterNot(counted)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    // sidecars: (existing ∪ new) ordinals per DV'd file, written FROM
    // TASKS (round 16) — the driver receives only the file→sidecar
    // rename map, O(DV'd files), never the matched ordinals
    val dvAbs = dvRel.map(r => s"${norm(path)}/$r").toSet
    val inDv = udf((f: String) =>
      dvAbs.contains(DeletionVectors.normFilePath(f)))
    val dvUpdates: Map[String, String] = DeletionVectors.writeSidecars(
      tagged.where(col(DelFlag) && inDv(col(FileC))), FileC, PosC,
      norm(path), dvRel, priorDvs, commitId)
    // COW leg: kept rows of crossover files only
    val cowAbsSet = cowRel.map(r => s"${norm(path)}/$r").toSet
    val keepCow = tagged.where(!col(DelFlag) &&
      udf((f: String) => cowAbsSet.contains(
        DeletionVectors.normFilePath(f))).apply(col(FileC)))
      .drop(FileC, PosC, DelFlag)
    val added: Seq[String] =
      if (cowRel.isEmpty) Nil
      else {
        val dataRel = s"data/c-$commitId"
        writeData(keepCow.coalesce(math.max(1, cowRel.size)),
          s"$path/$dataRel", base.partitionCols, base.colMap)
        listParquet(dataPath(path, commitId)).map(f => s"$dataRel/$f")
      }
    val files = untouched ++ zeroRel ++ dvRel ++ added
    val outStats = base.stats.view
      .filterKeys((untouched ++ zeroRel ++ dvRel).toSet).toMap ++
      statsForFiles(spark, path, added, base.partitionCols, schema, base.colMap)
    val changeRel = writeChanges(
      tagged.where(col(DelFlag)).drop(FileC, PosC, DelFlag)
        .withColumn("_change_type", lit("delete")),
      path, commitId, base.colMap)
    publishCow(path, "delete", base, files, outStats,
      changes = Some(changeRel), sourceBounds = Some(bounds),
      dvUpdates = dvUpdates)
  }

  /** Merge-on-read UPDATE (round 15): matched rows are DV-masked on
    * their origin files and their POSTIMAGES append as fresh files —
    * write cost ∝ matched rows (postimage parquet + sidecars + CDF),
    * never touched-file bytes. Per-file triage as [[dvDelete]]:
    * zero-hit files carry; fully-hit files leave the set (every row
    * reappears updated in the fresh write — no sidecar needed);
    * crossover files COW their kept rows into the same fresh write.
    * Postimage files are fresh appends, so CHECK constraints gate
    * them in [[publishCow]] exactly like a COW update's rewrites. */
  private def dvUpdate(spark: SparkSession, path: String,
      base: Snapshot, pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      bounds: Map[String, ColStat], touched: Seq[String],
      untouched: Seq[String]): Int = {
    val schema = StructType.fromDDL(base.schemaDdl)
    val tableCols: Seq[String] = schema.fields.map(_.name).toSeq
    val logical = asNullableSchema(schema)
    val physSchema = physicalSchema(logical, base.colMap)
    val absOf: Map[String, String] =
      touched.map(f => s"${norm(path)}/$f" -> f).toMap
    val priorDvs = base.dvs.view.filterKeys(touched.toSet).toMap
    val FileC = "__g_file"
    val PosC = "__g_pos"
    val UpdFlag = "__graft_update"
    val raw = spark.read.schema(physSchema)
      .parquet(touched.map(f => s"${norm(path)}/$f"): _*)
      .withColumn(FileC, col("_metadata.file_path"))
      .withColumn(PosC, col("_metadata.row_index"))
      .where(DeletionVectors.liveFilter(
        DeletionVectors.dvPathsOf(norm(path), priorDvs),
        strict = false)(col(FileC), col(PosC)))
    // readFiles positional struct-cast seam (round 16, ADVICE r15):
    // nested physical names alias back too, so SET/predicates over
    // renamed nested fields match the COW path
    val tagged = raw.select(logical.fields.zip(physSchema.fields).map {
      case (lf, pf) => col(s"`${pf.name}`").cast(lf.dataType).as(lf.name)
    }.toIndexedSeq ++ Seq(col(FileC), col(PosC)): _*)
      .withColumn(UpdFlag, coalesce(pred, lit(false)))
      .localCheckpoint()
    val counts = tagged.groupBy(col(FileC))
      .agg(count(lit(1)).as("n"), sum(col(UpdFlag).cast("long")).as("h"))
      .collect()
      .map(r => (DeletionVectors.normFilePath(r.getString(0)),
        r.getLong(1), r.getLong(2)))
    val frac = dvRewriteFraction(spark)
    var gone = Vector.empty[String] // fully-hit: leaves the set
    var cowRel = Vector.empty[String]
    var dvRel = Vector.empty[String]
    var zeroRel = Vector.empty[String]
    counts.foreach { case (absFile, n, h) =>
      val rel = absOf(absFile)
      if (h == 0L) zeroRel :+= rel
      else if (h == n) gone :+= rel
      else if (h.toDouble / n >= frac) cowRel :+= rel
      else dvRel :+= rel
    }
    val counted = counts.map(c => absOf(c._1)).toSet
    zeroRel ++= touched.filterNot(counted)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dvAbs = dvRel.map(r => s"${norm(path)}/$r").toSet
    val inDv = udf((f: String) =>
      dvAbs.contains(DeletionVectors.normFilePath(f)))
    // task-side sidecar writes (round 16): driver sees only the
    // file→sidecar rename map, O(DV'd files)
    val dvUpdates: Map[String, String] = DeletionVectors.writeSidecars(
      tagged.where(col(UpdFlag) && inDv(col(FileC))), FileC, PosC,
      norm(path), dvRel, priorDvs, commitId)
    val hit = tagged.where(col(UpdFlag)).drop(FileC, PosC, UpdFlag)
    // store-assignment casts, as the COW update path (ADVICE r12 high)
    val updated = hit.select(tableCols.map(c =>
      set.getOrElse(c, col(c)).cast(schema(c).dataType).as(c)): _*)
    val cowAbsSet = cowRel.map(r => s"${norm(path)}/$r").toSet
    val inCow = udf((f: String) =>
      cowAbsSet.contains(DeletionVectors.normFilePath(f)))
    val keepCow = tagged.where(!col(UpdFlag) && inCow(col(FileC)))
      .drop(FileC, PosC, UpdFlag)
    val dataRel = s"data/c-$commitId"
    writeData(keepCow.unionByName(updated)
      .coalesce(math.max(1, cowRel.size + gone.size)),
      s"$path/$dataRel", base.partitionCols, base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    val files = untouched ++ zeroRel ++ dvRel ++ added
    val outStats = base.stats.view
      .filterKeys((untouched ++ zeroRel ++ dvRel).toSet).toMap ++
      statsForFiles(spark, path, added, base.partitionCols, schema, base.colMap)
    val changeRel = writeChanges(
      hit.withColumn("_change_type", lit("update_preimage"))
        .unionByName(updated
          .withColumn("_change_type", lit("update_postimage"))),
      path, commitId, base.colMap)
    publishCow(path, "update", base, files, outStats,
      changes = Some(changeRel), sourceBounds = Some(bounds),
      dvUpdates = dvUpdates)
  }

  /** UPDATE rows matching `pred`, setting each `set` column to its
    * expression over the ROW (unset columns keep their values) —
    * SQL `UPDATE t SET c = expr WHERE pred` as the same file-granular
    * copy-on-write as [[deleteWhere]] (round 12): predicate-disjoint
    * files carry by reference, the predicate is evaluated ONCE per
    * touched row (checkpointed flag), the CDF records
    * update_preimage/update_postimage rows, and the publish rebases
    * over provably-disjoint interloping appends. Rows the update
    * CREATES (postimages) may leave the predicate's bounds — that is
    * fine: bounds gate which EXISTING rows can match, and the
    * rewritten files get fresh stats. */
  def updateWhere(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Int = {
    require(set.nonEmpty, s"versioned: updateWhere needs SET columns")
    val base = snapshot(path)
    val schema = StructType.fromDDL(base.schemaDdl)
    val tableCols: Seq[String] = schema.fields.map(_.name).toSeq
    set.keys.foreach(k => require(tableCols.contains(k),
      s"versioned: SET column $k is not a table column at $path " +
        s"(table: ${tableCols.mkString(", ")})"))
    val node = org.apache.spark.sql.graftx.ColumnExpr.nodeOf(pred)
    val bounds = predBounds(node)
    val ranges = fileKeyStats(spark, path, base)
    val (ranged, untouchedR) = ranges.partition { case (_, st) =>
      bounds.forall { case (c, b) => statIntersects(st.get(base.physOf(c)), b) }
    }
    // bloom tier (round 16) — the deleteWhere discipline
    val bloomKeep = bloomPrune(spark, path, base, ranged.map(_._1),
      pointKeySets(node)).toSet
    val (touched, bloomSkipped) = ranged.partition(r => bloomKeep(r._1))
    val untouched = untouchedR ++ bloomSkipped
    if (dvEnabled(spark) && touched.nonEmpty)
      return dvUpdate(spark, path, base, pred, set, bounds,
        touched.map(_._1), untouched.map(_._1))
    val live =
      if (touched.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else readFiles(spark, path, touched.map(_._1), base.schemaDdl,
        base.colMap, base.dvs)
    val UpdFlag = "__graft_update"
    // lazy pin (round 17) — the deleteWhere rationale
    val tagged = live.withColumn(UpdFlag, pred).localCheckpoint(false)
    val kept = tagged
      .where(!col(UpdFlag) || col(UpdFlag).isNull).drop(UpdFlag)
    val hit = tagged.where(col(UpdFlag)).drop(UpdFlag)
    // every output column casts to its table type (ADVICE r12 high:
    // `SET v = v / 2` on BIGINT otherwise publishes DOUBLE parquet
    // under a BIGINT manifest DDL — later reads fail until RESTORE)
    val updated = hit.select(tableCols.map(c =>
      set.getOrElse(c, col(c)).cast(schema(c).dataType).as(c)): _*)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    writeData(kept.unionByName(updated)
      .coalesce(math.max(1, touched.size)),
      s"$path/$dataRel", base.partitionCols, base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    val files = untouched.map(_._1) ++ added
    val newStats = base.stats.view
      .filterKeys(untouched.map(_._1).toSet).toMap ++
      statsForFiles(spark, path, added, base.partitionCols, schema, base.colMap)
    val changeRel = writeChanges(
      hit.withColumn("_change_type", lit("update_preimage"))
        .unionByName(updated
          .withColumn("_change_type", lit("update_postimage"))),
      path, commitId, base.colMap)
    publishCow(path, "update", base, files, newStats,
      changes = Some(changeRel), sourceBounds = Some(bounds))
  }

  /** OPTIMIZE: compact the live set into `numFiles` files — same
    * rows, new layout — as a new version. The small-files problem is
    * the chronic failure mode of streaming appends (every micro-batch
    * lands a file; a month of 1-minute batches is 43k files whose
    * footer/open cost dominates the scan); compaction is a pure log
    * operation for readers since time travel still sees the old
    * layout. Same conflict detection as [[merge]]. */
  def optimize(spark: SparkSession, path: String, numFiles: Int = 1,
      clusterBy: Seq[String] = Nil,
      where: Option[org.apache.spark.sql.Column] = None): Int = {
    val base = snapshot(path)
    // SCOPED compaction (round 13, Delta's `OPTIMIZE … WHERE` —
    // generalized): `where` selects the files whose stats MAY hold a
    // matching row (the deleteWhere pruning machinery); only those
    // rewrite, everything else carries by reference. OPTIMIZE is a
    // whole-file layout op — touched files re-lay-out ALL their rows,
    // none are filtered — so any stats-analyzable predicate is safe,
    // not just partition predicates: at 100 TB you compact the
    // partition (or key range) that just ingested, never the table.
    // No file intersects → no-op, no phantom commit.
    val (touchedFiles, carried): (Seq[String], Seq[String]) =
      where match {
        case None => (base.files, Nil)
        case Some(pred) =>
          val bounds = predBounds(
            org.apache.spark.sql.graftx.ColumnExpr.nodeOf(pred))
          require(bounds.nonEmpty,
            s"versioned: OPTIMIZE WHERE needs a stats-analyzable " +
              "predicate (equality/range/IN over stats-bearing " +
              s"columns), got $pred")
          val ranges = fileKeyStats(spark, path, base)
          val (t, u) = ranges.partition { case (_, st) =>
            bounds.forall { case (c, b) => statIntersects(st.get(base.physOf(c)), b) }
          }
          (t.map(_._1), u.map(_._1))
      }
    if (touchedFiles.isEmpty) return base.version
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    val schemaT = StructType.fromDDL(base.schemaDdl)
    val rows =
      if (carried.isEmpty) read(spark, path, Some(base.version))
      else readFiles(spark, path, touchedFiles, base.schemaDdl,
        base.colMap, base.dvs)
    val laidOut =
      if (clusterBy.isEmpty) rows.repartition(numFiles)
      else {
        // OPTIMIZE … ZORDER BY: range-partition on the layout key so
        // every output file gets a TIGHT min/max footer range in the
        // clustered dimension(s) — [[merge]]'s stats pruning then
        // rewrites only the files a key batch actually intersects
        // (VersionedSpec demonstrates the touched-set shrinking).
        // Two columns interleave via the Morton key; one sorts plain.
        val key = clusterBy match {
          case Seq(a) => col(a)
          case Seq(a, b) => graft.operators.ZOrder.zValue(col(a), col(b))
          case other => sys.error(
            s"versioned: clusterBy supports 1–2 columns, got $other")
        }
        rows.repartitionByRange(numFiles, key)
      }
    writeData(laidOut, s"$path/$dataRel", base.partitionCols,
      base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    // conflict RESOLUTION (round 11): OPTIMIZE is a pure layout op —
    // its rows are the base snapshot's verbatim — so ANY interloping
    // append rebases cleanly (the appended files simply stay in their
    // original layout); a steady append stream can no longer starve a
    // long compaction. sourceBounds = None encodes "no row footprint".
    publishCow(path, "optimize", base, carried ++ added,
      base.stats.view.filterKeys(carried.toSet).toMap ++
        statsForFiles(spark, path, added, base.partitionCols, schemaT, base.colMap),
      changes = None, sourceBounds = None)
  }

  /** Stats-driven small-file COMPACTION (round 16; Delta's default
    * OPTIMIZE binpack semantic, which [[optimize]]'s whole-scope
    * re-layout is not): rewrite ONLY the files smaller than
    * `target/2` — plus DV-carrying files, whose masks drop for free —
    * into ~`target`-byte outputs, and carry every right-sized file BY
    * REFERENCE. Selection reads the log alone (the
    * [[SizeStatKey]] pseudo-stats; a pre-size legacy file counts as
    * small, so it gains a size on the way through), so the op costs
    * O(small-file bytes), never O(table bytes) — the steady-state
    * maintenance loop of a streamed-into 100 TB table where each
    * micro-batch lands a small file. `target` defaults to
    * `spark.graft.versioned.targetFileBytes` (128 MB). Nothing small
    * enough → no-op, no phantom commit (one lone small clean file is
    * also a no-op — compaction needs something to merge it WITH).
    * Same conflict/rebase rules as OPTIMIZE (pure layout op). */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 0L): Int = {
    val base = snapshot(path)
    val target =
      if (targetBytes > 0) targetBytes
      else spark.conf.getOption("spark.graft.versioned.targetFileBytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
    require(target >= 2, s"versioned: compact target $target too small")
    def sizeOf(f: String): Option[Long] = base.stats.get(f)
      .flatMap(_.get(SizeStatKey)).collect { case LongStat(lo, _) => lo }
    val touched = base.files.filter(f => base.dvs.contains(f) ||
      sizeOf(f).forall(_ < target / 2))
    if (touched.isEmpty ||
      (touched.size == 1 && !base.dvs.contains(touched.head)))
      return base.version
    val carried = base.files.filterNot(touched.toSet)
    val totalBytes = touched.map(f => sizeOf(f).getOrElse(0L)).sum
    val outFiles = math.max(1L,
      math.min(4096L, (totalBytes + target - 1) / target)).toInt
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    val schemaT = StructType.fromDDL(base.schemaDdl)
    val rows = readFiles(spark, path, touched, base.schemaDdl,
      base.colMap, base.dvs) // masks apply: live rows only
    writeData(rows.coalesce(outFiles), s"$path/$dataRel",
      base.partitionCols, base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    publishCow(path, "optimize", base, carried ++ added,
      base.stats.view.filterKeys(carried.toSet).toMap ++
        statsForFiles(spark, path, added, base.partitionCols, schemaT,
          base.colMap),
      changes = None, sourceBounds = None)
  }

  /** PURGE deletion vectors (round 15; Delta's `REORG TABLE … APPLY
    * (PURGE)`): rewrite ONLY the DV-carrying files — each one's LIVE
    * rows land in fresh files, the sidecars drop from the manifest —
    * and carry every clean file by reference. OPTIMIZE also purges,
    * but it re-lays-out whatever its scope touches; purge cost is
    * ∝ masked-file bytes alone, the right maintenance op when a 100 TB
    * table has a handful of DV'd files. No DVs → no-op, no phantom
    * commit. Same conflict/rebase rules as OPTIMIZE (pure layout op:
    * rows are the base snapshot's verbatim, sourceBounds = None). */
  def purgeDeletionVectors(spark: SparkSession, path: String): Int = {
    val base = snapshot(path)
    if (base.dvs.isEmpty) return base.version
    val masked = base.files.filter(base.dvs.contains)
    val carried = base.files.filterNot(base.dvs.contains)
    val commitId = java.util.UUID.randomUUID().toString.take(12)
    val dataRel = s"data/c-$commitId"
    val schemaT = StructType.fromDDL(base.schemaDdl)
    val rows = readFiles(spark, path, masked, base.schemaDdl,
      base.colMap, base.dvs) // the mask applies: live rows only
    writeData(rows.coalesce(math.max(1, masked.size)),
      s"$path/$dataRel", base.partitionCols, base.colMap)
    val added = listParquet(dataPath(path, commitId))
      .map(f => s"$dataRel/$f")
    publishCow(path, "optimize", base, carried ++ added,
      base.stats.view.filterKeys(carried.toSet).toMap ++
        statsForFiles(spark, path, added, base.partitionCols, schemaT, base.colMap),
      changes = None, sourceBounds = None)
  }

  /** The files version `v` ADDED (append commits only — loud error
    * otherwise): a delta manifest lists them directly; an append
    * CHECKPOINT carries the full live set, so its additions are the
    * files absent from the previous version's set. */
  private def addedAt(path: String, v: Int, fromVersion: Int,
      toVersion: Int): (Seq[String], String) = {
    val m = parseManifest(manifestPath(path, v))
    // a CONVERT or CLONE v1 is the table's initial insert of every
    // adopted/linked file — semantically the first append (r13/r14)
    require(m.op == "append" ||
      ((m.op == "convert" || m.op == "clone") && v == 1),
      s"versioned: CDC range ($fromVersion, $toVersion] crosses a " +
        s"'${m.op}' commit at v$v — change feed is append-only")
    val added =
      if (!m.full) m.files
      else {
        val prev =
          if (v <= 1) Set.empty[String] // v1 has no predecessor
          else snapshot(path, Some(v - 1)).files.toSet
        m.files.filterNot(prev)
      }
    (added, m.schemaDdl)
  }

  /** All files appended by versions (`fromVersion`, `toVersion`] —
    * the streaming-source feed ([[VersionedMicroBatchStream]]).
    * `skipChangeCommits`: silently skip non-append commits (their
    * rewrites are not emitted) instead of erroring — the live-tail +
    * OPTIMIZE coexistence mode. */
  private[sources] def appendedFiles(path: String, fromVersion: Int,
      toVersion: Int, skipChangeCommits: Boolean = false): Seq[String] = {
    val range = versions(path).filter(v => v > fromVersion && v <= toVersion)
    val kept =
      if (!skipChangeCommits)
        // metadata-only commits (ALTER TABLE, round 13) carry ZERO
        // rows — always skippable, never a stream-killing "change"
        range.filter(v =>
          parseManifest(manifestPath(path, v)).op != "metadata")
      else range.filter { v =>
        val op = parseManifest(manifestPath(path, v)).op
        op == "append" || (op == "convert" && v == 1)
      }
    kept.flatMap(v => addedAt(path, v, fromVersion, toVersion)._1)
  }

  /** CDC read: the row-level changes of versions (`fromVersion`,
    * `toVersion`] with `_change_type` and `_commit_version` columns —
    * Delta CDF semantics, the incremental-consumer feed (probe only
    * NEW documents against the minhash history, `d14`-style; follow
    * an UPSERTED corpus without rescanning it).
    *
    *  - append commits emit their added rows as `insert`;
    *  - merge commits emit the change parquet persisted at commit
    *    time (`update_preimage` / `update_postimage` / `insert`) —
    *    round 10; previously any COW commit in range errored;
    *  - delete commits emit their removed rows as `delete`;
    *  - optimize commits emit NOTHING (pure layout, rows unchanged);
    *  - overwrite / restore still error loudly: they are statements
    *    about whole-table state, and their row-level delta is not
    *    recorded (Delta CDF draws the same line — CDC consumers must
    *    re-baseline across them).
    *
    * Pre-r10 merge/delete commits (no persisted change set) also
    * error, with a message saying so. */
  /** Per-version CDC batches of (`fromVersion`, `toVersion`]:
    * (version, files, ddl, fromChangeParquet). Append versions list
    * their added DATA files (`fromChangeParquet = false` — the
    * consumer tags them `insert`); merge/delete list their persisted
    * change parquet (which carries `_change_type` itself); optimize
    * contributes nothing. Shared by [[readChanges]] and the DSv2
    * change-feed stream. */
  private[sources] def changeBatches(path: String, fromVersion: Int,
      toVersion: Int): Seq[(Int, Seq[String], String, Boolean)] = {
    val range = versions(path).filter(v => v > fromVersion && v <= toVersion)
    range.map { v =>
      val m = parseManifest(manifestPath(path, v))
      m.op match {
        case "append" | "convert" | "clone" =>
          val (addedFiles, ddl) = addedAt(path, v, fromVersion, toVersion)
          (v, addedFiles, ddl, false)
        case "merge" | "delete" | "update" | "replace" =>
          val chg = m.changes.getOrElse(sys.error(
            s"versioned: v$v is a pre-CDF '${m.op}' commit with no " +
              "persisted change set — re-baseline past it"))
          (v, chg, m.schemaDdl, true)
        case "optimize" => (v, Nil, m.schemaDdl, true) // layout-only
        case "metadata" => (v, Nil, m.schemaDdl, true) // schema-only
        case other => sys.error(
          s"versioned: CDC range ($fromVersion, $toVersion] crosses a " +
            s"'$other' commit at v$v — re-baseline from its snapshot")
      }
    }
  }

  def readChanges(spark: SparkSession, path: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    val vs = versions(path)
    require(vs.contains(toVersion) && (fromVersion == 0 ||
      vs.contains(fromVersion)) && fromVersion < toVersion,
      s"versioned: bad change range ($fromVersion, $toVersion] " +
        s"(have ${vs.mkString(",")})")
    val parts = changeBatches(path, fromVersion, toVersion)
    val rangeDdl = parts.last._3 + ", `_change_type` STRING"
    val schema = StructType.fromDDL(rangeDdl)
    // physical names are STABLE, so the as-of-toVersion mapping reads
    // every file in the range correctly (column mapping, round 14);
    // _change_type is outside the mapping (identity)
    val cmap = snapshot(path, Some(toVersion)).colMap
    parts.map { case (v, files, _, isChange) =>
      val df =
        if (files.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else if (isChange)
          readFiles(spark, path, files, rangeDdl, cmap)
        else readFiles(spark, path, files, rangeDdl, cmap)
          // absent _change_type reads null; appends tag as insert
          .withColumn("_change_type", lit("insert"))
      df.withColumn("_commit_version", lit(v))
    }.reduce(_ unionByName _)
  }


  /** DATA SKIPPING from manifest stats (Delta's read-path analog of
    * the merge pruning): the live files whose recorded [[ColStat]]
    * for `colName` can intersect `bound` (a [[LongStat]] or
    * [[StrStat]] query range). Files with NO stats entry — or a stats
    * entry lacking the column (round-11 semantics: absence means
    * "nothing known", see [[ColStat]]) — are conservatively kept; an
    * explicit [[NullStat]] skips (every supported predicate is a
    * non-null comparison). The DSv2 connector applies this
    * transparently to pushed range filters — the filters still run
    * post-scan, pruning only removes files that cannot contain a
    * qualifying row. */
  def pruneFilesBy(snap: Snapshot, colName: String,
      bound: ColStat): Seq[String] =
    snap.files.filter { f =>
      snap.stats.get(f) match {
        case None => true // pre-stats manifest: never skip
        case Some(cols) => statIntersects(cols.get(colName), bound)
      }
    }

  /** Numeric-range data skipping (the pre-r11 signature, delegating
    * to [[pruneFilesBy]]). */
  def pruneFiles(snap: Snapshot, colName: String,
      lo: Long, hi: Long): Seq[String] =
    pruneFilesBy(snap, colName, LongStat(lo, hi))

  /** Read the table at `asOf` (default latest). Empty live set reads
    * as an empty relation with the committed schema. */
  def read(spark: SparkSession, path: String,
      asOf: Option[Int] = None): DataFrame = {
    val s = snapshot(path, asOf)
    val schema = StructType.fromDDL(s.schemaDdl)
    if (s.files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      // partitioned or not, every data file physically carries every
      // column (Iceberg discipline, see [[PartDirPrefix]]) — one plain
      // vectorized multi-file scan, no partition discovery. Filtered
      // partitioned reads that want FILE-level pruning go through
      // `format("graftv")`, where the manifest's partition point
      // stats prune before planning.
      readFiles(spark, path, s.files, s.schemaDdl, s.colMap, s.dvs)
  }

  /** Files younger than this survive [[vacuum]] even when no retained
    * snapshot references them — the in-flight-writer guard. Writers
    * put data files on disk BEFORE publishing their manifest
    * (optimistic concurrency, see the class doc), so an unreferenced
    * file may be a commit that is milliseconds from becoming visible;
    * reclaiming it would leave the soon-published manifest pointing at
    * deleted data — permanent loss on a COMMITTED version. Delta's
    * VACUUM draws the same line with a modification-time retention
    * horizon (default 7 days); 15 minutes is proportionate to a
    * single-filesystem deployment where a commit's write-to-publish
    * window is seconds. */
  val DefaultVacuumGraceMs: Long = 15L * 60 * 1000

  /** Delete data and change files unreachable from the last
    * `retainVersions` snapshots (Delta VACUUM). DESTRUCTIVE for time
    * travel past the horizon: older versions keep their manifests
    * (audit trail) but their unique files are gone and reading them
    * errors at scan. Files whose mtime is within `graceMs` of now are
    * NEVER reclaimed (see [[DefaultVacuumGraceMs]]); pass 0 only when
    * the caller guarantees no concurrent writer exists.
    * Returns the deleted relative paths — or, with `dryRun = true`,
    * the paths that WOULD be deleted, touching nothing. */
  def vacuum(path: String, retainVersions: Int = CheckpointInterval,
      graceMs: Long = DefaultVacuumGraceMs,
      dryRun: Boolean = false): Seq[String] = {
    // retain < 1 would keep NO snapshot and reclaim every live data
    // file while the manifests still reference them — irrecoverable
    // corruption from a typo (ADVICE-style guard, Delta's own vacuum
    // has a minimum-retention check for the same reason)
    require(retainVersions >= 1,
      s"versioned: vacuum must retain at least 1 version, got " +
        s"$retainVersions at $path")
    val vs = versions(path)
    if (vs.isEmpty) return Seq.empty
    val keepVs = vs.takeRight(retainVersions)
    val keepManifests = keepVs.map(v => parseManifest(manifestPath(path, v)))
    val keep = keepVs.flatMap { v =>
      val sn = snapshot(path, Some(v)); sn.files ++ sn.dvs.values
    }.toSet ++ keepManifests.flatMap(_.changes.getOrElse(Nil))
    val horizon = System.currentTimeMillis() - graceMs
    def sweep(dirName: String): Vector[String] = {
      val dir = Paths.get(norm(path), dirName)
      if (!Files.isDirectory(dir)) return Vector.empty
      // recursive: partitioned commits nest files under k=v/ subdirs
      def walk(p: Path, prefix: String): Vector[String] =
        listDir(p).flatMap { c =>
          val n = c.getFileName.toString
          if (Files.isDirectory(c)) walk(c, s"$prefix$n/")
          else Vector(s"$prefix$n")
        }
      listDir(dir).flatMap { cdir =>
        walk(cdir, s"$dirName/${cdir.getFileName}/")
      }
    }
    // bloom sidecars (round 16): content-addressed by data rel, so a
    // sidecar is live iff its data file is kept — sweep the flat
    // _bloom dir against the kept rels' addresses
    val keepBlooms: Set[String] = keep.map(BloomFilters.sidecarRel)
    val bloomDir = Paths.get(norm(path), "_bloom")
    val bloomDead: Vector[String] =
      if (!Files.isDirectory(bloomDir)) Vector.empty
      else listDir(bloomDir).filterNot(Files.isDirectory(_))
        .map(p => s"_bloom/${p.getFileName}")
        .filterNot(keepBlooms)
    val dead = (sweep("data") ++ sweep("_changes") ++ sweep("_dv") ++
      bloomDead)
      .filterNot(f => keep.contains(f) ||
        f.split('/').last.startsWith("_")) // keep parquet _SUCCESS markers
      .filter { f =>
        // in-flight-writer guard: a young unreferenced file may belong
        // to a commit racing toward publish — leave it for a later pass
        try Files.getLastModifiedTime(Paths.get(norm(path), f))
          .toMillis <= horizon
        catch { case _: java.nio.file.NoSuchFileException => false }
      }
    // DRY RUN (round 13, Delta's form): report what WOULD be
    // reclaimed without touching anything — the operator's preflight
    // before waiving time travel past the horizon
    if (dryRun) dead.sorted
    else dead.sorted.map { f =>
      Files.deleteIfExists(Paths.get(norm(path), f)); f
    }
  }

  // -------------------------------------------- driver query surface

  /** v1_time_travel: exercise the full commit/replay path against the
    * documents table — two appends, an overwrite, a restore — then
    * read EVERY version back through the log and aggregate, plus one
    * TIMESTAMP-based read (row 5): `readAsOfTimestamp` at the last
    * commit's stamp must resolve to v4's state through the monotone
    * stamp scan (commits land milliseconds apart here, so only the
    * latest stamp is tie-free and deterministic — the between-commit
    * and out-of-range cases are VersionedSpec's, with forced stamp
    * gaps). The per-version aggregates are O(versions) single-row
    * collects; the oracle replays the predicates relationally (a
    * versioned read at version v IS the union of the commits live at
    * v). */
  /** ONE driver action for a family of per-step single-row aggregate
    * branches (round 17, guide §1.2): union the step-tagged branches
    * and collect once. The v-family's per-step `.agg(...).head()`
    * loops each paid a full action's planning + scheduling latency
    * (~0.1 s apiece at sf0.1) and ran serially; the union runs the
    * branches inside one job and the branch plans — and the values
    * they compute — are unchanged. Rows return sorted by the leading
    * integer step tag. */
  private def collectSteps(steps: Seq[DataFrame]): Seq[Row] =
    steps.reduce(_ unionByName _).collect().toSeq.sortBy(_.getInt(0))

  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 3 === 0), tmp, "append") // v1
      commit(docs.where(col("doc_id") % 3 === 1), tmp, "append") // v2
      commit(docs.where(col("doc_id") % 2 === 0), tmp, "overwrite") // v3
      restore(tmp, 2) // v4 == v2's live set
      def aggOf(df: DataFrame, v: Int) = df
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
        .select(lit(v).as("step"), col("n_rows"), col("sum_doc_id"),
          col("sum_chars"))
      val rows = collectSteps(
        (1 to 4).map(v => aggOf(read(spark, tmp, Some(v)), v)) :+
          aggOf(readAsOfTimestamp(spark, tmp, commitTimestamp(tmp, 4)), 5))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType.fromDDL(
          "version INT, n_rows BIGINT, sum_doc_id BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** v2_merge_upsert: exercise the COW merge + delete path — seed the
    * table with the even doc_ids, MERGE the multiples of 3 with their
    * char count negated (evens∩3k are updated in place, odd 3k rows
    * are inserted), then DELETE the multiples of 5. Each version's
    * state is read back THROUGH the log and aggregated; the oracle
    * replays the three set algebra states relationally. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0), tmp, "append") // v1
      merge(docs.where(col("doc_id") % 3 === 0)
        .withColumn("n_chars", -col("n_chars")), tmp, "doc_id") // v2
      deleteWhere(spark, tmp, col("doc_id") % 5 === 0) // v3
      val rows = collectSteps((1 to 3).map { v =>
        read(spark, tmp, Some(v))
          .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_doc_id"),
            sum(col("n_chars")).as("sum_chars"))
          .select(lit(v).as("step"), col("n_rows"), col("sum_doc_id"),
            col("sum_chars"))
      }).map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType.fromDDL(
          "version INT, n_rows BIGINT, sum_doc_id BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v3_source_read: the DSv2 connector path — commit two versions,
    * read BOTH through `format("graftv")` (latest + time travel), with
    * the aggregate's column pruning pushed into the connector's
    * parquet read schema (asserted structurally in
    * VersionedSourceSpec). Aggregates are collected per version like
    * v1/v2 (two 1-row collects). */
  def sourceRead(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 4 === 0), tmp, "append") // v1
      commit(docs.where(col("doc_id") % 4 === 2), tmp, "append") // v2
      val rows = collectSteps(Seq(
        spark.read.format("graftv").option("versionAsOf", 1).load(tmp)
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
          .select(lit(1).as("step"), col("n"), col("sc")),
        spark.read.format("graftv").load(tmp)
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
          .select(lit(2).as("step"), col("n"), col("sc"))))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType.fromDDL("version INT, n_rows BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v4_change_feed: row-level CDC through the log — three append
    * commits AND a COW merge (round 10), then `readChanges(1, 4)`
    * aggregated per (`_commit_version`, `_change_type`); the oracle
    * replays each commit's predicate — appends are the appended
    * relations as `insert` rows, and the merge's pre/post images are
    * the matched keys under the before/after state (the same set
    * algebra the v2 oracle uses). */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 3 === 0), tmp, "append") // v1
      commit(docs.where(col("doc_id") % 3 === 1), tmp, "append") // v2
      commit(docs.where(col("doc_id") % 3 === 2), tmp, "append") // v3
      merge(docs.where(col("doc_id") % 5 === 0)
        .withColumn("n_chars", -col("n_chars")), tmp, "doc_id") // v4 (COW)
      val rows = readChanges(spark, tmp, fromVersion = 1, toVersion = 4)
        .groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("_commit_version"), col("_change_type"))
        .collect().toSeq // O(versions × change kinds) rows
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          rows.map(r => Row(r.getInt(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))), 1),
        StructType.fromDDL(
          "commit_version INT, change_type STRING, n_rows BIGINT, " +
            "sum_doc_id BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v5_schema_evolution: a mergeSchema append adds a column; the
    * read unions old (null-filled) and new files under the evolved
    * DDL. The oracle replays the null-fill law relationally: the
    * pre-evolution half contributes NULL extras. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0), tmp, "append") // v1 (id, n)
      commit(docs.where(col("doc_id") % 2 === 1)
        .withColumn("extra", col("n_chars") * 2), tmp, "append",
        mergeSchema = true) // v2 evolves: extra joins as nullable
      val r = read(spark, tmp)
        .agg(count(lit(1)).as("n_rows"),
          count(col("extra")).as("n_extra"),
          sum(coalesce(col("extra"), lit(0L))).as("sum_extra"),
          sum(col("n_chars")).as("sum_chars"))
        .head()
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(
          r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))), 1),
        StructType.fromDDL("n_rows BIGINT, n_extra BIGINT, " +
          "sum_extra BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v13_widen (round 14, VERDICT r13 #6): TYPE WIDENING oracled.
    * v1 commits (doc_id BIGINT, n INT, x FLOAT); v2/v3 widen n→BIGINT
    * and x→DOUBLE via `alterColumnType` (metadata-only); v4 appends
    * rows whose n values NEED 64 bits. Steps: (1) v1 under its own
    * narrow DDL (time travel), (2) the head — old int32/float files
    * promoted at scan time next to new int64/double files, (3) the
    * head restricted to the PRE-WIDENING rows (proves the old
    * physical files read widened). `n_is_long` pins the Spark-side
    * schema so the oracle row fails if widening silently stops.
    * FP parity: x = n_chars·0.25 is exact in float (n_chars < 2²⁴)
    * and reported as the exact integer x·4. */
  def widenEvolution(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("int").as("n"),
        (col("n_chars").cast("float") * lit(0.25f)).as("x"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0), tmp, "append") // v1
      alterColumnType(tmp, "n", "BIGINT") // v2 (metadata-only)
      alterColumnType(tmp, "x", "DOUBLE") // v3 (metadata-only)
      commit(docs.where(col("doc_id") % 2 === 1)
        .withColumn("n", col("n").cast("long") + lit(3000000000L))
        .withColumn("x", col("x").cast("double")), tmp, "append") // v4
      def aggOf(df: DataFrame, step: Int): DataFrame = {
        val isLong =
          if (df.schema("n").dataType ==
            org.apache.spark.sql.types.LongType) 1 else 0
        df.agg(count(lit(1)).as("n_rows"),
          sum(col("n").cast("long")).as("sum_n"),
          sum((col("x") * lit(4)).cast("long")).as("sum_x4"))
          .select(lit(step).as("step"), col("n_rows"), col("sum_n"),
            col("sum_x4"), lit(isLong).as("n_is_long"))
      }
      val steps = collectSteps(Seq(
        aggOf(read(spark, tmp, Some(1)), 1),
        aggOf(read(spark, tmp), 2),
        aggOf(read(spark, tmp).where(col("doc_id") % 2 === 0), 3)))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(steps, 1),
        StructType.fromDDL("step INT, n_rows BIGINT, sum_n BIGINT, " +
          "sum_x4 BIGINT, n_is_long INT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v15_clone (round 14): SHALLOW CLONE oracled. The source commits
    * the even documents; a zero-copy clone births a second table on
    * the SAME physical files; then both sides diverge — the clone
    * deletes a slice, the source appends the odds. Steps: (1) the
    * source after divergence (clone edits must not leak back through
    * the shared inodes), (2) the clone after divergence, (3) the
    * clone's own CDF from ITS v1 (the clone commit is an insert
    * batch — the feed is complete from birth). */
  def cloneDivergence(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val src = Files.createTempDirectory("graft-versioned-").toString
    val dst = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0), src, "append") // v1
      deleteRecursively(Paths.get(dst)) // cloneTable births the dir
      cloneTable(spark, src, dst)
      deleteWhere(spark, dst, col("doc_id") % 10 === 0) // clone v2
      commit(docs.where(col("doc_id") % 2 === 1), src, "append") // src v2
      def aggOf(df: DataFrame, step: Int): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
          .select(lit(step).as("step"), col("n_rows"), col("sum_doc_id"),
            col("sum_chars"))
      val cdf = readChanges(spark, dst, 0, 1)
        .where(col("_change_type") === "insert")
        .select(col("doc_id"), col("n_chars"))
      val steps = collectSteps(Seq(
        aggOf(read(spark, src), 1),
        aggOf(read(spark, dst), 2),
        aggOf(cdf, 3)))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(steps, 1),
        StructType.fromDDL("step INT, n_rows BIGINT, " +
          "sum_doc_id BIGINT, sum_chars BIGINT"))
    } finally {
      deleteRecursively(Paths.get(src))
      deleteRecursively(Paths.get(dst))
    }
  }

  /** v14_rename (round 14, VERDICT r13 #3): COLUMN MAPPING oracled.
    * v1 commits evens as (doc_id, cnt, tag); v2 RENAMES cnt→chars
    * (metadata-only — the files keep the physical name `cnt`); v3
    * appends odds under the new name; v4 merges +1e6 onto the %6
    * rows across old- and new-named files; v5 DROPS tag and v6
    * re-ADDS it — the re-added column must read NULL everywhere
    * (fresh physical name, no resurrection of the dropped bytes).
    * Steps: (1) v1 under its own pre-rename schema, (2) the head,
    * (3) the head restricted to pre-rename rows. `tag_count` pins
    * the anti-resurrection law: non-zero at v1, zero at head. */
  def renameEvolution(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars").as("cnt"),
          (col("doc_id") % 7).as("tag")), tmp, "append") // v1
      renameColumn(tmp, "cnt", "chars") // v2 (metadata-only)
      commit(docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars").as("chars"),
          (col("doc_id") % 7).as("tag")), tmp, "append") // v3
      merge(docs.where(col("doc_id") % 6 === 0)
        .select(col("doc_id"),
          (col("n_chars") + lit(1000000L)).as("chars"),
          (col("doc_id") % 7).as("tag")), tmp, "doc_id") // v4
      dropColumn(tmp, "tag") // v5
      addColumns(tmp, "`tag` BIGINT") // v6: fresh physical, all-null
      def aggOf(df: DataFrame, step: Int, cCol: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          sum(col(cCol)).as("sum_c"),
          count(col("tag")).as("tag_count"))
          .select(lit(step).as("step"), col("n_rows"), col("sum_c"),
            col("tag_count"))
      // NESTED leg (round 15, VERDICT r14 #4): a second table with a
      // provenance STRUCT — rename prov.c → chars (metadata-only over
      // the stable physical), drop prov.src and re-ADD it (fresh
      // physical path: reads NULL, never the dropped bytes). Step 4 =
      // the head through the renamed path (tag_count pins the
      // anti-resurrection 0); step 5 = time travel to v1 under the
      // ORIGINAL nested names.
      val tmp2 = Files.createTempDirectory("graft-versioned-").toString
      try {
        commit(docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"),
            struct((col("doc_id") % 7).as("src"),
              col("n_chars").as("c")).as("prov")), tmp2) // v1
        renameColumn(tmp2, "prov.c", "chars") // v2
        dropColumn(tmp2, "prov.src") // v3
        addColumns(tmp2, "`src` BIGINT", parent = "prov") // v4
        def aggNested(df: DataFrame, step: Int, cPath: String,
            srcPath: String): DataFrame =
          df.agg(count(lit(1)).as("n_rows"),
            sum(col(cPath)).as("sum_c"),
            count(col(srcPath)).as("tag_count"))
            .select(lit(step).as("step"), col("n_rows"), col("sum_c"),
              col("tag_count"))
        val steps = collectSteps(Seq(
          aggOf(read(spark, tmp, Some(1)), 1, "cnt"),
          aggOf(read(spark, tmp), 2, "chars"),
          aggOf(read(spark, tmp).where(col("doc_id") % 2 === 0), 3,
            "chars"),
          aggNested(read(spark, tmp2), 4, "prov.chars", "prov.src"),
          aggNested(read(spark, tmp2, Some(1)), 5, "prov.c",
            "prov.src")))
          .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(steps, 1),
          StructType.fromDDL("step INT, n_rows BIGINT, sum_c BIGINT, " +
            "tag_count BIGINT"))
      } finally deleteRecursively(Paths.get(tmp2))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v6_cdf_apply: the CDF-apply LAW as an oracle gate — after an
    * append + COW merge + delete, the table's final state is
    * reconstructed purely FROM THE CHANGE FEED (adds = inserts +
    * postimages, removes = preimages + deletes, multiset difference)
    * and aggregated; the DuckDB twin derives the same state by the
    * v2-style set algebra. This is what a downstream incremental
    * consumer of an upserted corpus does — the gate proves the feed
    * is a complete, sufficient description of the table's evolution
    * (the single-threaded law the model fuzz asserts per-commit, now
    * driver-checked cross-engine). */
  def cdfApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0), tmp, "append") // v1
      merge(docs.where(col("doc_id") % 3 === 0)
        .withColumn("n_chars", -col("n_chars")), tmp, "doc_id") // v2
      deleteWhere(spark, tmp, col("doc_id") % 5 === 0) // v3
      val ch = readChanges(spark, tmp, fromVersion = 0, toVersion = 3)
      val mult = when(col("_change_type").isin("insert", "update_postimage"),
        1).otherwise(-1)
      val state = ch.groupBy(col("doc_id"), col("n_chars"))
        .agg(sum(mult).as("m"))
        .where(col("m") === 1)
      val r = state
        .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
        .head()
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(
          r.getLong(0), r.getLong(1), r.getLong(2))), 1),
        StructType.fromDDL(
          "n_rows BIGINT, sum_doc_id BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v12_convert (round 13): CONVERT-in-place, oracled. The
    * documents table's part files are copied (bytes, driver-side) to
    * a fresh directory, adopted via [[convertParquet]] (v1 `convert`
    * manifest — no data rewrite), and the adopted table is then
    * DRIVEN like any other: a full aggregate at v1, a COW
    * `deleteWhere` (v2 — proves copy-on-write composes with adopted
    * files), and a time-travel read back to v1 (proves the adopted
    * snapshot is immutable). The oracle replays the three states
    * relationally over the same documents table. */
  def convertAdopt(spark: SparkSession, dir: String): DataFrame = {
    val src = Paths.get(s"$dir/documents.parquet")
    val tmp = Files.createTempDirectory("graft-convert-")
    try {
      // fixtures ship as a single file at small SFs and a part-file
      // directory at larger ones — adopt either shape
      if (Files.isRegularFile(src))
        Files.copy(src, tmp.resolve("part-00000.parquet"))
      else listDir(src).foreach { f =>
        if (Files.isRegularFile(f))
          Files.copy(f, tmp.resolve(f.getFileName.toString))
      }
      val t = tmp.toString
      val v1 = convertParquet(spark, t)
      require(v1 == 1)
      def aggOf(df: DataFrame, step: Int) = df
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sd"),
          sum(col("n_chars")).as("sc"))
        .select(lit(step).as("step"), col("n"), col("sd"), col("sc"))
      // s1's plan resolves v1's file set at BUILD time and those files
      // are immutable (COW), so collecting it after the delete reads
      // the same bytes the pre-delete head() did
      val s1 = aggOf(read(spark, t), 1)
      deleteWhere(spark, t, col("doc_id") % 7 === 0) // v2: COW over adopted
      val rows = collectSteps(Seq(s1,
        aggOf(read(spark, t), 2),
        aggOf(read(spark, t, Some(1)), 3))) // time travel to the adoption
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType.fromDDL(
          "step INT, n_rows BIGINT, sum_doc_id BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(tmp)
  }

  /** Per-row multiplicities of two frames over `keys`: one row per
    * distinct key tuple of either side, `__ca`/`__cb` its count in `a`
    * / `b` (0 when absent). Σ |ca − cb| is the symmetric multiset
    * difference, exceptAll(a, b).count + exceptAll(b, a).count, from
    * one pass per side. Keys match null-safely (`<=>`): with a plain
    * equi-join a null-key group present on both sides would stay
    * unmatched and count twice. */
  def multisetCounts(a: DataFrame, b: DataFrame,
      keys: Seq[String]): DataFrame = {
    def counts(df: DataFrame, n: String, alias: String) =
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as(n)).as(alias)
    val on = keys.map(k => col(s"__a.$k") <=> col(s"__b.$k")).reduce(_ && _)
    counts(a, "__ca", "__a").join(counts(b, "__cb", "__b"), on, "full_outer")
      .select(keys.map(k => coalesce(col(s"__a.$k"), col(s"__b.$k")).as(k)) ++
        Seq(coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb")): _*)
  }

  /** v11_cdc_replicate (round 13): the REPLICATION operator
    * [[applyChanges]], oracled end-to-end. Table A is driven through
    * every row-bearing commit kind — two appends, an upsert MERGE, a
    * `deleteWhere`, an `updateWhere` — plus a layout-only OPTIMIZE;
    * replica B is built FROM THE CHANGE FEED ALONE, one
    * `applyChanges(readChanges(v-1, v))` per version (the same
    * per-version batches the streaming `replicationSink` sees under
    * `maxVersionsPerTrigger=1` — CdcReplicationSpec drives the actual
    * running stream). Emits B's final-state aggregates plus the
    * symmetric-difference row count vs A (the law: 0); the DuckDB
    * oracle reconstructs the same final state relationally
    * (insert ∪ upsert, minus deletes, with the update applied). */
  def cdcReplicate(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val a = Files.createTempDirectory("graft-versioned-").toString
    val b = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 4 === 0), a) // v1 append
      commit(docs.where(col("doc_id") % 4 === 1), a) // v2 append
      merge(docs.where(col("doc_id") % 6 === 0) // v3 upsert
        .withColumn("n_chars", col("n_chars") + 1000000L), a, "doc_id")
      deleteWhere(spark, a, col("doc_id") % 10 === 0) // v4
      updateWhere(spark, a, col("doc_id") % 9 === 1, // v5
        Map("n_chars" -> -col("n_chars")))
      optimize(spark, a) // v6: layout-only, empty change batch
      // ONE read of the whole CDF range (round 17, VERDICT r16 #3):
      // the per-version drain re-opened and re-planned A's change
      // files once per version; the pinned full-range frame feeds
      // each drain through a _commit_version filter over pinned
      // blocks. The batches applyChanges sees per version — and so
      // the replica's state at every step — are identical.
      val vmax = versions(a).max
      val feed = readChanges(spark, a, 0, vmax).localCheckpoint(false)
      (1 to vmax).foreach { v =>
        applyChanges(feed.where(col("_commit_version") === v), b,
          Seq("doc_id"))
      }
      // symmetric multiset difference + B's final aggregates in ONE
      // action (round 17): B's n_rows/sums are Σ cb / Σ col·cb over
      // the same per-row multiplicities the diff reads.
      val cb = col("__cb")
      val r = multisetCounts(read(spark, a), read(spark, b),
          Seq("doc_id", "n_chars"))
        .agg(
          sum(abs(col("__ca") - cb)).as("diff"),
          sum(cb).as("n_rows"),
          sum(col("doc_id") * cb).as("sum_doc_id"),
          sum(col("n_chars").cast("long") * cb).as("sum_chars"))
        .head()
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(
          r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(0))), 1),
        StructType.fromDDL("n_rows BIGINT, sum_doc_id BIGINT, " +
          "sum_chars BIGINT, diff_rows BIGINT"))
    } finally {
      deleteRecursively(Paths.get(a)); deleteRecursively(Paths.get(b))
    }
  }

  /** v7_merge_composite (round 11): MERGE generalized past the single
    * BIGINT key — the table is keyed by a (STRING uuid, BIGINT bucket)
    * composite, the reference's own row-identity shape (uuid4 string,
    * atoms.py:193). Exercises, against the DuckDB set algebra:
    * an upsert merge on the composite key (v2), a whenMatched-DELETE /
    * whenNotMatched-IGNORE tombstone merge (v3), per-version state
    * aggregates, and the row-level CDF THROUGH both merges. The uuid
    * is a deterministic bijection of doc_id (`u-<8-digit id>`), so the
    * oracle replays the same algebra keyed by doc_id. */
  def mergeComposite(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(
        concat(lit("u-"), lpad(col("doc_id").cast("string"), 8, "0"))
          .as("uid"),
        pmod(col("doc_id"), lit(7)).as("bucket"),
        col("n_chars"),
        col("doc_id"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      def tbl(df: DataFrame) = df.select(col("uid"), col("bucket"),
        col("n_chars"))
      commit(tbl(docs.where(col("doc_id") % 2 === 0)), tmp, "append") // v1
      merge(tbl(docs.where(col("doc_id") % 3 === 0)
        .withColumn("n_chars", -col("n_chars"))), tmp,
        Seq("uid", "bucket")) // v2: composite-key upsert
      merge(tbl(docs.where(col("doc_id") % 5 === 0)), tmp,
        Seq("uid", "bucket"),
        whenMatched = WhenMatched.Delete(None),
        whenNotMatched = WhenNotMatched.Ignore) // v3: tombstone feed
      // v4 (round 12): the CDC composite in ONE merge — a clause
      // CHAIN (first-match-wins) of tombstone-delete + upsert-if-newer
      // with a SET expression over BOTH sides, plus a conditional
      // insert. The oracle replays every clause relationally,
      // including the target-referencing condition (source.n_chars >
      // target.n_chars ⟺ n_chars > 0 exactly when the target holds
      // the negated v2 value).
      mergeClauses(tbl(docs.where(col("doc_id") % 4 === 0)), tmp,
        Seq("uid", "bucket"),
        matched = Seq(
          WhenMatched.Delete(Some(col("source.bucket") === 1)),
          WhenMatched.Update(
            Some(col("source.n_chars") > col("target.n_chars")),
            set = Map("n_chars" ->
              (col("source.n_chars") * 2 + col("target.n_chars"))))),
        notMatched = Seq(
          WhenNotMatched.Insert(Some(col("bucket") =!= 2)))) // v4
      val states = collectSteps((1 to 4).map { v =>
        read(spark, tmp, Some(v))
          .agg(count(lit(1)).as("n"), sum(col("bucket")).as("sb"),
            sum(col("n_chars")).as("sc"))
          .select(lit(v).as("step"), col("n"), col("sb"), col("sc"))
      }).map(r =>
        Row(r.getInt(0), "state", r.getLong(1), r.getLong(2), r.getLong(3)))
      val cdf = readChanges(spark, tmp, fromVersion = 1, toVersion = 4)
        .groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n"), sum(col("bucket")).as("sb"),
          sum(col("n_chars")).as("sc"))
        .collect().toSeq
        .map(r => Row(r.getInt(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(states ++ cdf, 1),
        StructType.fromDDL("step INT, kind STRING, n_rows BIGINT, " +
          "sum_bucket BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v8_partitioned (round 11): the partitioned-table surface — a
    * two-commit ingest partitioned by `pb = doc_id % 4` (the SURVEY
    * §7.2 "partition by group" convention), a COW merge THROUGH the
    * partitioned layout, then reads through both engines: the graftv
    * connector with a partition filter (whose manifest point stats
    * prune the planned file set — plan-asserted in
    * VersionedSourceSpec), the full connector scan, and a
    * time-traveled library read. The oracle replays the set algebra
    * relationally. */
  def partitioned(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        pmod(col("doc_id"), lit(4)).as("pb"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0), tmp, "append",
        partitionBy = Seq("pb")) // v1: establishes the layout
      commit(docs.where(col("doc_id") % 2 === 1), tmp, "append") // v2 inherits
      merge(docs.where(col("doc_id") % 3 === 0)
        .withColumn("n_chars", -col("n_chars")), tmp, Seq("doc_id")) // v3
      def aggOf(df: DataFrame, step: Int) = df
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sd"),
          sum(col("n_chars")).as("sc"))
        .select(lit(step).as("step"), col("n"), col("sd"), col("sc"))
      val rows = collectSteps(Seq(
        aggOf(spark.read.format("graftv").load(tmp)
          .where(col("pb") === 2), 1),
        aggOf(spark.read.format("graftv").load(tmp), 2),
        aggOf(read(spark, tmp, Some(1)), 3)))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType.fromDDL(
          "step INT, n_rows BIGINT, sum_doc_id BIGINT, sum_chars BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v9_sql_merge (round 12): the SQL surface of the round-12
    * row-level operations — a catalog `USING graftv` table driven
    * entirely through `spark.sql`: a MERGE INTO clause CHAIN
    * (tombstone-delete + UPDATE SET + conditional INSERT, Delta's
    * first-match-wins), a DELETE FROM whose WHERE rides the
    * DSv2 SupportsDelete path into the COW deleteWhere, and an
    * UPDATE … SET routed through [[updateWhere]]. The oracle
    * replays the same set algebra relationally (the v2/v7 pattern).
    * Requires the GraftExtensions parser (Verify/Bench sessions
    * enable it). */
  def sqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      commit(docs.where(col("doc_id") % 2 === 0), tmp, "append") // v1
      docs.createOrReplaceTempView("v9_sql_merge_src")
      spark.sql("DROP TABLE IF EXISTS v9_sql_merge_tbl")
      spark.sql(s"CREATE TABLE v9_sql_merge_tbl USING graftv LOCATION '$tmp'")
      try {
        spark.sql("""
          MERGE INTO v9_sql_merge_tbl AS tg
          USING (SELECT doc_id, n_chars FROM v9_sql_merge_src
                 WHERE doc_id % 3 = 0) AS s
          ON tg.doc_id = s.doc_id
          WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET n_chars = -s.n_chars
          WHEN NOT MATCHED AND s.doc_id % 7 != 0 THEN INSERT *
        """) // v2
        spark.sql(
          "DELETE FROM v9_sql_merge_tbl WHERE doc_id >= 10 AND doc_id < 40"
        ) // v3 (range chosen non-empty down to sf0.001's 50 docs)
        spark.sql(
          "UPDATE v9_sql_merge_tbl SET n_chars = n_chars * 3 " +
            "WHERE doc_id >= 40 AND doc_id < 48") // v4 (same-range rule)
        val states = collectSteps((1 to 4).map { v =>
          read(spark, tmp, Some(v))
            .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sd"),
              sum(col("n_chars")).as("sc"))
            .select(lit(v).as("step"), col("n"), col("sd"), col("sc"))
        }).map(r =>
          Row(r.getInt(0), "state", r.getLong(1), r.getLong(2), r.getLong(3)))
        val cdf = readChanges(spark, tmp, fromVersion = 1, toVersion = 4)
          .groupBy(col("_commit_version"), col("_change_type"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sd"),
            sum(col("n_chars")).as("sc"))
          .collect().toSeq
          .map(r => Row(r.getInt(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(states ++ cdf, 1),
          StructType.fromDDL("step INT, kind STRING, n_rows BIGINT, " +
            "sum_doc_id BIGINT, sum_chars BIGINT"))
      } finally spark.sql("DROP TABLE IF EXISTS v9_sql_merge_tbl")
    } finally deleteRecursively(Paths.get(tmp))
  }

  /** v10_create (round 13): table birth through the WRITE path — a
    * partitioned `CREATE TABLE … USING graftv PARTITIONED BY … AS
    * SELECT` (v1 from the CTAS write), a second FRESH table created by
    * a plain `df.write.format("graftv").save(freshPath)`, an `INSERT
    * INTO` feeding the CTAS table from it (v2, layout inherited), and
    * a `MERGE INTO` over the CTAS-born table (v3) — proving a table
    * born through SQL takes every row-level door. Step 4 reads the
    * final state through the connector with a partition filter (the
    * manifest's partition point stats prune the planned files). The
    * oracle replays the states relationally. */
  def createTableAsSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        pmod(col("doc_id"), lit(3)).as("pb"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    val tmp2 = {
      val d = Files.createTempDirectory("graft-versioned-2-")
      Files.delete(d) // truly fresh: created by the write itself
      d.toString
    }
    try {
      docs.createOrReplaceTempView("v10_create_src")
      spark.sql("DROP TABLE IF EXISTS v10_create_tbl")
      spark.sql(
        s"CREATE TABLE v10_create_tbl USING graftv PARTITIONED BY (pb) " +
          s"LOCATION '$tmp' AS SELECT doc_id, n_chars, pb " +
          "FROM v10_create_src WHERE doc_id % 2 = 0") // v1 (CTAS birth)
      try {
        docs.where(col("doc_id") % 2 === 1)
          .write.format("graftv").mode("append").save(tmp2) // fresh save
        spark.read.format("graftv").load(tmp2)
          .createOrReplaceTempView("v10_create_odds")
        spark.sql(
          "INSERT INTO v10_create_tbl SELECT doc_id, n_chars, pb " +
            "FROM v10_create_odds") // v2 (inherits the pb layout)
        spark.sql("""
          MERGE INTO v10_create_tbl AS tg
          USING (SELECT doc_id, -n_chars AS n_chars, pb
                 FROM v10_create_src WHERE doc_id % 5 = 0) AS s
          ON tg.doc_id = s.doc_id
          WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars
          WHEN NOT MATCHED THEN INSERT *
        """) // v3 (pure update: every %5 key exists at v2)
        def aggOf(df: DataFrame, step: Int) = df
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sd"),
            sum(col("n_chars")).as("sc"))
          .select(lit(step).as("step"), col("n"), col("sd"), col("sc"))
        val states = collectSteps(
          (1 to 3).map(v => aggOf(read(spark, tmp, Some(v)), v)) :+
            aggOf(spark.read.format("graftv").load(tmp)
              .where(col("pb") === 1), 4))
          .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(states, 1),
          StructType.fromDDL(
            "step INT, n_rows BIGINT, sum_doc_id BIGINT, sum_chars BIGINT"))
      } finally spark.sql("DROP TABLE IF EXISTS v10_create_tbl")
    } finally {
      deleteRecursively(Paths.get(tmp))
      deleteRecursively(Paths.get(tmp2))
    }
  }

  /** v16_dv (round 15, VERDICT r14 #1): DELETION VECTORS oracled.
    * v1 commits every document across 4 files; v2 point-DELETES the
    * %10=3 slice (sub-crossover per file → per-file ordinal sidecars,
    * zero data-file rewrites); v3 point-UPDATES the %10=6 slice
    * (+1e6 chars — preimages masked, postimages appended); v4
    * OPTIMIZE purges the masks. Steps: (1) head after the DV delete,
    * (2) head after the DV update, (3) time travel to v1 (the full
    * corpus — masks are versioned state), (4) head after the purge
    * (same rows as step 2, zero sidecars), (5) the delete's CDF rows.
    * `dv_present` pins the MECHANISM cross-engine: the engine reports
    * its sidecar count sign, the oracle hardcodes when one must (1,2)
    * and must not (3,4,5) exist. */
  def dvPointDml(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    val prior = spark.conf.getOption("spark.graft.dv.enabled")
    spark.conf.set("spark.graft.dv.enabled", "true")
    try {
      commit(docs.repartition(4), tmp, "append") // v1: 4 files
      deleteWhere(spark, tmp, col("doc_id") % 10 === 3) // v2: DV masks
      val dvAfterDelete = if (snapshot(tmp).dvs.nonEmpty) 1L else 0L
      updateWhere(spark, tmp, col("doc_id") % 10 === 6,
        Map("n_chars" -> (col("n_chars") + lit(1000000L)))) // v3
      val dvAfterUpdate = if (snapshot(tmp).dvs.nonEmpty) 1L else 0L
      optimize(spark, tmp, numFiles = 2) // v4: purge
      val dvAfterOptimize = if (snapshot(tmp).dvs.nonEmpty) 1L else 0L
      def aggOf(df: DataFrame, step: Int, dv: Long): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
          .select(lit(step).as("step"), col("n_rows"), col("sum_doc_id"),
            col("sum_chars"), lit(dv).as("dv_present"))
      val cdfDel = readChanges(spark, tmp, 1, 2)
        .where(col("_change_type") === "delete")
        .select(col("doc_id"), col("n_chars"))
      val steps = collectSteps(Seq(
        aggOf(read(spark, tmp, Some(2)), 1, dvAfterDelete),
        aggOf(read(spark, tmp, Some(3)), 2, dvAfterUpdate),
        aggOf(read(spark, tmp, Some(1)), 3, 0L),
        aggOf(read(spark, tmp), 4, dvAfterOptimize),
        aggOf(cdfDel, 5, 0L)))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(steps, 1),
        StructType.fromDDL("step INT, n_rows BIGINT, " +
          "sum_doc_id BIGINT, sum_chars BIGINT, dv_present BIGINT"))
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.graft.dv.enabled", v)
        case None => spark.conf.unset("spark.graft.dv.enabled")
      }
      deleteRecursively(Paths.get(tmp))
    }
  }

  /** v17_bloom (round 16): BLOOM SIDECARS oracled. Four single-file
    * appends keyed by `k = md5('k' || doc_id)` — every file's [min,
    * max] on `k` spans the whole hex space, so the RANGE tier can
    * prune nothing and any skipping is the bloom tier's. v5
    * point-DELETEs one key (bloom: the three key-less files carry by
    * reference); v6 MERGE-upserts four key tuples (2 updates + 2
    * fresh inserts, the CDC regime); the DSv2 read then point-SELECTs
    * a key through the pushed-filter bloom tier. `bloom_pin` pins the
    * MECHANISM cross-engine, the `dv_present` discipline: the engine
    * reports (1) sidecars exist for every v1 file, (2) the delete
    * carried ≥1 file by reference — impossible under range-only
    * pruning here, (3) the head SELECT's survivor set is a strict
    * subset of the files, (4) the merge carried ≥1 file; the oracle
    * hardcodes each. Results themselves never depend on pruning. */
  def bloomPointOps(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(md5(concat(lit("k"), col("doc_id"))).as("k"),
        col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
    def keyOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"k$id".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    val priorCols = spark.conf.getOption(BloomFilters.ColumnsConf)
    val priorDv = spark.conf.getOption("spark.graft.dv.enabled")
    spark.conf.set(BloomFilters.ColumnsConf, "k")
    spark.conf.set("spark.graft.dv.enabled", "false") // pin COW carry
    try {
      (0L until 4L).foreach { i => // v1–v4: one file per residue class
        commit(docs.where(pmod(col("doc_id"), lit(4)) === i).coalesce(1),
          tmp, "append")
      }
      val v4Files = snapshot(tmp).files.toSet
      val sidecarsComplete = v4Files.forall(f => java.nio.file.Files
        .exists(java.nio.file.Paths.get(norm(tmp),
          BloomFilters.sidecarRel(f))))
      deleteWhere(spark, tmp, col("k") === lit(keyOf(7))) // v5
      val v5Files = snapshot(tmp).files.toSet
      val delCarried = (v4Files & v5Files).nonEmpty
      val updates = docs.where(col("doc_id").isin(3L, 22L))
        .withColumn("n_chars", -col("n_chars"))
      val inserts = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(keyOf(-3L), -3L, 1111L), Row(keyOf(-7L), -7L, 2222L)), 1),
        StructType.fromDDL("k STRING, doc_id BIGINT, n_chars BIGINT"))
      merge(updates.unionByName(inserts), tmp, "k") // v6
      val v6Files = snapshot(tmp).files.toSet
      val mrgCarried = (v5Files & v6Files).nonEmpty
      val selSurvivors = BloomFilters.survivors(spark, norm(tmp),
        snapshot(tmp).files, Map("k" -> Seq(keyOf(13L))))
      val selPruned = selSurvivors.size < v6Files.size
      def pin(b: Boolean): Long = if (b) 1L else 0L
      def aggOf(df: DataFrame, step: Int, p: Long): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
          .select(lit(step).as("step"), col("n_rows"), col("sum_doc_id"),
            col("sum_chars"), lit(p).as("bloom_pin"))
      val cdfDel = readChanges(spark, tmp, 4, 5)
        .where(col("_change_type") === "delete")
        .select(col("doc_id"), col("n_chars"))
      val dsv2Sel = spark.read.format("graftv").load(tmp)
        .where(col("k") === lit(keyOf(13L)))
        .select(col("doc_id"), col("n_chars"))
      val steps = collectSteps(Seq(
        aggOf(read(spark, tmp, Some(5)), 1, pin(sidecarsComplete)),
        aggOf(read(spark, tmp), 2, pin(delCarried)),
        aggOf(dsv2Sel, 3, pin(selPruned)),
        aggOf(read(spark, tmp, Some(4)), 4, pin(mrgCarried)),
        aggOf(cdfDel, 5, 0L)))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(steps, 1),
        StructType.fromDDL("step INT, n_rows BIGINT, " +
          "sum_doc_id BIGINT, sum_chars BIGINT, bloom_pin BIGINT"))
    } finally {
      priorCols match {
        case Some(v) => spark.conf.set(BloomFilters.ColumnsConf, v)
        case None => spark.conf.unset(BloomFilters.ColumnsConf)
      }
      priorDv match {
        case Some(v) => spark.conf.set("spark.graft.dv.enabled", v)
        case None => spark.conf.unset("spark.graft.dv.enabled")
      }
      deleteRecursively(Paths.get(tmp))
    }
  }

  /** v18_compact (round 16): stats-driven COMPACTION + metadata
    * aggregates oracled. v1–v4 land four small single-file appends;
    * v5 `compact`s them (huge target → all four binpack into ONE
    * file, layout-only: rows must be untouched); a second compact
    * must be a NO-OP (a lone small file has nothing to merge with —
    * convergence, not churn). Step 2's count comes through the DSv2
    * door with no filter — the completely-pushed-down metadata
    * aggregate (log rows, zero data files opened). `pin` is the
    * mechanism column the oracle hardcodes: files before (4), files
    * after (1), time-travel files at v4 (4), no-op version held (1). */
  def compactLayout(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("n_chars"))
    val tmp = Files.createTempDirectory("graft-versioned-").toString
    try {
      (0L until 4L).foreach { i => // v1–v4: one small file each
        commit(docs.where(pmod(col("doc_id"), lit(4)) === i).coalesce(1),
          tmp, "append")
      }
      val filesBefore = snapshot(tmp).files.size.toLong
      val v5 = compact(spark, tmp, targetBytes = 1L << 30) // v5: binpack
      val filesAfter = snapshot(tmp).files.size.toLong
      val noopHeld =
        if (compact(spark, tmp, targetBytes = 1L << 30) == v5) 1L else 0L
      val dsv2Count = spark.read.format("graftv").load(tmp).count()
      def aggOf(df: DataFrame, step: Int, p: Long): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
          sum(col("doc_id")).as("sum_doc_id"),
          sum(col("n_chars")).as("sum_chars"))
          .select(lit(step).as("step"), col("n_rows"), col("sum_doc_id"),
            col("sum_chars"), lit(p).as("pin"))
      val tt = read(spark, tmp, Some(4))
      val agged = collectSteps(Seq(
        aggOf(read(spark, tmp), 1, filesBefore),
        aggOf(tt, 3, snapshot(tmp, Some(4)).files.size.toLong)))
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val steps = Seq(
        agged(0),
        Row(2, dsv2Count, 0L, 0L, filesAfter),
        agged(1),
        Row(4, 1L, 0L, 0L, noopHeld))
      spark.createDataFrame(
        spark.sparkContext.parallelize(steps, 1),
        StructType.fromDDL("step INT, n_rows BIGINT, " +
          "sum_doc_id BIGINT, sum_chars BIGINT, pin BIGINT"))
    } finally deleteRecursively(Paths.get(tmp))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v18_compact" -> (compactLayout _),
    "v17_bloom" -> (bloomPointOps _),
    "v16_dv" -> (dvPointDml _),
    "v15_clone" -> (cloneDivergence _),
    "v14_rename" -> (renameEvolution _),
    "v13_widen" -> (widenEvolution _),
    "v12_convert" -> (convertAdopt _),
    "v11_cdc_replicate" -> (cdcReplicate _),
    "v10_create" -> (createTableAsSelect _),
    "v9_sql_merge" -> (sqlMerge _),
    "v8_partitioned" -> (partitioned _),
    "v7_merge_composite" -> (mergeComposite _),
    "v1_time_travel" -> (timeTravel _),
    "v2_merge_upsert" -> (mergeUpsert _),
    "v3_source_read" -> (sourceRead _),
    "v4_change_feed" -> (changeFeed _),
    "v5_schema_evolution" -> (schemaEvolution _),
    "v6_cdf_apply" -> (cdfApply _))

  val oracle: Map[String, String] = Map(
    "v18_compact" -> """
      WITH d AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_chars AS BIGINT) AS n_chars FROM documents),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars, 4 AS pin FROM d
        UNION ALL
        SELECT 2, count(*), 0, 0, 1 FROM d
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars), 4 FROM d
        UNION ALL
        SELECT 4, 1, 0, 0, 1)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars,
             CAST(pin AS BIGINT) AS pin
      FROM agg ORDER BY step""",
    "v17_bloom" -> """
      WITH d AS (
        SELECT md5('k' || CAST(doc_id AS VARCHAR)) AS k,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents),
      live5 AS (SELECT * FROM d WHERE doc_id <> 7),
      live6 AS (
        SELECT k, doc_id,
               CASE WHEN doc_id IN (3, 22) THEN -n_chars
                    ELSE n_chars END AS n_chars
        FROM live5
        UNION ALL
        SELECT md5('k' || CAST(doc_id AS VARCHAR)) AS k, doc_id, n_chars
        FROM (VALUES (CAST(-3 AS BIGINT), CAST(1111 AS BIGINT)),
                     (CAST(-7 AS BIGINT), CAST(2222 AS BIGINT)))
             AS t(doc_id, n_chars)),
      sel AS (SELECT * FROM live6 WHERE k = md5('k13')),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars, 1 AS bloom_pin FROM live5
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars), 1 FROM live6
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars), 1 FROM sel
        UNION ALL
        SELECT 4, count(*), sum(doc_id), sum(n_chars), 1 FROM d
        UNION ALL
        SELECT 5, count(*), sum(doc_id), sum(n_chars), 0
        FROM (SELECT * FROM d WHERE doc_id = 7) del)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars,
             CAST(bloom_pin AS BIGINT) AS bloom_pin
      FROM agg ORDER BY step""",
    "v16_dv" -> """
      WITH d AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
      deleted AS (SELECT * FROM d WHERE doc_id % 10 = 3),
      live2 AS (SELECT * FROM d WHERE doc_id % 10 <> 3),
      live3 AS (
        SELECT doc_id,
               n_chars + CASE WHEN doc_id % 10 = 6 THEN 1000000
                         ELSE 0 END AS n_chars
        FROM live2),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars, 1 AS dv_present FROM live2
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars), 1 FROM live3
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars), 0 FROM d
        UNION ALL
        SELECT 4, count(*), sum(doc_id), sum(n_chars), 0 FROM live3
        UNION ALL
        SELECT 5, count(*), sum(doc_id), sum(n_chars), 0 FROM deleted)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars,
             CAST(dv_present AS BIGINT) AS dv_present
      FROM agg ORDER BY step""",
    "v15_clone" -> """
      WITH evens AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
        WHERE doc_id % 2 = 0),
      odds AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
        WHERE doc_id % 2 = 1),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars
        FROM (SELECT * FROM evens UNION ALL SELECT * FROM odds)
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars) FROM evens
        WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars) FROM evens)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY step""",
    "v14_rename" -> """
      WITH all_docs AS (
        SELECT doc_id,
               CAST(n_chars AS BIGINT) +
                 CASE WHEN doc_id % 6 = 0 THEN 1000000 ELSE 0 END AS chars
        FROM documents),
      evens AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS cnt FROM documents
        WHERE doc_id % 2 = 0),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(cnt) AS sum_c,
               count(*) AS tag_count FROM evens
        UNION ALL
        SELECT 2, count(*), sum(chars), 0 FROM all_docs
        UNION ALL
        SELECT 3, count(*), sum(chars), 0 FROM all_docs
        WHERE doc_id % 2 = 0
        UNION ALL
        -- nested leg (round 15): head through the renamed struct
        -- field; re-added prov.src reads NULL (tag_count 0)
        SELECT 4, count(*), sum(cnt), 0 FROM evens
        UNION ALL
        -- time travel to the nested v1: original names, src non-null
        SELECT 5, count(*), sum(cnt), count(*) FROM evens)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_c AS BIGINT) AS sum_c,
             CAST(tag_count AS BIGINT) AS tag_count
      FROM agg ORDER BY step""",
    "v13_widen" -> """
      WITH evens AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n FROM documents
        WHERE doc_id % 2 = 0),
      odds AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) + 3000000000 AS n,
               CAST(n_chars AS BIGINT) AS x4
        FROM documents WHERE doc_id % 2 = 1),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(n) AS sum_n,
               sum(n) AS sum_x4, 0 AS n_is_long FROM evens
        UNION ALL
        SELECT 2, (SELECT count(*) FROM evens) + (SELECT count(*) FROM odds),
               (SELECT sum(n) FROM evens) + (SELECT sum(n) FROM odds),
               (SELECT sum(n) FROM evens) + (SELECT sum(x4) FROM odds), 1
        UNION ALL
        SELECT 3, count(*), sum(n), sum(n), 1 FROM evens)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_n AS BIGINT) AS sum_n,
             CAST(sum_x4 AS BIGINT) AS sum_x4,
             CAST(n_is_long AS INT) AS n_is_long
      FROM agg ORDER BY step""",
    "v12_convert" -> """
      WITH agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars
        FROM documents
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars) FROM documents
        WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars) FROM documents)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY step""",
    "v11_cdc_replicate" -> """
      WITH base AS (
        SELECT doc_id, n_chars FROM documents WHERE doc_id % 4 IN (0, 1)),
      m AS (
        SELECT doc_id, n_chars + 1000000 AS n_chars
        FROM documents WHERE doc_id % 6 = 0),
      upserted AS (
        SELECT COALESCE(m.doc_id, b.doc_id) AS doc_id,
               COALESCE(m.n_chars, b.n_chars) AS n_chars
        FROM base b FULL OUTER JOIN m ON b.doc_id = m.doc_id),
      afterdel AS (SELECT * FROM upserted WHERE doc_id % 10 <> 0),
      final AS (
        SELECT doc_id,
               CASE WHEN doc_id % 9 = 1 THEN -n_chars ELSE n_chars END
                 AS n_chars
        FROM afterdel)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(0 AS BIGINT) AS diff_rows
      FROM final""",
    "v10_create" -> """
      WITH state3 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN -n_chars ELSE n_chars END
                 AS n_chars,
               doc_id % 3 AS pb
        FROM documents),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars) FROM documents
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars) FROM state3
        UNION ALL
        SELECT 4, count(*), sum(doc_id), sum(n_chars) FROM state3
        WHERE pb = 1)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY step""",
    "v9_sql_merge" -> """
      WITH state2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 6 = 0 THEN -n_chars ELSE n_chars END
                 AS n_chars
        FROM documents
        WHERE (doc_id % 2 = 0 AND doc_id % 30 <> 0)
           OR (doc_id % 2 = 1 AND doc_id % 3 = 0 AND doc_id % 7 <> 0)),
      state3 AS (
        SELECT * FROM state2 WHERE NOT (doc_id >= 10 AND doc_id < 40)),
      state4 AS (
        SELECT doc_id,
               CASE WHEN doc_id >= 40 AND doc_id < 48 THEN n_chars * 3
                    ELSE n_chars END AS n_chars
        FROM state3),
      rows_out AS (
        SELECT 1 AS step, 'state' AS kind, count(*) AS n_rows,
               sum(doc_id) AS sum_doc_id, sum(n_chars) AS sum_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 2, 'state', count(*), sum(doc_id), sum(n_chars) FROM state2
        UNION ALL
        SELECT 3, 'state', count(*), sum(doc_id), sum(n_chars) FROM state3
        UNION ALL
        SELECT 4, 'state', count(*), sum(doc_id), sum(n_chars) FROM state4
        UNION ALL
        SELECT 2, 'delete', count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 30 = 0
        UNION ALL
        SELECT 2, 'insert', count(*), sum(doc_id), sum(n_chars)
        FROM documents
        WHERE doc_id % 2 = 1 AND doc_id % 3 = 0 AND doc_id % 7 <> 0
        UNION ALL
        SELECT 2, 'update_preimage', count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 6 = 0 AND doc_id % 30 <> 0
        UNION ALL
        SELECT 2, 'update_postimage', count(*), sum(doc_id), sum(-n_chars)
        FROM documents WHERE doc_id % 6 = 0 AND doc_id % 30 <> 0
        UNION ALL
        SELECT 3, 'delete', count(*), sum(doc_id), sum(n_chars)
        FROM state2 WHERE doc_id >= 10 AND doc_id < 40
        UNION ALL
        SELECT 4, 'update_preimage', count(*), sum(doc_id), sum(n_chars)
        FROM state3 WHERE doc_id >= 40 AND doc_id < 48
        UNION ALL
        SELECT 4, 'update_postimage', count(*), sum(doc_id),
               sum(n_chars * 3)
        FROM state3 WHERE doc_id >= 40 AND doc_id < 48)
      SELECT CAST(step AS INT) AS step, kind,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM rows_out ORDER BY step, kind""",
    "v8_partitioned" -> """
      WITH state3 AS (
        SELECT doc_id, doc_id % 4 AS pb,
               CASE WHEN doc_id % 3 = 0 THEN -n_chars ELSE n_chars END
                 AS n_chars
        FROM documents),
      agg AS (
        SELECT 1 AS step, count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars
        FROM state3 WHERE pb = 2
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars) FROM state3
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 2 = 0)
      SELECT CAST(step AS INT) AS step,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY step""",
    "v7_merge_composite" -> """
      WITH state2 AS (
        SELECT doc_id, doc_id % 7 AS bucket,
               CASE WHEN doc_id % 3 = 0 THEN -n_chars ELSE n_chars END
                 AS n_chars,
               n_chars AS n0
        FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0),
      state3 AS (SELECT * FROM state2 WHERE doc_id % 5 <> 0),
      -- v4 clause chain: clause 0 deletes matched rows with source
      -- bucket 1; clause 1 (first-match-wins after it) fires when
      -- source.n_chars > target.n_chars -- the target holds -n0
      -- exactly for 3|doc_id, so the condition is n0 > 0 there and
      -- false (n0 > n0) elsewhere -- and SETs n_chars to
      -- 2*source + target = 2*n0 - n0 = n0
      upd4 AS (
        SELECT doc_id, bucket, n0 FROM state3
        WHERE doc_id % 4 = 0 AND doc_id % 7 <> 1 AND doc_id % 12 = 0
          AND n0 > 0),
      ins4 AS (
        SELECT doc_id, doc_id % 7 AS bucket, n_chars FROM documents
        WHERE doc_id % 4 = 0 AND doc_id % 5 = 0 AND doc_id % 7 <> 2),
      state4 AS (
        SELECT doc_id, bucket,
               CASE WHEN doc_id % 4 = 0 AND doc_id % 7 <> 1
                         AND doc_id % 12 = 0 AND n0 > 0
                    THEN n0 ELSE n_chars END AS n_chars
        FROM state3 WHERE NOT (doc_id % 4 = 0 AND doc_id % 7 = 1)
        UNION ALL
        SELECT doc_id, bucket, n_chars FROM ins4),
      rows_out AS (
        SELECT 1 AS step, 'state' AS kind, count(*) AS n_rows,
               sum(doc_id % 7) AS sum_bucket, sum(n_chars) AS sum_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 2, 'state', count(*), sum(bucket), sum(n_chars) FROM state2
        UNION ALL
        SELECT 3, 'state', count(*), sum(bucket), sum(n_chars) FROM state3
        UNION ALL
        SELECT 4, 'state', count(*), sum(bucket), sum(n_chars) FROM state4
        UNION ALL
        SELECT 2, 'update_preimage', count(*), sum(doc_id % 7),
               sum(n_chars)
        FROM documents WHERE doc_id % 6 = 0
        UNION ALL
        SELECT 2, 'update_postimage', count(*), sum(doc_id % 7),
               sum(-n_chars)
        FROM documents WHERE doc_id % 6 = 0
        UNION ALL
        SELECT 2, 'insert', count(*), sum(doc_id % 7), sum(-n_chars)
        FROM documents WHERE doc_id % 3 = 0 AND doc_id % 2 <> 0
        UNION ALL
        SELECT 3, 'delete', count(*), sum(bucket), sum(n_chars)
        FROM state2 WHERE doc_id % 5 = 0
        UNION ALL
        SELECT 4, 'delete', count(*), sum(bucket), sum(n_chars)
        FROM state3 WHERE doc_id % 4 = 0 AND doc_id % 7 = 1
        UNION ALL
        SELECT 4, 'update_preimage', count(*), sum(bucket), sum(-n0)
        FROM upd4
        UNION ALL
        SELECT 4, 'update_postimage', count(*), sum(bucket), sum(n0)
        FROM upd4
        UNION ALL
        SELECT 4, 'insert', count(*), sum(bucket), sum(n_chars)
        FROM ins4)
      SELECT CAST(step AS INT) AS step, kind,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_bucket AS BIGINT) AS sum_bucket,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM rows_out ORDER BY step, kind""",
    "v6_cdf_apply" -> """
      WITH state2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN -n_chars ELSE n_chars END
                 AS n_chars
        FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0),
      state3 AS (SELECT * FROM state2 WHERE doc_id % 5 <> 0)
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM state3""",
    "v4_change_feed" -> """
      WITH agg AS (
        SELECT 2 AS commit_version, 'insert' AS change_type,
               count(*) AS n_rows, sum(doc_id) AS sum_doc_id,
               sum(n_chars) AS sum_chars
        FROM documents WHERE doc_id % 3 = 1
        UNION ALL
        SELECT 3, 'insert', count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 3 = 2
        UNION ALL
        SELECT 4, 'update_preimage', count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT 4, 'update_postimage', count(*), sum(doc_id), sum(-n_chars)
        FROM documents WHERE doc_id % 5 = 0)
      SELECT CAST(commit_version AS INT) AS commit_version,
             change_type,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY commit_version, change_type""",
    "v5_schema_evolution" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
               AS n_extra,
             CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars * 2
                           ELSE 0 END) AS BIGINT) AS sum_extra,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents""",
    "v3_source_read" -> """
      WITH agg AS (
        SELECT 1 AS version, count(*) AS n_rows, sum(n_chars) AS sum_chars
        FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT 2, count(*), sum(n_chars)
        FROM documents WHERE doc_id % 4 IN (0, 2))
      SELECT CAST(version AS INT) AS version,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY version""",
    "v2_merge_upsert" -> """
      WITH state2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN -n_chars ELSE n_chars END
                 AS n_chars
        FROM documents WHERE doc_id % 2 = 0 OR doc_id % 3 = 0),
      agg AS (
        SELECT 1 AS version, count(*) AS n_rows,
               sum(doc_id) AS sum_doc_id, sum(n_chars) AS sum_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars) FROM state2
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars) FROM state2
        WHERE doc_id % 5 <> 0)
      SELECT CAST(version AS INT) AS version,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY version""",
    "v1_time_travel" -> """
      WITH agg AS (
        SELECT 1 AS version, count(*) AS n_rows,
               sum(doc_id) AS sum_doc_id, sum(n_chars) AS sum_chars
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT 2, count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 3 IN (0, 1)
        UNION ALL
        SELECT 3, count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 4, count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 3 IN (0, 1)
        UNION ALL
        -- row 5: the timestampAsOf read of the latest stamp == v4
        SELECT 5, count(*), sum(doc_id), sum(n_chars)
        FROM documents WHERE doc_id % 3 IN (0, 1))
      SELECT CAST(version AS INT) AS version,
             CAST(n_rows AS BIGINT) AS n_rows,
             CAST(sum_doc_id AS BIGINT) AS sum_doc_id,
             CAST(sum_chars AS BIGINT) AS sum_chars
      FROM agg ORDER BY version""")
}
