package graft

/** Benchmark main. Measurement discipline (round-4 hardening):
  *
  *  - query order is PINNED (sorted names) so per-query times are
  *    comparable across rounds — interleaving noise was confounding
  *    round-over-round perf deltas;
  *  - two passes: COLD (first execution, includes parquet footer
  *    reads and JIT warm-up per query) and WARM (identical second
  *    pass over the already-warm session) — the warm pass is the
  *    stable signal, the cold−warm gap is the noise estimate;
  *  - the COMPLETE per-query JSON for both passes is written to
  *    `bench/bench_<sf>.json` (the driver's stdout capture truncates
  *    long lines, which lost heads/tails of rounds 2–3);
  *  - stdout still carries the one-line driver contract (LAST line,
  *    values rounded to 3 decimals to keep it short).
  */
object Bench {
  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** Per-query (cold, warm) seconds from the previous artifact
    * (`bench/bench_<sf>.json` as it exists on disk BEFORE this run
    * overwrites it). We control the writer, so a line-oriented regex
    * on `"name": {"cold": X, "warm": Y}` is exact; missing/unreadable
    * file → empty map (guards simply disarmed on first run). Both the
    * whole-run contention keep-gate (round 8) and the `contended`
    * self-verdict (round 9) compare against the INTERSECTION of query
    * names with this map — a growing surface must not disarm them
    * (round-9 lesson: three new queries nulled the verdict exactly
    * when it was needed). */
  private[graft] def benchBaselineBoth(sfName: String)
      : Map[String, (Double, Double)] = {
    // `[,}]` after warm, not `}`: round-13 artifacts append
    // "warm_per_calib" after warm, and the guard regex must keep
    // reading BOTH artifact generations.
    val line = """"([A-Za-z0-9_]+)":\s*\{"cold":\s*([-0-9.eE]+),\s*"warm":\s*([-0-9.eE]+)[,}]""".r
    priorArtifact(sfName)(text => line.findAllMatchIn(text)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
      .toMap).getOrElse(Map.empty)
  }

  /** `read` over the text of the committed `bench/bench_<sf>.json`;
    * None when it is missing, unreadable or `read` throws. */
  private def priorArtifact[A](sfName: String)(read: String => A): Option[A] =
    try {
      val p = java.nio.file.Paths.get(s"bench/bench_$sfName.json")
      if (!java.nio.file.Files.isReadable(p)) None
      else Some(read(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
    } catch { case _: Throwable => None }

  /** Calibration-normalized round-over-round movers: for each name in
    * `common`, compare (warm/calibration) now vs the committed
    * artifact and keep those beyond `threshold`× in either direction
    * (ratio > t or < 1/t). Queries under `floorSec` on both sides are
    * exempt — scheduler jitter dominates there. Returns
    * (name, prevWarm, nowWarm, adjustedRatio) sorted worst-first. */
  private[graft] def adjustedDrift(prior: Map[String, (Double, Double)],
      nowWarm: Map[String, Double], common: Seq[String],
      priorCalib: Double, calibNow: Double, threshold: Double = 1.5,
      floorSec: Double = 0.5): Seq[(String, Double, Double, Double)] =
    common.flatMap { n =>
      val prevW = prior(n)._2
      val nowW = nowWarm(n)
      if (math.max(prevW, nowW) < floorSec) None
      else {
        val prevAdj = prevW / priorCalib
        val nowAdj = nowW / math.max(calibNow, 1e-9)
        val ratio = if (prevAdj > 0) nowAdj / prevAdj else 1.0
        if (ratio > threshold || ratio < 1.0 / threshold)
          Some((n, prevW, nowW, ratio))
        else None
      }
    }.sortBy(-_._4)

  /** Machine-speed basis of the committed artifact for `sfName`: the
    * MEAN of its start/end calibrations (per-query times are spread
    * across the whole run, so a single endpoint is the wrong divisor
    * when the canary itself drifted mid-run — this round's closing
    * bench measured 0.139 start vs 0.213 end and a start-only basis
    * mis-flagged 53 queries). None on first run / unreadable. */
  private[graft] def priorCalibration(sfName: String): Option[Double] = {
    val start = """"calibration_sec":\s*([-0-9.eE]+)""".r
    val end = """"calibration_end_sec":\s*([-0-9.eE]+)""".r
    priorArtifact(sfName) { text =>
      start.findFirstMatchIn(text).map(_.group(1).toDouble).map { s =>
        end.findFirstMatchIn(text).map(_.group(1).toDouble)
          .fold(s)(e => (s + e) / 2)
      }
    }.flatten
  }

  private[graft] def benchBaseline(sfName: String): Map[String, Double] =
    benchBaselineBoth(sfName).map { case (k, (_, w)) => k -> w }

  /** Core count the committed artifact was measured at (round 17,
    * VERDICT r16 #1: the driver's 8-core scaling leg refreshed the
    * default artifact, so round-17 drift/contention gates would have
    * adjudicated 32-core runs against an 8-core basis). None when the
    * artifact predates the field or is unreadable. */
  private[graft] def priorCpus(sfName: String): Option[Int] = {
    val re = """"cpus":\s*([0-9]+)""".r
    priorArtifact(sfName)(re.findFirstMatchIn(_).map(_.group(1).toInt))
      .flatten
  }

  /** Stable hash of a query's PHYSICAL plan SHAPE (round 14, VERDICT
    * r13 #9): the operator tree's node names only — no expression
    * ids, no literals, no paths — so the hash moves exactly when the
    * plan's operator structure moves. Drift adjudication reads it to
    * separate "the plan changed" (code/optimizer regression) from
    * "the same plan ran slower" (machine). AQE note: this is the
    * INITIAL physical plan (runtime re-plans depend on runtime stats
    * and would make the hash nondeterministic). */
  private[graft] def planShapeHash(df: org.apache.spark.sql.DataFrame)
      : String = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): StringBuilder = {
      val sb = new StringBuilder(p.nodeName)
      sb += '('
      p.children.foreach { c => sb.append(walk(c)); sb += ',' }
      // subqueries/broadcast exchanges hide under expressions in some
      // nodes; the child tree is the shape signal, which is enough to
      // catch join-strategy/exchange/codegen-boundary changes
      sb += ')'
      sb
    }
    // AQE wraps the whole query in a CHILDLESS AdaptiveSparkPlanExec
    // (the inner plan is a field, not a child) — hash its initial
    // plan, the deterministic pre-runtime shape
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val s = walk(root).toString
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
  }

  /** Per-query plan-shape hashes from the committed artifact (absent
    * in pre-round-14 artifacts → empty). */
  private[graft] def priorShapes(sfName: String): Map[String, String] = {
    val line = """"([A-Za-z0-9_]+)":\s*\{"cold":[^}]*"plan_shape":\s*"([0-9a-f]+)"""".r
    priorArtifact(sfName)(line.findAllMatchIn(_)
      .map(m => m.group(1) -> m.group(2)).toMap).getOrElse(Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Study.cpus
    // log level ERROR: nothing may print after the JSON line
    val spark = Study.session()

    // optional comma-separated subset (e.g. the documents/embeddings
    // family for the second scale point, whose dir carries only those
    // tables); default = the full registered surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted // pinned order
      .filter(n => only.forall(_.contains(n)))

    // Fixture preflight (round-5 lesson: a missing events table made 8
    // queries "pass" at no-op speed and contaminated the totals). Full-
    // surface runs require EVERY fixture table non-empty; subset runs
    // (scale-point dirs carry only the doc/embedding family) require
    // every table present in the dir to be non-empty.
    val requiredTables =
      if (only.isEmpty) Tables.all
      else Tables.all.filter(t => new java.io.File(s"$sfDir/$t.parquet").exists())
    val tableCounts = Tables.preflight(spark, sfDir, requiredTables)
    // JVM/codegen warm-up so the first timed query isn't charged for
    // session start-up (footers are already warm from the preflight).
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // Cross-round machine-drift canary (round 12; VERDICT r11 #9):
    // a FIXED pure-CPU, data-independent kernel timed at run start
    // and end (median of 3 laps). Its code never changes across
    // rounds, so calibration_sec moves ONLY with the machine — the
    // committed warm total walked 112.6 → 129.6 → 135.6 s across
    // closings on near-identical code, and cross-round per-query
    // deltas can now be normalized against this basis instead of
    // hand-adjudicated.
    def calibrate(): Double = {
      val laps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // bit_xor, not sum: 2^27 full-range hashes overflow a Long
        // sum under ANSI; xor is the same CPU work with no overflow
        spark.range(1L << 27)
          .selectExpr("bit_xor(xxhash64(id * 2654435761))").collect()
        (System.nanoTime() - t0) / 1e9
      }
      laps.sorted.apply(1)
    }
    val calibStart = calibrate()

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val shapes = scala.collection.mutable.HashMap[String, String]()
    def time1(name: String, captureShape: Boolean = false): Double = {
      val t0 = System.nanoTime()
      var df: org.apache.spark.sql.DataFrame = null
      // noop sink materializes every output column (a bare count()
      // would let Catalyst prune projections and under-measure).
      try {
        df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // plan-shape hash (round 14) OUTSIDE the timed window, on the
      // warm pass only — planning cost only, the query is not re-run
      if (captureShape && df != null && !failed(name))
        try { shapes(name) = planShapeHash(df) }
        catch { case _: Throwable => () }
      sec
    }
    def pass(captureShape: Boolean = false): Seq[(String, Double)] =
      names.map(n => n -> time1(n, captureShape))
    // Cross-cpus guard (round 17, VERDICT r16 #1): every committed-
    // artifact comparison below (spike guard, contention verdict,
    // drift adjudication, refresh gate) is meaningless across core
    // counts — the r16 driver's 8-core scaling leg refreshed the
    // committed artifact and would have adjudicated this round's
    // 32-core runs against an 8-core basis. On mismatch the basis
    // disarms (as on a first run) and the artifact write is keyed
    // by core count instead of clobbering the committed one.
    val sfNameEarly = new java.io.File(sfDir).getName
    val cpusMismatch = priorCpus(sfNameEarly).exists(_ != cpus)
    val cold = pass()
    val warm0 = pass(captureShape = true)

    // Spike re-run protocol (documented in COVERAGE.md §Scaling since
    // round 3, now automated): sandbox interference shows up as a warm
    // time far above the same query's cold time — algorithmically
    // impossible, so re-measure those queries once, isolated at the
    // end, and report the re-run as the warm value with the original
    // kept in `spikes_rerun` so the artifact self-documents.
    //
    // Round-7 extension (regression guard): the warm-vs-cold rule is
    // blind when BOTH laps of a query are contended (r6's
    // m6_materials_e2e: 9.97 cold / 10.44 warm vs three independent
    // ~2.2 s measurements). So any query whose new warm also exceeds
    // 2.5× its warm in the PREVIOUS COMMITTED artifact gets the same
    // isolated re-measure — a contaminated refresh can no longer
    // silently become the new baseline.
    val coldMap = cold.toMap
    val baselineWarm: Map[String, Double] =
      if (cpusMismatch) Map.empty else benchBaseline(sfNameEarly)
    val spikedVsCold = warm0.collect {
      case (n, w) if !failed(n) && w > math.max(1.5, 2.5 * coldMap(n)) => n
    }
    val spikedVsBaseline = warm0.collect {
      case (n, w) if !failed(n) && baselineWarm.get(n)
        .exists(b => w > math.max(1.5, 2.5 * b)) => n
    }
    val spiked = (spikedVsCold ++ spikedVsBaseline).distinct
    val reruns = spiked.map(n => n -> time1(n)).toMap
    val warm = warm0.map { case (n, w) =>
      n -> reruns.get(n).map(math.min(_, w)).getOrElse(w)
    }
    val coldTotal = cold.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    val calibEnd = calibrate() // drift DURING the run shows as end/start

    // Contention self-verdict (round-9; VERDICT r8 "What's wrong" #5:
    // two driver refreshes in a row had to be adjudicated by hand).
    // Basis: the committed artifact for the same surface. A run whose
    // totals exceed the committed ones by >1.3× on identical code is
    // environment contention, not a regression — the per-query spike
    // protocol above already re-measures the worst offenders, so the
    // whole-run verdict compares totals AFTER those re-runs. null when
    // there is no same-surface committed basis (first run / subset).
    // The basis is the INTERSECTION of query names with the previous
    // artifact (a growing surface must not disarm the verdict — round
    // 9 lesson: three new queries made the verdict null exactly when
    // it was needed), required to cover ≥90% of the old surface so a
    // subset run still can't masquerade as a basis.
    // FAILED queries are excluded from the basis, and any failure
    // disarms the verdict and the refresh gate outright (round-9
    // ADVICE): time1 records elapsed-to-failure (often ~0 s), so a run
    // where heavy queries crash would otherwise report deflated totals
    // that both pass the keep-gate and read as uncontended — a crashing
    // run must never adjudicate performance or become the baseline.
    val prior =
      if (cpusMismatch) Map.empty[String, (Double, Double)]
      else benchBaselineBoth(sfNameEarly)
    val common = names.filter(n => prior.contains(n) && !failed(n))
    val basisOk = failed.isEmpty && prior.nonEmpty &&
      common.size >= (0.9 * prior.size)
    // Round-11 split (VERDICT r10 "What's wrong" #3): cold and warm
    // are adjudicated INDEPENDENTLY. Warm is the verdict metric (the
    // stable signal); cold includes per-query first-execution noise
    // (footer reads, JIT) and on this box sat at 1.299x of basis with
    // the old combined 1.3 gate — one slow cold JVM must not flap the
    // warm verdict. `contended` remains the headline (= warm verdict,
    // what VERDICT reads); `contended_cold` reports the cold side on
    // its own.
    val warmMapNow = warm.toMap
    val coldMapNow = cold.toMap
    val (contended, contendedCold): (Option[Boolean], Option[Boolean]) =
      if (!basisOk) (None, None)
      else {
        val cCold = common.map(n => prior(n)._1).sum
        val cWarm = common.map(n => prior(n)._2).sum
        val nCold = common.map(coldMapNow).sum
        val nWarm = common.map(warmMapNow).sum
        (Some(nWarm > 1.3 * cWarm), Some(nCold > 1.3 * cCold))
      }
    def contendedJson: String = (contended, contendedCold) match {
      case (None, _) => """"contended": null, "contended_cold": null"""
      case (Some(w), c) =>
        val cCold = common.map(n => prior(n)._1).sum
        val cWarm = common.map(n => prior(n)._2).sum
        s""""contended": $w, "contended_cold": ${c.map(_.toString).getOrElse("null")}, "contended_basis": {"committed_cold_total": ${r3(cCold)}, "committed_warm_total": ${r3(cWarm)}, "common_queries": ${common.size}, "threshold": 1.3, "verdict_metric": "warm"}"""
    }

    // Calibration-normalized drift adjudication (round 13; VERDICT r12
    // #6): the canary exists since r12 but nothing consumed it. For
    // every query present in BOTH this run and the committed artifact,
    // compare machine-speed-adjusted warm times — (warm/calibration)
    // now vs then — and flag any mover beyond 1.5× in either
    // direction. This separates code regressions from machine-day
    // drift per query (r12's p1/j3 noise would have been adjudicated
    // automatically: their raw deltas were inside 1.5× once divided
    // by the calibration shift). Sub-0.5 s queries are exempt — at
    // that size scheduler jitter dominates and the flag would flood.
    val priorCalib =
      if (cpusMismatch) None else priorCalibration(sfNameEarly)
    // mean of start/end, matching priorCalibration's basis: per-query
    // times are spread across the run, so neither endpoint alone is
    // the right divisor when the canary drifted mid-run
    val calibNow = math.max((calibStart + calibEnd) / 2, 1e-9)
    // if the canary itself moved >1.4× within THIS run, the machine
    // was not steady enough for per-query adjudication — still emit
    // the ratios, but mark the whole block unstable so a reader (and
    // the next round's judge) discounts the flags
    val calibUnstable =
      math.max(calibStart, calibEnd) >
        1.4 * math.max(math.min(calibStart, calibEnd), 1e-9)
    val driftFlagged: Seq[(String, Double, Double, Double)] =
      priorCalib match {
        case Some(pc) if pc > 0 && basisOk =>
          adjustedDrift(prior, warmMapNow, common, pc, calibNow)
        case _ => Nil
      }
    // Plan-shape adjudication (round 14, VERDICT r13 #9): a drift
    // flag whose plan shape ALSO moved indicts the code/optimizer; an
    // unchanged shape clears the code and indicts the machine/JIT.
    // `plan_shape_changed` lists EVERY mover, time-flagged or not
    // (a shape change that got faster still deserves a PLANS.md look).
    val prevShapes =
      if (cpusMismatch) Map.empty[String, String]
      else priorShapes(sfNameEarly)
    def shapeChanged(n: String): Option[Boolean] =
      for { p <- prevShapes.get(n); c <- shapes.get(n) } yield p != c
    val shapeMoved = names.filter(n => shapeChanged(n).contains(true))
    val driftJson = (priorCalib match {
      case Some(pc) =>
        s""""calibration_adjusted_drift": {"basis_calibration_sec": ${r3(pc)}, "run_calibration_sec": ${r3(calibNow)}, "calibration_unstable": $calibUnstable, "threshold": 1.5, "floor_sec": 0.5, "flagged": {""" +
          driftFlagged.map { case (n, pw, nw, r) =>
            val sc = shapeChanged(n).map(_.toString).getOrElse("null")
            s""""$n": {"prev_warm": ${r3(pw)}, "warm": ${r3(nw)}, "adjusted_ratio": ${r3(r)}, "shape_changed": $sc}"""
          }.mkString(", ") + "}}"
      case None =>
        """"calibration_adjusted_drift": null"""
    }) + s""",\n  "plan_shape_changed": [""" +
      shapeMoved.map(n => s""""$n"""").mkString(", ") + "]"

    // complete two-pass artifact (committed alongside the code)
    val sfName = new java.io.File(sfDir).getName
    val full = new StringBuilder
    full ++= s"""{\n  "sf": "$sfName",\n  "cpus": $cpus,\n"""
    full ++= s"""  "cold_total_sec": ${r3(coldTotal)},\n"""
    full ++= s"""  "warm_total_sec": ${r3(warmTotal)},\n"""
    full ++= s"""  "calibration_sec": ${r3(calibStart)},\n"""
    full ++= s"""  "calibration_end_sec": ${r3(calibEnd)},\n"""
    full ++= s"""  $contendedJson,\n"""
    full ++= s"""  $driftJson,\n"""
    full ++= s"""  "tables": {""" + tableCounts.map { case (n, c) => s""""$n": $c""" }
      .mkString(", ") + "},\n"
    full ++= s"""  "failed": [""" + failed.map(n => s""""$n"""").mkString(", ") + "],\n"
    full ++= s"""  "spikes_rerun": {""" + spiked.map { n =>
      val trigger =
        (if (spikedVsCold.contains(n)) Seq("warm_vs_cold") else Nil) ++
        (if (spikedVsBaseline.contains(n)) Seq("vs_committed_baseline") else Nil)
      s""""$n": {"contended_warm": ${r3(warm0.toMap.apply(n))}, "rerun": ${r3(reruns(n))}, "trigger": ${trigger.map(t => s""""$t"""").mkString("[", ", ", "]")}}"""
    }.mkString(", ") + "},\n"
    // one-time build cost of each SessionTable-materialized shared
    // table (cluster labels, signature tables); see SessionTable.scala
    full ++= s"""  "materialization_cost": {""" +
      graft.operators.SessionTable.buildCosts.toSeq.sortBy(_._1)
        .map { case (k, s) => s""""$k": ${r3(s)}""" }.mkString(", ") + "},\n"
    full ++= s"""  "order": "sorted query names (pinned)",\n  "queries": {\n"""
    val warmMap = warm.toMap
    // warm_per_calib = warm / calibration_sec: the machine-speed-
    // normalized per-query time the NEXT round's drift adjudication
    // divides against (and the unit a human should compare across
    // rounds — it moves only with code).
    full ++= names.map { n =>
      val shape = shapes.get(n)
        .map(h => s""", "plan_shape": "$h"""").getOrElse("")
      s"""    "$n": {"cold": ${r3(cold.toMap.apply(n))}, "warm": ${r3(warmMap(n))}, "warm_per_calib": ${r3(warmMap(n) / calibNow)}$shape}"""
    }.mkString(",\n")
    full ++= "\n  }\n}\n"
    // a SPARK_GRAFT_ONLY-subset run must not clobber the committed
    // full-surface artifact unless the caller names an output
    // explicitly (the sf0.5x artifact IS a named subset: its dir
    // carries only the documents/embeddings tables)
    val defaultPath = s"bench/bench_$sfName.json"
    val benchOut0 = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some(defaultPath) else None)
    // cpus-mismatch keying (round 17, VERDICT r16 #1): a run at a
    // different core count than the committed artifact writes
    // bench_<sf>_c<cpus>.json instead of clobbering the committed
    // basis (the r16 8-core scaling leg poisoned it).
    // SPARK_GRAFT_FORCE_REFRESH=1 rebases the default artifact
    // deliberately (and records the new cpus).
    val keyedByCpus = cpusMismatch &&
      !sys.env.get("SPARK_GRAFT_FORCE_REFRESH").contains("1") &&
      benchOut0.contains(defaultPath)
    val benchOut =
      if (keyedByCpus) Some(s"bench/bench_${sfName}_c$cpus.json")
      else benchOut0
    // Whole-run contention gate (round-8 lesson: the per-query guard's
    // 1.5 s floor let an end-of-round refresh with the double-
    // contention signature — cold_total 302 s vs the committed 175 s —
    // replace a clean committed artifact, with many sub-threshold
    // inflations riding in). If this refresh targets the COMMITTED
    // default path, the query surface is unchanged, and the new
    // cold_total exceeds the committed cold_total by >1.5×, the run is
    // environment contention, not a regression: keep the committed
    // artifact. Override with SPARK_GRAFT_FORCE_REFRESH=1 (for a real
    // surface-neutral slowdown you intend to record).
    val isDefaultPath = benchOut.contains(defaultPath)
    val gateRejected: Boolean = isDefaultPath && (
      // a run with ANY failed query never replaces the committed
      // artifact — its totals are deflated by elapsed-to-failure
      // timings (see the basis note above); force-refresh can't
      // override this one (a crash is never "a real slowdown you
      // intend to record")
      failed.nonEmpty ||
      (!sys.env.get("SPARK_GRAFT_FORCE_REFRESH").contains("1") &&
        basisOk && {
          val cCold = common.map(n => prior(n)._1).sum
          common.map(coldMapNow).sum > 1.5 * cCold
        }))
    if (!gateRejected) benchOut.foreach { p =>
      val path = java.nio.file.Paths.get(p)
      Option(path.getParent)
        .foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(path, full.toString.getBytes("UTF-8"))
    }
    if (gateRejected && failed.nonEmpty) System.err.println(
      s"[bench] refresh gate: ${failed.size} failed queries " +
        s"(${failed.mkString(", ")}) - a crashing run cannot become " +
        "the committed artifact; kept")
    else if (gateRejected) System.err.println(
      s"[bench] whole-run contention gate: common-query cold " +
        s"${r3(common.map(coldMapNow).sum)}s > 1.5x committed " +
        s"${r3(common.map(n => prior(n)._1).sum)}s over ${common.size} " +
        "shared queries - committed artifact kept, refresh rejected")

    // One-line driver contract. The driver's stdout capture keeps only
    // the LAST 2000 characters (measured from BENCH_r04/r05, both of
    // which recorded parsed:null because the full 113-query map is
    // ~2.8 KB — the line's head scrolled out of the tail before sbt's
    // trailing "[success] Total time" line). So the stdout line carries
    // the totals plus a HEADLINE subset of per-query warm times, budgeted
    // to fit the tail with room for sbt's epilogue; the COMPLETE map is
    // written to bench/driver_line.json and bench/bench_<sf>.json.
    val warmMap2 = warm.toMap
    val spikesNote =
      if (spiked.isEmpty) "[]" else spiked.map(n => s""""$n"""").mkString("[", ",", "]")
    val failedNote =
      if (failed.isEmpty) "[]" else failed.map(n => s""""$n"""").mkString("[", ",", "]")
    // Flag-list budget (round 17, VERDICT r16 #1b): the stdout line
    // caps drift_flagged / plan_shape_changed to a count + the worst
    // 5 names so the per-query map gets the line budget — r16's
    // 45-entry drift list squeezed the map to 9 of 157 entries and
    // PERF reported 35 phantom "dropped_from_bench". The complete
    // lists live in bench/driver_line.json and the full artifact.
    val artifactNote =
      if (gateRejected) "kept_contended"
      else if (keyedByCpus) s"keyed_c$cpus" else "refreshed"
    def lineFor(qnames: Seq[String], capFlags: Boolean): String = {
      val qs = qnames.map(k => "\"" + k + "\":" + r3(warmMap2(k))).mkString("{", ",", "}")
      val driftNames =
        if (capFlags)
          driftFlagged.sortBy(f => -math.max(f._4, 1.0 / math.max(f._4, 1e-9)))
            .take(5).map(_._1)
        else driftFlagged.map(_._1)
      val shapeNames = if (capFlags) shapeMoved.take(5) else shapeMoved
      s"""{"metric":"total_warm","value":${r3(warmTotal)},"unit":"sec","cold_total":${r3(coldTotal)},"calibration_sec":${r3(calibStart)},"calibration_end_sec":${r3(calibEnd)},"sf":"$sfName","n_queries":${names.size},"full":"bench/driver_line.json","artifact":"$artifactNote","contended":${contended.map(_.toString).getOrElse("null")},"contended_cold":${contendedCold.map(_.toString).getOrElse("null")},"drift_flagged_n":${driftFlagged.size},"drift_flagged":${driftNames.map(n => s""""$n"""").mkString("[", ",", "]")},"plan_shape_changed_n":${shapeMoved.size},"plan_shape_changed":${shapeNames.map(n => s""""$n"""").mkString("[", ",", "]")},"drift_calibration_unstable":$calibUnstable,"spikes_rerun":$spikesNote,"failed":$failedNote,"queries":$qs}"""
    }
    // headline priority: one representative per family, expensive first,
    // then everything else — trimmed from the back until the line fits.
    val headline = Seq(
      "q1_pricing_summary", "j3_revenue_by_region", "j7_asof_join",
      "w3_sessionize", "d1_exact_dedup", "d2_minhash_lsh",
      "d4_ngram_jaccard", "d6_dup_clusters", "d13_keep_best",
      "s1_knn_bruteforce", "s3_ann_ivf", "s5_bm25", "s6_pca_project",
      "t1_token_stats", "t10_tfidf", "p1_pack_sequences", "m7_curation",
      "sk1_approx_distinct", "mm1_multimodal_features", "o5_split_assign",
    )
    val headlinePriority =
      headline.filter(warmMap2.contains) ++ names.filterNot(headline.toSet)
    val budget = 1600 // 2000-char tail minus sbt's epilogue, with margin
    val keep = (headlinePriority.length to 1 by -1).view
      .map(headlinePriority.take)
      .find(qn => lineFor(qn, capFlags = true).length <= budget)
      .getOrElse(Seq.empty)
    val line = lineFor(keep, capFlags = true)
    // complete map + uncapped flag lists for the on-disk mirror
    val fullLine = lineFor(names, capFlags = false)
    try {
      val lp = java.nio.file.Paths.get("bench/driver_line.json")
      Option(lp.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(lp, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // best-effort mirror
    spark.stop()
    println(line)
    // a bench with failed queries is NOT a clean run — exit nonzero so
    // rc:0 can never coexist with bogus timings again.
    if (failed.nonEmpty) sys.exit(3)
  }
}
