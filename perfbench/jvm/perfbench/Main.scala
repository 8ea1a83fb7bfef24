package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.SQLExecution
import graft.SparkEntry
import graft.calculators.StubCalculator
import graft.core.Config
import graft.fit.MtpLoop
import graft.generators.Generators
import graft.operators.SessionTable

/** JVM side of the benchmark: runs one workload and writes a run record
  * (JSON) that `run.py` turns into metrics.
  *
  * A run is: three set-ups (each a fresh session, the fixture preflight
  * and one cold lap), a check pass that writes every lap query's output
  * for `run.py` to compare, the workload's untimed warm-up laps, then
  * timed warm laps until `seconds` have passed and at least `MinLaps`
  * have run. Cold and warm-up laps have negative numbers, timed laps
  * count from 0. The peak RSS is read after the first `MinLaps` timed
  * laps, so it covers the same work in every run. With `--trace 1`
  * there is one set-up and the timed laps alternate untraced and
  * traced, so the record carries the tracing overhead next to the
  * spans.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR
  */
object Main {
  val Cpus = 4
  val SelectK = 20
  val CandidatesPerConfig = 12
  val MinLaps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("data"),
      Paths.get(need("work")).toAbsolutePath)
    Files.createDirectories(a.work)
    new Runner(a, Workloads(a.workload)).run()
  }
}

/** Seed-derived inputs of the active-learning loop: the lattice, the
  * species pair and the cell of the two bootstrap configurations (a
  * 4-atom fcc cell and its 2x1x1 supercell), and the loop's ranSeed. */
final case class AlInputs(species: Seq[String], seeds: Seq[Config],
    ranSeed: Long)

object AlInputs {
  private val pairs = Seq(Seq("Ag", "Pd"), Seq("Cu", "Au"), Seq("Ni", "Pt"),
    Seq("Al", "Cu"), Seq("Pd", "Pt"))

  def apply(seed: Long): AlInputs = {
    val rng = new Random(seed)
    val sp = pairs(rng.nextInt(pairs.size))
    val a = 3.6 + 0.6 * rng.nextDouble()
    val c = a * (0.95 + 0.1 * rng.nextDouble()) // tetragonal c/a
    val cell = Seq(Seq(a, 0.0, 0.0), Seq(0.0, a, 0.0), Seq(0.0, 0.0, c))
    val pos = Seq(Seq(0.0, 0.0, 0.0), Seq(0.0, a / 2, c / 2),
      Seq(a / 2, 0.0, c / 2), Seq(a / 2, a / 2, 0.0))
    val fcc = Config.of(Seq(sp(0), sp(0), sp(1), sp(1)), cell, pos,
      configType = Some("seed"))
    AlInputs(sp, Seq(fcc, Generators.supercell(fcc, Seq(2, 1, 1))),
      rng.nextLong())
  }
}

final class Runner(a: Main.Args, w: Workload) {
  import Main._

  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  private val tracer = if (a.trace) Some(new Tracer(epochMs, epochNs)) else None
  private var tracing = false
  private var spark: SparkSession = _
  private val al = AlInputs(a.seed)
  private val alOps = (1 to w.alIters).map(i => s"mtp_iterate_$i")

  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val canary = mutable.ArrayBuffer.empty[Double]
  private var opsSinceCanary = 0
  private var attempted = 0

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // room for every class the lap generates: with Spark's default of
      // 100, warm operations recompiled up to 13 classes each, more or
      // fewer by lap order (static: the first session's value holds)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.extensions",
        "org.apache.spark.sql.graftx.GraftExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on != tracing) {
      if (on) {
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      } else {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
      }
      tracing = on
    }
  }

  /** Run `body` as a child span of `parent` when tracing, tagging the
    * jobs it submits with the span; otherwise just run it. */
  private def phase[T](key: String, parent: Long, level: String)(
      body: => T): T = tracer.filter(_ => tracing) match {
    case Some(t) =>
      val id = t.newId()
      val sc = spark.sparkContext
      sc.setLocalProperty(t.SpanKey, id.toString)
      try t.span(id, parent, key, level, level)(body)
      finally sc.setLocalProperty(t.SpanKey, null)
    case None => body
  }

  /** A fixed single-threaded CPU kernel, independent of Spark and of the
    * data: a diagnostic of machine speed, never a divisor. */
  private val canaryBuf = Array.tabulate[Byte](1 << 20)(i => (i * 31 + 7).toByte)
  private def canaryOnce(): Double = {
    val t0 = System.nanoTime()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < 16) { md.update(canaryBuf); i += 1 }
    md.digest()
    secs(t0)
  }
  private def readCanary(): Unit = {
    canary += canaryOnce()
    opsSinceCanary = 0
  }

  /** The AL loop of one lap: bootstrap at lap start, one operation per
    * `iterate()`. The render (`writeTrainCfg`) is called first so the
    * trace can split it from the rest of the iteration; `iterate()`
    * then finds the train file current and goes straight to the step. */
  private final class AlLap(val dir: Path) {
    val loop = new MtpLoop(spark, StubCalculator(), dir.toString,
      al.species, al.ranSeed)
    loop.bootstrap(al.seeds)
    val added = mutable.ArrayBuffer.empty[Long]
  }

  private def runOp(lap: Int, name: String, alLap: Option[AlLap]): Unit = {
    val key = s"$lap:$name"
    val sc = spark.sparkContext
    val opId = tracer.map(_.newId()).getOrElse(0L)
    // every operation starts once the previous one's events are
    // delivered, traced or not
    org.apache.spark.perfbench.Bus.drain(sc)
    tracer.filter(_ => tracing).foreach { t =>
      t.currentOp = key
      sc.setLocalProperty(t.OpKey, key)
    }
    val builtBefore = SessionTable.buildCosts
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiled0 = compiles.getCount
    val t0Ms = tracer.map(_.nowMs).getOrElse(0.0)
    val t0 = System.nanoTime()
    val extra = mutable.Map.empty[String, Any]
    val ok = try {
      alLap match {
        case Some(l) =>
          val tr = System.nanoTime()
          phase(key, opId, "render")(l.loop.writeTrainCfg())
          extra("render_s") = secs(tr)
          val ts = System.nanoTime()
          val n = phase(key, opId, "step")(
            l.loop.iterate(CandidatesPerConfig, SelectK))
          extra("step_s") = secs(ts)
          extra("added") = n
          l.added += n
        case None =>
          val df = phase(key, opId, "build")(
            SparkEntry.queries(name)(spark, a.data))
          val qe = df.queryExecution
          phase(key, opId, "plan")(qe.executedPlan)
          // run the plan just made, as a Dataset action does; every
          // output column is computed and the rows are discarded
          phase(key, opId, "exec")(SQLExecution.withNewExecutionId(
            qe, Some(s"perfbench $name"))(qe.toRdd.foreach(_ => ())))
      }
      true
    } catch {
      case e: Throwable =>
        failures += Map("op" -> name, "lap" -> lap,
          "error" -> String.valueOf(e.getMessage).take(300))
        false
    }
    val s = secs(t0)
    val compiled = compiles.getCount - compiled0
    val builds = SessionTable.buildCosts.filter { case (k, v) =>
      !builtBefore.get(k).contains(v) }
    tracer.filter(_ => tracing).foreach { t =>
      org.apache.spark.perfbench.Bus.drain(sc)
      t.currentOp = ""
      t.add(Span(opId, -1L, key, "op", name, t0Ms, t0Ms + s * 1e3))
      sc.setLocalProperty(t.OpKey, null)
    }
    attempted += 1
    opsSinceCanary += 1
    records += Map("lap" -> lap, "op" -> name, "key" -> key,
      "kind" -> (if (alLap.isDefined) "al_iter" else "query"), "s" -> s,
      "ok" -> ok, "traced" -> tracing,
      "sessiontable" -> builds, "codegen_compiles" -> compiled,
      "al" -> extra.toMap)
  }

  /** The lap's order: a seeded permutation of the queries with the AL
    * iterations placed at seeded positions, in their own order. */
  private def order(lap: Int): Seq[String] = {
    val rng = new Random(a.seed * 1000003L + lap)
    val all = rng.shuffle(w.lap ++ alOps)
    val alIt = alOps.iterator
    all.map(n => if (n.startsWith("mtp_iterate_")) alIt.next() else n)
  }

  private val laps = mutable.ArrayBuffer.empty[Map[String, Any]]

  private var lastAl: Option[AlLap] = None

  private def lap(idx: Int, phase: String, traced: Boolean): Double = {
    setTracing(traced)
    val t0 = System.nanoTime()
    val alLap =
      if (w.alIters > 0) Some(new AlLap(a.work.resolve(s"al/lap$idx")))
      else None
    order(idx).foreach { n =>
      runOp(idx, n, if (n.startsWith("mtp_iterate_")) alLap else None)
    }
    val wall = secs(t0)
    laps += Map("lap" -> idx, "phase" -> phase, "wall_s" -> wall,
      "traced" -> traced)
    setTracing(false)
    lastAl = alLap
    if (opsSinceCanary >= 20) readCanary()
    wall
  }

  /** Writes each lap query's output (one parquet file) for run.py to
    * hash. Not timed. */
  private def checkQueries(): Seq[String] = {
    val out = a.work.resolve("checks")
    w.lap.filter { n =>
      try {
        SparkEntry.queries(n)(spark, a.data).coalesce(1).write
          .mode("overwrite").parquet(out.resolve(n).toString)
        true
      } catch {
        case e: Throwable =>
          failures += Map("op" -> n, "lap" -> "check",
            "error" -> String.valueOf(e.getMessage).take(300))
          false
      }
    }
  }

  /** The AL invariants on the last lap's loop, after that lap's timing
    * ended: the final set is the bootstrap plus everything added, it
    * grew at least 10x, and the rendered train.cfg holds one block per
    * configuration. */
  private def checkAl(l: AlLap): Map[String, Any] = {
    l.loop.writeTrainCfg()
    val size = l.loop.setSize
    val boot = al.seeds.size.toLong
    val cfg = Files.readString(l.dir.resolve("train.cfg"))
    val blocks = "BEGIN_CFG".r.findAllIn(cfg).length.toLong
    Map("bootstrap" -> boot, "added" -> l.added, "final" -> size,
      "train_cfg_blocks" -> blocks,
      "ok" -> (size == boot + l.added.sum && blocks == size &&
        size >= 10 * boot))
  }

  private def peakRssMb: Double = {
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(st)
      .map(_.group(1).toDouble / 1024).getOrElse(-1.0)
  }

  def run(): Unit = {
    (1 to 5).foreach(_ => canaryOnce()) // JIT-warm the canary
    readCanary()
    val setups = (1 to (if (a.trace) 1 else 3)).map { k =>
      if (spark != null) spark.stop()
      SessionTable.invalidate()
      val t0 = System.nanoTime()
      spark = newSession()
      val session = secs(t0)
      val tp = System.nanoTime()
      graft.Tables.preflight(spark, a.data, w.tables)
      val preflight = secs(tp)
      val coldLap = lap(-k, "cold", traced = a.trace)
      Map("session_s" -> session, "preflight_s" -> preflight,
        "cold_lap_s" -> coldLap, "total_s" -> secs(t0))
    }
    val checked = checkQueries()
    (1 to w.warmupLaps).foreach { k =>
      lap(-setups.size - k, "warmup", traced = false)
    }
    val t0 = System.nanoTime()
    var peakRss = 0.0
    var i = 0
    while (i < MinLaps || secs(t0) < a.seconds) {
      lap(i, "timed", traced = a.trace && i % 2 == 1)
      i += 1
      if (i == MinLaps) peakRss = peakRssMb
    }
    readCanary()
    val checks = Map("outputs" -> checked,
      "al" -> lastAl.map(checkAl).getOrElse(Map.empty))
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace,
      "cpus" -> Cpus, "modules" -> w.modules,
      "registered" -> w.registered.size, "lap_ops" -> (w.lap ++ alOps),
      "skipped" -> Workloads.skipped.filter(s => w.registered.contains(s._1)),
      "not_in_lap" -> w.registered.filterNot(n =>
        w.lap.contains(n) || Workloads.skipped.contains(n)),
      "al_inputs" -> (if (w.alIters == 0) Map.empty else Map(
        "species" -> al.species, "ran_seed" -> al.ranSeed,
        "bootstrap" -> al.seeds.size, "select_k" -> SelectK,
        "iterations" -> w.alIters)),
      "setups" -> setups, "laps" -> laps, "ops" -> records,
      "checks" -> checks, "failures" -> failures, "attempted" -> attempted,
      "oracle" -> w.lap.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
        .toMap,
      "canary_s" -> canary, "peak_rss_mb" -> peakRss)
    tracer.foreach { t =>
      rec("spans") = t.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "level" -> s.level, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs))
      rec("writes") = t.writesByOp.map { case (k, (f, r, b)) =>
        k -> Map("files" -> f, "rows" -> r, "bytes" -> b) }
    }
    spark.stop()
    Json.write(a.work.resolve("record.json"), rec)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def apply(x: Any): String = x match {
    case null | None => "null"
    case Some(v) => apply(v)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => apply(k.toString) + ":" + apply(v) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }

  def write(p: Path, x: Any): Unit = Files.writeString(p, apply(x))
}
