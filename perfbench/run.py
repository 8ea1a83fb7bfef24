#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload materials --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark's JVM side (perfbench/jvm) with the Scala
compiler shipped in Spark's jars, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. The JVM runs the workload and writes a run record; this
script checks every output, then prints the run record's summary and,
as the last line, the metrics as one JSON object. perfbench/NOTES.md
describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
FIXTURE = HERE / "fixture" / "sf0.01"
EXPECTED = HERE / "expected.json"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "graftx.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.stages_skipped": "count", "spark.tasks": "count",
    "spark.sched_delay_s": "s", "spark.driver_gap_s": "s",
    "spark.stage_busy_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.input_mb": "MB",
    "sessiontable.builds": "count", "codegen.compiles": "count",
    "sources.files_written": "count", "sources.rows_written": "count",
    "sources.bytes_written_mb": "MB",
}
STAGE_ATTRS = ["tasks", "task_failures", "executor_run_s", "executor_cpu_s",
               "sched_delay_s", "shuffle_read_mb", "shuffle_write_mb",
               "spill_mb", "input_mb"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources(root):
    out = []
    for d in (root / "src" / "main" / "scala", HERE / "jvm"):
        out += sorted(d.rglob("*.scala"))
    return out


def build(root):
    """Compile engine and JVM side once per source tree; return the
    classpath."""
    if not (root / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {root}/src/main/scala: "
             "run from the repository root")
    jars = spark_jars()
    srcs = sources(root)
    resources = root / "src" / "main" / "resources"
    h = hashlib.sha256()
    for p in srcs + sorted(resources.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    out = build_dir(root)
    classes = out / f"classes-{h.hexdigest()[:16]}"
    if not (classes / ".ok").exists():
        tmp = out / f"compiling-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        t0 = time.time()
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
             "-cp", f"{jars}/*",
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", str(tmp)] + [str(p) for p in srcs],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        (classes / ".ok").write_text(f"{time.time() - t0:.1f}\n")
    return os.pathsep.join([str(classes), str(resources), f"{jars}/*"])


def build_dir(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def run_jvm(root, classpath, workload, seed, seconds, trace):
    """Run the JVM side in a fresh work directory; return (record, work)."""
    work = (build_dir(root) / "work" /
            f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--data", str(FIXTURE), "--work", str(work)])
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log: {work}/jvm.log")
    if r.returncode != 0 or not (work / "record.json").exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        print(tail, file=sys.stderr)
        fail(f"JVM failed (exit {r.returncode}); log: {work}/jvm.log")
    return json.loads((work / "record.json").read_text()), work


# -- output checks: the canonical form of tools/check.py ---------------

def norm_cell(v):
    if hasattr(v, "tolist") and not hasattr(v, "is_integer"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def digest(df):
    """sha256 of a result: columns sorted by name, rows sorted, every
    cell in its repr form, so row order and column order do not count."""
    cols = sorted(df.columns)
    rows = sorted(tuple(norm_cell(v) for v in row)
                  for row in df[cols].itertuples(index=False))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for row in rows:
        h.update(b"\n" + "\x1f".join(row).encode())
    return h.hexdigest(), len(rows)


def parquet_digest(con, path):
    return digest(con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet')").df())


def check_outputs(record, work):
    """Failed checks: {op: reason}. Each lap query's output is compared
    with the digest derived once from the DuckDB oracle (expected.json);
    the AL loop with its own invariants."""
    import duckdb
    expected = json.loads(EXPECTED.read_text())
    con = duckdb.connect()
    bad = {}
    written = set(record["checks"]["outputs"])
    for op in record["lap_ops"]:
        if op.startswith("mtp_iterate_"):
            continue
        if op not in written:
            bad[op] = "no output written"
        elif op not in expected:
            bad[op] = "no expected digest"
        else:
            got, rows = parquet_digest(con, work / "checks" / op)
            if got != expected[op]["sha256"]:
                bad[op] = (f"digest {got[:12]} ({rows} rows) != expected "
                           f"{expected[op]['sha256'][:12]} "
                           f"({expected[op]['rows']} rows)")
    al = record["checks"]["al"]
    if al and not al["ok"]:
        bad["mtp_loop"] = f"AL invariants failed: {al}"
    return bad


# -- metrics -----------------------------------------------------------

def tail(xs):
    """Highest whole percentile with at least ten samples above it
    (nearest rank): (percentile, value), or (None, None)."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 0, -1):
        v = xs[math.ceil(p * n / 100) - 1]
        if sum(1 for x in xs if x > v) >= 10:
            return p, v
    return None, None


def union_s(intervals):
    """Total length (s) of the union of [start, end] ms intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def op_layers(record):
    """Per operation execution (key `<lap>:<op>`), every layer metric of
    the traced run."""
    ops = {o["key"]: o for o in record["ops"] if o["traced"]}
    spans_of = {key: [] for key in ops}
    for s in record.get("spans", []):
        if s["op"] in spans_of:
            spans_of[s["op"]].append(s)
    writes = record.get("writes", {})
    out = {}
    for key, o in ops.items():
        spans = spans_of[key]
        level = {}
        for s in spans:
            level.setdefault(s["level"], []).append(s)
        dur = lambda lv: sum((s["end_ms"] - s["start_ms"]) / 1e3
                             for s in level.get(lv, []))
        build_ids = {s["id"] for s in level.get("build", [])}
        jobs = level.get("job", [])
        stages = level.get("stage", [])
        m = {
            "queries.build_s": dur("build"),
            "queries.build_jobs": sum(1 for j in jobs
                                      if j["parent"] in build_ids),
            "graftx.plan_s": dur("plan"),
            "queries.exec_s": dur("exec"),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.stages_skipped": sum(j["attrs"]["stages_skipped"]
                                        for j in jobs),
            "spark.driver_gap_s": o["s"] - union_s(
                (j["start_ms"], j["end_ms"]) for j in jobs),
            "spark.stage_busy_s": dur("stage"),
            "sessiontable.builds": len(o["sessiontable"]),
            "codegen.compiles": o["codegen_compiles"],
            "sessiontable.build_s": sum(o["sessiontable"].values()),
            "fit.render_s": o["al"].get("render_s", 0.0),
            "pipeline.step_s": o["al"].get("step_s", 0.0),
            "added": o["al"].get("added", 0),
        }
        for a in STAGE_ATTRS:
            m["spark." + a] = sum(s["attrs"][a] for s in stages)
        w = writes.get(key, {"files": 0, "rows": 0, "bytes": 0})
        m["sources.files_written"] = w["files"]
        m["sources.rows_written"] = w["rows"]
        m["sources.bytes_written_mb"] = w["bytes"] / 1048576.0
        m["self_s"] = self_times(spans)
        out[key] = m
    return out


def self_times(spans):
    """Self time per span level: each span minus the union of its
    children's intervals, summed by level."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    acc = {}
    for s in spans:
        own = (s["end_ms"] - s["start_ms"]) / 1e3
        ch = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])]
        acc[s["level"]] = acc.get(s["level"], 0.0) + own - union_s(ch)
    return acc


def layer_totals(record):
    """Per-layer metrics of one lap: the sum over the lap's operations
    of each operation's median across traced warm laps; SessionTable
    builds come from the cold lap, where they happen."""
    per = op_layers(record)
    warm = {}
    for key, m in per.items():
        lap, op = key.split(":", 1)
        if int(lap) >= 0:
            warm.setdefault(op, []).append(m)
    names = [k for k in next(iter(warm.values()))[0] if k != "self_s"]
    tot = {k: sum(statistics.median(m[k] for m in ms)
                  for ms in warm.values()) for k in names}
    cold = [m for key, m in per.items() if int(key.split(":")[0]) < 0]
    tot["sessiontable.builds"] = sum(m["sessiontable.builds"] for m in cold)
    tot["sessiontable.build_s"] = sum(m["sessiontable.build_s"] for m in cold)
    tot["codegen.compiles"] = sum(m["codegen.compiles"] for m in cold)
    if record["al_inputs"]:
        k = record["al_inputs"]["select_k"] * record["al_inputs"]["iterations"]
        tot["pipeline.added_ratio"] = tot.pop("added") / k
    else:
        tot.pop("added")
    selfs = {}
    for ms in warm.values():
        for lv in {lv for m in ms for lv in m["self_s"]}:
            selfs[lv] = selfs.get(lv, 0.0) + statistics.median(
                m["self_s"].get(lv, 0.0) for m in ms)
    return tot, selfs, per


def summarize(record, bad):
    warm_laps = [l for l in record["laps"] if l["lap"] >= 0]
    plain = [l["wall_s"] for l in warm_laps if not l["traced"]]
    warm_ops = [o for o in record["ops"] if o["lap"] >= 0 and not o["traced"]]
    queries = [o["s"] for o in warm_ops if o["kind"] == "query"]
    per_op = {}
    for o in warm_ops:
        per_op.setdefault(o["op"], []).append(o["s"])
    al_iters = [o["s"] for o in warm_ops if o["kind"] == "al_iter"]
    p, tv = tail(queries)
    skipped = {}
    for op, reason in sorted(record["skipped"].items()):
        skipped.setdefault(reason, []).append(op)
    failed_ops = sum(1 for o in record["ops"] if not o["ok"])
    failed = failed_ops + len(bad)
    attempted = record["attempted"]
    e2e = {
        "setup_s": statistics.median(s["total_s"] for s in record["setups"]),
        "wall_s": statistics.median(plain),
        "query_p50_s": statistics.median(queries),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    rec = {
        "workload": record["workload"], "seed": record["seed"],
        "trace": record["trace"], "fixture": "sf0.01", "cpus": record["cpus"],
        "lap_ops": record["lap_ops"], "registered": record["registered"],
        "skipped": skipped, "not_in_lap": len(record["not_in_lap"]),
        "setups": record["setups"],
        "warmup_laps_s": [l["wall_s"] for l in record["laps"]
                          if l["phase"] == "warmup"],
        "warm_laps_s": plain,
        "op_p50_s": {op: statistics.median(v) for op, v in per_op.items()},
        "query_samples": len(queries),
        "query_tail_s": tv, "query_tail_percentile": p,
        "failed_frac": failed / attempted, "check_failures": bad,
        "op_failures": record["failures"],
        "canary_s": record["canary_s"],
    }
    if al_iters:
        rec["al_iter_p50_s"] = statistics.median(al_iters)
        rec["al_iter_samples"] = len(al_iters)
        rec["al_check"] = record["checks"]["al"]
    rec.update(e2e)
    return e2e, rec, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["materials", "curation", "lake"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = Path.cwd()
    if not FIXTURE.is_dir():
        fail(f"fixture missing: {FIXTURE}")
    classpath = build(root)
    record, work = run_jvm(root, classpath, a.workload, a.seed, a.seconds,
                           a.trace == 1)
    bad = check_outputs(record, work)
    e2e, rec, attempted, failed = summarize(record, bad)
    if a.trace:
        tot, selfs, per_op = layer_totals(record)
        traced = [l["wall_s"] for l in record["laps"]
                  if l["lap"] >= 0 and l["traced"]]
        rec["trace_overhead_s"] = (statistics.median(traced) -
                                   statistics.median(rec["warm_laps_s"]))
        rec["trace_overhead_frac"] = (rec["trace_overhead_s"] /
                                      statistics.median(rec["warm_laps_s"]))
        rec["layers"] = tot
        rec["self_s_by_level"] = selfs
        metrics = {k: {"value": tot[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        records = build_dir(root) / "records"
        records.mkdir(parents=True, exist_ok=True)
        (records / f"{a.workload}-s{a.seed}-layers.json").write_text(
            json.dumps({"summary": rec, "per_op": per_op}, indent=1))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"run_record": rec}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
