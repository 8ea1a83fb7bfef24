#!/usr/bin/env python3
"""The benchmark's own test: two traced runs with the same seed must
report identical deterministic counters for every operation, in the
cold lap and in the first traced warm lap. Times are not compared.

    python3 perfbench/test_counters.py [workload ...]

Run from the repository root; exits 1 and lists every difference if a
counter moved. Takes about two minutes per workload.
"""
import shutil
import sys
from pathlib import Path

import run

DETERMINISTIC = [
    "spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "sources.files_written", "sources.rows_written",
    "sources.bytes_written_mb", "sessiontable.builds", "queries.build_jobs",
    "codegen.compiles",
]
SEED = 7
LAPS = ("-1", "1")  # the traced cold lap and the first traced timed lap


def counters(root, cp, workload):
    record, work = run.run_jvm(root, cp, workload, SEED, 1, True)
    shutil.rmtree(work, ignore_errors=True)
    return {key: {k: m[k] for k in DETERMINISTIC}
            for key, m in run.op_layers(record).items()
            if key.split(":")[0] in LAPS}


def main(workloads):
    root = Path.cwd()
    cp = run.build(root)
    diffs = []
    for w in workloads:
        a, b = counters(root, cp, w), counters(root, cp, w)
        if a.keys() != b.keys():
            diffs.append(f"{w}: operations differ: {sorted(a)} vs {sorted(b)}")
        for key in sorted(a.keys() & b.keys()):
            for k in DETERMINISTIC:
                if a[key][k] != b[key][k]:
                    diffs.append(f"{w} {key} {k}: {a[key][k]} vs {b[key][k]}")
        print(f"{w}: {len(a)} operations, {len(DETERMINISTIC)} counters each")
    for d in diffs:
        print("DIFF", d)
    print("FAIL" if diffs else "PASS")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main(sys.argv[1:] or ["materials", "curation"])
