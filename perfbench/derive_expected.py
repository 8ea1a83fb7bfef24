#!/usr/bin/env python3
"""Derive perfbench/expected.json: the digest of every lap query's
correct output, from the DuckDB oracle (`SparkEntry.oracleSql`) over the
benchmark fixture. A lap query without an oracle would get the digest of
the engine's own output, marked "recorded"; every current lap query has
an oracle. The engine's output is compared with the oracle's before
anything is written, so a disagreement stops the derivation.

    python3 perfbench/derive_expected.py [workload ...]

Run from the repository root; re-run only when a lap or the fixture
changes.
"""
import json
import shutil
import sys
from pathlib import Path

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main(workloads):
    root = Path.cwd()
    cp = run.build(root)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run.FIXTURE}/{t}.parquet')")
    expected = (json.loads(run.EXPECTED.read_text())
                if run.EXPECTED.exists() else {})
    ok = True
    for w in workloads:
        record, work = run.run_jvm(root, cp, w, 1, 0, False)
        oracle = record["oracle"]
        for op in record["lap_ops"]:
            if op.startswith("mtp_iterate_"):
                continue
            got = run.parquet_digest(con, work / "checks" / op)
            if op in oracle:
                want = run.digest(con.execute(oracle[op]).df())
                source = "duckdb-oracle"
                if want != got:
                    print(f"MISMATCH {op}: oracle {want} engine {got}")
                    ok = False
                    continue
            else:
                want, source = got, "recorded"
            expected[op] = {"sha256": want[0], "rows": want[1],
                            "source": source}
            print(f"{op}: {want[1]} rows, {source}")
        shutil.rmtree(work, ignore_errors=True)
    if not ok:
        sys.exit(1)
    run.EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True)
                            + "\n")


if __name__ == "__main__":
    main(sys.argv[1:] or ["materials", "curation", "lake"])
