#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny scale (three to five
minutes):

    python3 perfbench/selftest.py

Every workload, untraced and traced, must print every declared metric
and pass all of its output checks, except that one run of each
workload falsifies one expected value, which must show up as exactly
one failed operation. The exact pair oracle the dedup checks use must
agree with the registry's DuckDB oracles on generated documents.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (workload, --trace, check to corrupt, failures expected)
CASES = (
    ("sync_soak", 0, "sync_soak.full", 1),
    ("sync_soak", 1, None, 0),
    ("dedup_catalog", 0, "d2_ngram_jaccard_pairs", 1),
    ("dedup_catalog", 1, None, 0),
)
ORACLE_DOCS = 300


def _check_pair_oracle() -> list[str]:
    """``catalog_ops.jaccard_pairs`` against each dedup query's DuckDB
    oracle over the same generated documents."""
    import shutil

    import duckdb

    sys.path[:0] = [HERE, ROOT]
    import catalog_ops
    import gen
    from pypgsync_spark.queries import REGISTRY

    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    path = os.path.join(work, "documents.parquet")
    try:
        pairs = catalog_ops.jaccard_pairs(gen.write_documents(7, ORACLE_DOCS, path))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        problems = []
        for name, expected in catalog_ops.DEDUP_QUERIES.items():
            rows = con.execute(REGISTRY[name].oracle).fetchall()
            bad = catalog_ops.mismatches(rows, expected(pairs))
            print(f"pair oracle vs DuckDB, {name} ({len(rows)} rows): "
                  f"{'ok' if not bad else bad}")
            problems += bad
        con.close()
        return problems
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(workload: str, trace: int, corrupt: str | None) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
    ]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = _check_pair_oracle()
    for workload, trace, corrupt, want_failed in CASES:
        res = _run(workload, trace, corrupt)
        declared = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        problems = []
        if res["failed"] != want_failed or res["correct"] != (want_failed == 0):
            problems.append(f"failed={res['failed']} correct={res['correct']}")
        if set(res["metrics"]) != declared:
            problems.append(f"metrics differ: {sorted(set(res['metrics']) ^ declared)}")
        if not all(math.isfinite(m["value"]) for m in res["metrics"].values()):
            problems.append("non-finite metric")
        print(f"{workload} trace={trace} corrupt={corrupt}: "
              f"{'ok' if not problems else '; '.join(problems)}")
        bad += problems
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
