"""Benchmark the bench-tagged catalog ranks at $SPARK_GRAFT_SF_DIR
(default sf0.1):

    python bench.py

Each rank is materialized through the noop sink (full column
computation, no driver collect) once cold and twice warm. A run's
figure is the CPU seconds this process tree spent on it: the driver's
Python, its JVM less the JIT compiler threads, and the Python workers
(``perfbench.common.tree_cpu_s``, the clock perfbench gates on). Load
from other tenants of a shared host stretches wall time but adds little
CPU time, so these figures compare across runs where wall seconds do
not. The steady figure is the lower of the two warm runs; the cold run
also pays one-time session costs (codegen, Python worker start, parquet
footers). Wall seconds of the same runs are recorded alongside.

The throughput figures are rows per wall second:

- ``sync_rows_per_sec``: events rows over the fastest of eight warm
  ``s3_upsert_merge`` runs, comparable to the reference's ~6,000 rows/s
  local baseline (BASELINE.md);
- ``stream_rows_per_sec``: the t5 and t8 availableNow drains of the
  whole events fixture;
- ``t8_rocksdb``: the t8 drain on the RocksDB state store.

The full record goes to ``bench_local_r{N}.json`` next to this file, N
one more than the largest round any ``bench_local_r*`` file carries, so
a run never overwrites an earlier artifact. stdout ends with one
compact JSON summary line: the totals, the throughput figures and the
ten costliest ranks.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench.common import tree_cpu_s
from pypgsync_spark.queries import REGISTRY, bench_queries
from pypgsync_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Generated from the registry's bench tags (QuerySpec.bench) so a new
# query lands in the bench in the same commit that registers it; the
# rank gives a stable execution order independent of the registry's
# per-round verification rotation.
BENCH_QUERIES = bench_queries()


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def timed(action) -> tuple[float, float]:
    """(CPU seconds of this process tree, wall seconds) of ``action()``."""
    pid = os.getpid()
    cpu0, wall0 = tree_cpu_s(pid), time.perf_counter()
    action()
    return tree_cpu_s(pid) - cpu0, time.perf_counter() - wall0


def time_rank(spark, fn) -> dict:
    """One cold and two warm runs of the query ``fn``. ``cpu`` and
    ``wall`` are the warm runs' minima: min-of-k is the noise-robust
    estimate for a deterministic workload, since interference only
    ever adds time."""
    runs = [timed(lambda: materialize(fn(spark, SF_DIR))) for _ in range(3)]
    (cold_cpu, cold_wall), warm = runs[0], runs[1:]
    return {
        "cpu": round(min(c for c, _ in warm), 3),
        "wall": round(min(w for _, w in warm), 3),
        "cold_cpu": round(cold_cpu, 3),
        "cold_wall": round(cold_wall, 3),
    }


def artifact_path(root: str = ROOT) -> str:
    """``bench_local_r{N}.json`` in ``root``, N one more than the
    largest round a ``bench_local_r*`` file there carries."""
    rounds = [
        int(m.group(1))
        for name in os.listdir(root)
        if (m := re.match(r"bench_local_r(\d+)", name))
    ]
    return os.path.join(root, f"bench_local_r{max(rounds, default=0) + 1:02d}.json")


def t8_rocksdb(spark, n_events: int) -> dict:
    """Wall seconds of the t8 drain on the RocksDB state store, one
    cold and min-of-2 warm, each a from-scratch drain in a fresh work
    dir. Kept out of the headline total. A failure (the provider
    missing from the Spark build, a stream error) is recorded instead
    of raised, so it never costs the ranks already timed."""
    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.queries.streamq import _events_stream_source
    from pypgsync_spark.streaming.gated import gated_balance

    def run() -> float:
        work = tempfile.mkdtemp(prefix="bench_t8_rocksdb_")
        try:
            t0 = time.perf_counter()
            materialize(
                gated_balance(
                    spark,
                    source_path=table_path(SF_DIR, "events"),
                    schema=_events_stream_source(spark, SF_DIR),
                    contrib_dir=f"{work}/contrib",
                    checkpoint_dir=f"{work}/ckpt",
                    store_provider="rocksdb",
                )
            )
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(work, ignore_errors=True)

    try:
        cold_sec = run()  # pays the one-time JNI/native load
        sec = min(run() for _ in range(2))
    except Exception as e:  # noqa: BLE001 — recorded in the artifact
        return {"error": f"{type(e).__name__}: {e}"[:300]}
    return {
        "sec": round(sec, 3),
        "cold_sec": round(cold_sec, 3),
        "rows_per_sec": round(n_events / max(sec, 1e-9)),
    }


def main() -> None:
    spark = get_spark(app_name="pypgsync_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + parquet footer caches
    REGISTRY["a6_count_star"].fn(spark, SF_DIR).count()

    ranks = {name: time_rank(spark, REGISTRY[name].fn) for name in BENCH_QUERIES}
    queries = {k: r["cpu"] for k, r in ranks.items()}
    queries_wall = {k: r["wall"] for k, r in ranks.items()}

    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.queries.textops import D5_CC_STATS

    n_events = load_table(spark, SF_DIR, "events").count()

    # sync throughput, the headline figure against the reference
    # baseline: one sub-second query, so six more warm samples on top
    # of the rank's own two
    s3_fn = REGISTRY["s3_upsert_merge"].fn
    s3_wall = [queries_wall["s3_upsert_merge"]] + [
        timed(lambda: materialize(s3_fn(spark, SF_DIR)))[1] for _ in range(6)
    ]

    # streaming throughput, the analogue of the reference's
    # continuous-mode rows/s: t5 (not a bench rank) timed here, t8
    # from its rank
    t5_wall = time_rank(spark, REGISTRY["t5_stateful_balance"].fn)["wall"]
    stream_rps = {
        "t5_stateful_balance": round(n_events / max(t5_wall, 1e-9)),
        "t8_transition_gated_balance": round(
            n_events / max(queries_wall["t8_transition_gated_balance"], 1e-9)
        ),
    }

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_queries_cpu_steady",
        "value": round(sum(queries.values()), 3),
        "unit": "cpu_sec",
        "wall_value": round(sum(queries_wall.values()), 3),
        "cold_value": round(sum(r["cold_cpu"] for r in ranks.values()), 3),
        "queries": queries,
        "queries_wall": queries_wall,
        "queries_cold": {k: r["cold_cpu"] for k, r in ranks.items()},
        "queries_cold_wall": {k: r["cold_wall"] for k, r in ranks.items()},
        "sf": float(sf) if sf else SF_DIR,
        "master": spark.sparkContext.master,
        "sync_rows_per_sec": round(n_events / max(min(s3_wall), 1e-9)),
        "stream_rows_per_sec": stream_rps,
        "n_events": n_events,
        "d5_cc_stats": dict(D5_CC_STATS),
        "t8_rocksdb": t8_rocksdb(spark, n_events),
    }
    path = artifact_path()
    with open(path, "x") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")

    # the summary must fit whole in a ~1.5 KB tail capture, so it
    # carries the ten costliest ranks; every map is in the artifact
    summary = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "wall_value", "cold_value", "sf", "master",
            "sync_rows_per_sec", "stream_rows_per_sec", "t8_rocksdb",
        )
    }
    summary["n_queries"] = len(queries)
    summary["queries"] = dict(sorted(queries.items(), key=lambda kv: -kv[1])[:10])
    summary["full_results"] = os.path.basename(path)

    # stop the JVM first: its stderr shutdown chatter interleaves with
    # stdout in a merged capture, and the summary must be the last line
    try:
        spark.stop()
    except Exception as e:  # noqa: BLE001 — the summary is already earned
        print(f"# spark.stop() failed: {e}", file=sys.stderr)
    print(json.dumps(summary, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
