"""``sync_soak``: the paper's incremental sync loop against a table much
larger than each delta, in batch and in streaming form.

Every pass appends (or, on idle passes, does not append) one wave file
to the landing directory and runs one ``sync.sync_table`` pass into a
``ParquetSyncedTable``; one read of the destination (per-status sum and
count, then the top-k rows by amount) follows each pass. Each wave file
is then also drained by one ``streaming.continuous.stream_sync`` query
(``availableNow``) into a second store that only ever receives the
waves: many small writes to a small table. After every pass the
destination is checked against the generator's ground truth, untimed.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

import gen
from common import Run

# Wave sizes as a share of the initial table; None is an idle pass.
# A run times whole cycles of this schedule.
SCHEDULE = (0.001, 0.01, None, 0.05, None)
TOP_K = 10
KEYS = ["id"]
VERSION = "updated"
# StreamingQueryProgress.durationMs components, as per-layer metric names
DURATIONS = {
    "queryPlanning": "query_planning_ms",
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "triggerExecution": "trigger_execution_ms",
}


def _listing(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _live_files(store_path: str) -> list[int]:
    with open(os.path.join(store_path, "_CURRENT")) as f:
        cur = os.path.join(store_path, f.read().strip())
    return [
        os.path.getsize(os.path.join(cur, fn))
        for fn in os.listdir(cur)
        if fn.endswith(".parquet")
    ]


def _read(spark, store) -> tuple[list, list]:
    dst = store.read()
    q2 = (
        dst.groupBy("status")
        .agg(F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    q3 = dst.orderBy(F.col("amount").desc(), F.col("id")).limit(TOP_K).select("id").collect()
    return q2, q3


def _store_digest(store) -> tuple[int, int]:
    row = store.read().agg(F.count(F.lit(1)).alias("n"), gen.spark_digest_expr()).first()
    return row["n"], int(row["h"] or 0)


class Soak:
    def __init__(self, run: Run, n_rows: int):
        from pypgsync_spark import sync
        from pypgsync_spark.streaming.continuous import stream_sync

        self.run = run
        self.sync = sync
        self.stream_sync = stream_sync
        self.n_rows = n_rows

    def stage(self) -> None:
        """Generate the source table and land it next to two fresh,
        empty stores."""
        run = self.run
        self.src = gen.SyncSource(run.seed, self.n_rows)
        root = os.path.join(run.work, "soak")
        self.landing = os.path.join(root, "landing")
        self.stream_landing = os.path.join(root, "stream_landing")
        self.checkpoint = os.path.join(root, "stream_checkpoint")
        self.store_path = os.path.join(root, "store")
        gen.write_parquet(
            self.src.initial_table(), os.path.join(self.landing, "part-00000.parquet")
        )
        os.makedirs(self.stream_landing)
        self.store = self.sync.ParquetSyncedTable(run.spark, self.store_path)
        self.stream_store = self.sync.ParquetSyncedTable(
            run.spark, os.path.join(root, "stream_store")
        )
        self.waves = 0

    def initial_sync(self) -> None:
        src = self.run.spark.read.parquet(self.landing)
        self.schema = src.schema  # the file stream needs it up front
        self.sync.sync_table(src, self.store, KEYS, VERSION)
        self.files = _listing(self.store_path)

    def one_pass(self, frac: float | None, op: int | None) -> dict:
        """One schedule slot: land the wave (if any), sync pass, read,
        and for a wave one stream drain; then the untimed checks."""
        run = self.run
        rec = {"kind": "idle" if frac is None else "wave", "wave_bytes": 0,
               "wave_rows": 0, "rows_changed": 0}
        if frac is not None:
            table, rec["rows_changed"] = self.src.wave(frac)
            rec["wave_rows"] = table.num_rows
            self.waves += 1
            name = f"wave-{self.waves:05d}.parquet"
            rec["wave_bytes"] = gen.write_parquet(table, os.path.join(self.landing, name))
            os.link(os.path.join(self.landing, name), os.path.join(self.stream_landing, name))
        t0, c0 = time.time(), run.cpu()
        with run.span("sync.pass", op):
            stats = self.sync.sync_table(
                run.spark.read.parquet(self.landing), self.store, KEYS, VERSION
            )
        t1, c1 = time.time(), run.cpu()
        with run.span("sync.dest_read", op):
            q2, q3 = _read(run.spark, self.store)
        t2, c2 = time.time(), run.cpu()
        rec.update(start=t0, end=t2, pass_s=t1 - t0, read_s=t2 - t1,
                   pass_cpu_s=c1 - c0, read_cpu_s=c2 - c1, delta_rows=stats.delta_rows,
                   drain_s=0.0, drain_cpu_s=0.0, progress=[])
        if frac is not None:
            with run.span("streaming.drain", op):
                query = self.stream_sync(
                    run.spark, self.stream_landing, self.schema, self.stream_store,
                    KEYS, VERSION, self.checkpoint, {"availableNow": True},
                )
                query.awaitTermination()
            rec["end"], c3 = time.time(), run.cpu()
            rec.update(drain_s=rec["end"] - t2, drain_cpu_s=c3 - c2,
                       progress=[json.loads(p.json) for p in query.recentProgress])
        files = _listing(self.store_path)
        new = [v[0] for p, v in files.items() if self.files.get(p) != v]
        rec["bytes_written"] = sum(new)
        rec["files_written"] = sum(1 for p in files if p.endswith(".parquet")
                                   and self.files.get(p) != files[p])
        self.files = files
        live = _live_files(self.store_path)
        rec["files_live"], rec["bytes_live"] = len(live), sum(live)
        self.check(q2, q3, rec)
        return rec

    def check(self, q2, q3, rec: dict) -> None:
        """Destination vs ground truth: row count plus an
        order-insensitive (id, updated) digest, and both reads; a drain
        must have taken in exactly the rows of its wave file."""
        got = {
            "digest": _store_digest(self.store),
            "q2": {r["status"]: (int(r["total"] * 100), r["n"]) for r in q2},
            "q3": [r["id"] for r in q3],
        }
        want = {"digest": self.src.digest(), "q2": self.src.q2(), "q3": self.src.q3(TOP_K)}
        if rec["kind"] == "wave":
            got["drain_rows"] = sum(p["numInputRows"] for p in rec["progress"])
            want["drain_rows"] = rec["wave_rows"]
        for name in got:
            self.run.check(f"sync_soak.{name}", got[name], want[name])

    def full_check(self) -> None:
        """The whole destination against the ground truth, and the
        stream store against the rows the waves wrote."""
        want = self.src.truth_table()
        got = self.store.read().toArrow().sort_by("id").select(want.column_names)
        self.run.check("sync_soak.full", got.cast(want.schema).equals(want), True)
        self.run.check("sync_soak.stream_digest", _store_digest(self.stream_store),
                       self.src.digest(waves_only=True))


def run_sync_soak(run: Run, n_rows: int) -> None:
    soak = Soak(run, n_rows)
    t = time.perf_counter()
    soak.stage()
    run.setup["stage_s"] = time.perf_counter() - t

    # cold pass, untimed: the initial sync, then one wave slot (sync
    # pass, read, first stream drain)
    t = time.perf_counter()
    run.attempt(soak.initial_sync)
    run.attempt(lambda: soak.one_pass(SCHEDULE[0], None))
    run.setup["first_call_s"] = time.perf_counter() - t
    run.setup["cpu_s"] = run.cpu()

    # whole cycles until --seconds have passed (at least one), so every
    # run times the same mix of wave sizes and idle passes
    slots: list[list[dict]] = [[] for _ in SCHEDULE]
    deadline = time.time() + run.seconds
    cycles = 0
    while cycles == 0 or time.time() < deadline:
        cycles += 1
        for k, frac in enumerate(SCHEDULE):
            op = run.next_op()
            rec = run.attempt(lambda: soak.one_pass(frac, op))
            if rec is not None:
                slots[k].append(rec)
                run.ops[op] = (rec["start"], rec["end"])
    run.attempt(soak.full_check)

    passes = [p for s in slots for p in s]
    waves = [p for p in passes if p["kind"] == "wave"]
    idle = [p for p in passes if p["kind"] == "idle"]

    def cycle_of(*keys: str) -> float:
        """One schedule cycle: the sum over its slots of each slot's
        median (over the run's cycles)."""
        return sum(statistics.median(sum(p[k] for k in keys) for p in s) for s in slots if s)

    run.e2e["round_s"] = (cycle_of("pass_s", "read_s", "drain_s"), len(passes))
    run.e2e["round_cpu_s"] = cycle_of("pass_cpu_s", "read_cpu_s", "drain_cpu_s")

    changed = sum(p["rows_changed"] for p in passes)
    delta = sum(p["delta_rows"] for p in passes)
    n = len(passes)
    run.layer.update(
        {
            "sync.wave_pass_p50_s": statistics.median(p["pass_s"] for p in waves),
            "sync.idle_pass_p50_s": statistics.median(p["pass_s"] for p in idle),
            "sync.dest_read_p50_s": statistics.median(p["read_s"] for p in passes),
            "sync.changed_rows_per_s": changed / sum(p["pass_s"] for p in waves),
            "sync.write_amp": sum(p["bytes_written"] for p in passes)
            / max(1, sum(p["wave_bytes"] for p in passes)),
            "sync.delta_rows": delta / n,
            "sync.rows_changed": changed / n,
            "sync.useful_delta_ratio": changed / max(1, delta),
            "sync.writes_skipped": sum(1 for p in passes if p["files_written"] == 0) / n,
            "store.bytes_written": sum(p["bytes_written"] for p in passes) / n,
            "store.files_written": sum(p["files_written"] for p in passes) / n,
            "store.files_live": passes[-1]["files_live"],
            "store.bytes_live": passes[-1]["bytes_live"],
        }
    )
    run.layer.update(_streaming_metrics(waves))


def _streaming_metrics(waves: list[dict]) -> dict:
    """Per drain, from its StreamingQueryProgress entries: batches, the
    durationMs components summed over its batches, and start/stop time
    (drain wall time outside trigger execution)."""
    n = max(1, len(waves))
    out = {"streaming.drain_p50_s": statistics.median(p["drain_s"] for p in waves),
           "streaming.batches": sum(len(p["progress"]) for p in waves) / n}
    for key, name in DURATIONS.items():
        total = sum(b["durationMs"].get(key, 0) for p in waves for b in p["progress"])
        out[f"streaming.{name}"] = total / n
    out["streaming.start_stop_s"] = (
        sum(p["drain_s"] for p in waves) / n - out["streaming.trigger_execution_ms"] / 1e3
    )
    return out


def trace_sync(run: Run) -> None:
    """Spans at the sync module's boundaries (traced run only)."""
    from pypgsync_spark import sync

    t = run.tracer
    t.wrap(sync.ParquetSyncedTable, "read", "sync.store_read")
    t.wrap(sync.ParquetSyncedTable, "write", "sync.store_write")
    t.wrap(sync, "low_watermark", "sync.low_watermark")
    t.wrap(sync, "sync_once", "sync.delta_count")
    t.wrap(sync, "upsert_merge", "merge.upsert_merge")
