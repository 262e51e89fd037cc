"""Tracing for the per-layer run: spans around module calls, plus the
Spark event log (jobs, stages, SQL metrics) attributed to the benchmark's operations by wall-clock window.

Spans are kept in memory and summarised when the run ends. A span's
self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Records nested spans; ``wrap`` patches a module attribute so every
    call through it records a span, ``restore`` undoes all patches."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[tuple[int, int | None]] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        sid = self._next
        self._next += 1
        parent, parent_op = self._stack[-1] if self._stack else (None, None)
        op = parent_op if op is None else op
        self._stack.append((sid, op))
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.time(), parent, op))

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_seconds(self, ops: set[int]) -> dict[str, float]:
        """Summed self time per span name over spans of the given ops."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op in ops:
                own = (s.end - s.start) - child.get(s.sid, 0.0)
                out[s.name] = out.get(s.name, 0.0) + own
        return out


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for root, _dirs, files in os.walk(log_dir):
        for fn in sorted(files):
            if "appstatus" in fn or fn.endswith(".crc"):
                continue
            with open(os.path.join(root, fn), errors="replace") as f:
                for line in f:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        continue
    return events


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(node: dict):
    """Plan nodes in pre-order: a node before its children."""
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


_PYTHON = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
           "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "PythonUDTF")
_WRITES = ("OverwriteByExpression", "AppendData")
SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "driver_gap_s",
)
ENGINE_KEYS = SPARK_KEYS + ("python_s", "candidate_pairs", "verified_pairs")


def _rows_metric(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    return None


def _first_join(node: dict) -> dict | None:
    for n in _walk(node):
        if "Join" in n.get("nodeName", ""):
            return n
    return None


def _plan_probes(plan: dict) -> tuple[list[int], list[int], list[tuple[int, str]]]:
    """Accumulator ids of (candidate pairs, verified pairs, Python-worker
    run time) in one physical plan. Pairs are read from a plan that
    writes a result: a dedup query ends in the exact-similarity verify
    join, whose threshold the optimizer folds into the join condition,
    so its output rows are the verified pairs and the rows of the join
    that feeds it are the candidate pairs."""
    python = []
    for node in _walk(plan):
        if any(k in node.get("nodeName", "") for k in _PYTHON):
            for m in node.get("metrics", []):
                if m["name"] == "time to run Python workers":
                    python.append((m["accumulatorId"], m.get("metricType", "timing")))
    cand, ver = [], []
    top = _first_join(plan) if plan.get("nodeName") in _WRITES else None
    if top is not None:
        feed = _first_join(top["children"][0]) if top.get("children") else None
        for acc, node in ((ver, top), (cand, feed or top)):
            a = _rows_metric(node)
            if a is not None:
                acc.append(a)
    return cand, ver, python


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
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
    return total


def engine_metrics(events: list[dict], ops: list[tuple[float, float]]) -> list[dict]:
    """Per operation window ``(start_s, end_s)``: Spark job/stage/task
    counts and executor time, shuffle and spill volume, driver time
    outside any job, Python-worker time and dedup pair counts from SQL
    metrics."""
    bounds = [(s * 1000, e * 1000) for s, e in ops]

    def op_of(t_ms: float) -> int | None:
        for i, (s, e) in enumerate(bounds):
            if s <= t_ms <= e:
                return i
        return None

    out = [dict.fromkeys(ENGINE_KEYS, 0.0) for _ in ops]
    job_iv: list[list[tuple[float, float]]] = [[] for _ in ops]
    job_start: dict[int, tuple[int, float]] = {}
    plans: dict[int, dict] = {}
    exec_op: dict[int, int] = {}
    stage_accums: list[tuple[int, dict]] = []
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            i = op_of(ev.get("Submission Time", 0))
            if i is not None:
                job_start[ev["Job ID"]] = (i, ev["Submission Time"])
                out[i]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_start:
                i, s = job_start[ev["Job ID"]]
                job_iv[i].append((s, ev.get("Completion Time", s)))
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            i = op_of(si.get("Submission Time", 0))
            if i is None:
                continue
            acc = {}
            for a in si.get("Accumulables", []):
                acc[a.get("ID")] = acc[a.get("Name")] = _num(a.get("Value"))
            d = out[i]
            d["stages"] += 1
            d["tasks"] += si.get("Number of Tasks", 0)
            d["executor_run_s"] += acc.get("internal.metrics.executorRunTime", 0) / 1e3
            d["executor_cpu_s"] += acc.get("internal.metrics.executorCpuTime", 0) / 1e9
            d["gc_s"] += acc.get("internal.metrics.jvmGCTime", 0) / 1e3
            d["shuffle_read_mb"] += (
                acc.get("internal.metrics.shuffle.read.localBytesRead", 0)
                + acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
            ) / 1e6
            d["shuffle_write_mb"] += (
                acc.get("internal.metrics.shuffle.write.bytesWritten", 0) / 1e6
            )
            d["spill_mb"] += acc.get("internal.metrics.diskBytesSpilled", 0) / 1e6
            stage_accums.append((i, acc))
        elif kind.endswith("SQLExecutionStart"):
            i = op_of(ev.get("time", 0))
            if i is not None:
                exec_op[ev["executionId"]] = i
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in plans:
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
    # A stage reports each SQL metric's running total, so the largest
    # value seen is the metric's final value.
    sql_values: list[dict] = [{} for _ in ops]
    for i, acc in stage_accums:
        for k, v in acc.items():
            if isinstance(k, int):
                sql_values[i][k] = max(sql_values[i].get(k, 0.0), v)
    for eid, plan in plans.items():
        i = exec_op[eid]
        cand, ver, python = _plan_probes(plan)
        vals = sql_values[i]
        out[i]["candidate_pairs"] += sum(vals.get(a, 0) for a in cand)
        out[i]["verified_pairs"] += sum(vals.get(a, 0) for a in ver)
        for a, mtype in python:
            scale = 1e9 if mtype == "nsTiming" else 1e3
            out[i]["python_s"] += vals.get(a, 0) / scale
    for i, (s, e) in enumerate(ops):
        clipped = [
            (max(a / 1e3, s), min(b / 1e3, e)) for a, b in job_iv[i] if b / 1e3 > s
        ]
        out[i]["driver_gap_s"] = (e - s) - _union_seconds(clipped)
    return out
