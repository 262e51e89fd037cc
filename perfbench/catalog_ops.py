"""``dedup_catalog``: dedup queries called through ``REGISTRY[name].fn``
and materialised into the noop sink.

Each run checks every query once, on its first (cold, untimed) call,
against :func:`jaccard_pairs`, an exact all-pairs computation over the
generated texts. The registry's DuckDB oracles for these queries are
quadratic: they score every document pair (4.5 M at 3000 documents)
with SQL list functions. ``selftest.py`` shows that
:func:`jaccard_pairs` gives what they give.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import gen
from common import Run

THRESHOLD = 0.3
# PPJoin over word 3-gram shingles, batch (d2: every pair) and
# incremental (d8: delta = doc_id % 10 == 0 against the rest). Each
# maps the all-pairs answer ``{(a, b): jaccard}`` to the query's rows.
DEDUP_QUERIES = {
    "d2_ngram_jaccard_pairs": lambda pairs: pairs,
    "d8_delta_jaccard_pairs": lambda pairs: {
        ((a, b) if a % 10 == 0 else (b, a)): j
        for (a, b), j in pairs.items()
        if (a % 10 == 0) != (b % 10 == 0)
    },
}

# Every query gets at least this many timed calls, whatever --seconds.
# The first warm call still costs up to a fifth more CPU than later
# ones; the median of three leaves it out.
MIN_ROUNDS = 3


def jaccard_pairs(texts: list[str], threshold: float = THRESHOLD) -> dict:
    """Every document pair ``(a, b)``, ``a < b`` (doc ids = list
    positions), whose word-3-gram Jaccard exceeds ``threshold``, exact.
    Shingles are built as the registry's DuckDB oracles build them:
    lower-cased whitespace tokens, three consecutive tokens joined by a
    space (one shorter shingle for a document under three tokens)."""
    ids: dict[str, int] = {}
    doc, sid, size = [], [], []
    for d, text in enumerate(texts):
        tok = text.lower().split()
        sh = {" ".join(tok[i : i + 3]) for i in range(max(len(tok) - 2, 1))}
        size.append(len(sh))
        doc += [d] * len(sh)
        sid += [ids.setdefault(s, len(ids)) for s in sh]
    doc, sid, size = np.array(doc), np.array(sid), np.array(size)
    # group the (doc, shingle) entries by shingle, docs ascending, and
    # pair every entry with each later entry of its group
    order = np.argsort(sid, kind="stable")
    s, d = sid[order], doc[order]
    starts = np.flatnonzero(np.r_[True, s[1:] != s[:-1]])
    ends = np.r_[starts[1:], len(s)]
    later = np.repeat(ends, ends - starts) - np.arange(len(s)) - 1
    left = np.repeat(np.arange(len(s)), later)
    right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(later) - later, later)
    n = len(texts)
    key, inter = np.unique(d[left] * n + d[right], return_counts=True)
    a, b = key // n, key % n
    jac = inter / (size[a] + size[b] - inter)
    keep = jac > threshold
    return {(int(x), int(y)): float(j) for x, y, j in zip(a[keep], b[keep], jac[keep])}


def mismatches(rows: list[tuple], want: dict) -> list[str]:
    """Differences between a query's ``(id, id, jaccard)`` rows and the
    expected pairs; the query rounds jaccard to 6 decimals."""
    got = {(int(r[0]), int(r[1])): float(r[2]) for r in rows}
    out = [f"{len(rows) - len(got)} duplicate rows"] if len(got) != len(rows) else []
    for k in sorted(set(got) | set(want)):
        if k not in got or k not in want or abs(got[k] - want[k]) > 1e-6:
            out.append(f"{k}: got {got.get(k)} want {want.get(k)}")
    return out[:10]


class QueryOp:
    """One registry query: build (``spec.fn``), then execute."""

    def __init__(self, name: str):
        from pypgsync_spark.queries import REGISTRY

        self.name = name
        self.spec = REGISTRY[name]

    def cold(self, run: Run, sf_dir: str) -> None:
        self.rows = [tuple(r) for r in self.spec.fn(run.spark, sf_dir).collect()]

    def check(self, run: Run, pairs: dict) -> None:
        run.check(self.name, mismatches(self.rows, DEDUP_QUERIES[self.name](pairs)), [])

    def timed(self, run: Run, sf_dir: str, op: int) -> None:
        with run.span("queries.build", op):
            df = self.spec.fn(run.spark, sf_dir)
        with run.span("queries.exec", op):
            df.write.format("noop").mode("overwrite").save()


def run_dedup(run: Run, n_docs: int) -> None:
    """Set up (generate the documents, then one cold call and one
    output check per query), then call the queries in turn, in whole
    rounds, until ``run.seconds`` have passed and every query has at
    least ``MIN_ROUNDS`` warm samples. ``round_s`` sums each query's
    median."""
    sf_dir = os.path.join(run.work, "data")
    t = time.perf_counter()
    texts = gen.write_documents(run.seed, n_docs, os.path.join(sf_dir, "documents.parquet"))
    run.setup["stage_s"] = time.perf_counter() - t

    ops = [QueryOp(n) for n in DEDUP_QUERIES]
    t = time.perf_counter()
    cold_ok = [run.attempt(lambda op=op: op.cold(run, sf_dir) or True) for op in ops]
    run.setup["first_call_s"] = time.perf_counter() - t
    run.setup["cpu_s"] = run.cpu()
    pairs = jaccard_pairs(texts)
    for op, ok in zip(ops, cold_ok):
        if ok:
            run.attempt(lambda op=op: op.check(run, pairs))

    samples: dict[str, list[float]] = {op.name: [] for op in ops}
    cpu: dict[str, list[float]] = {op.name: [] for op in ops}
    deadline = time.time() + run.seconds
    i = 0
    # whole rounds, so every query has the same number of samples
    while i < MIN_ROUNDS * len(ops) or time.time() < deadline or i % len(ops):
        op = ops[i % len(ops)]
        i += 1
        op_id = run.next_op()
        start, c0 = time.time(), run.cpu()
        if run.attempt(lambda: op.timed(run, sf_dir, op_id) or True):
            end = time.time()
            samples[op.name].append(end - start)
            cpu[op.name].append(run.cpu() - c0)
            run.ops[op_id] = (start, end)

    med = {n: statistics.median(s) for n, s in samples.items() if s}
    run.e2e["round_s"] = (sum(med.values()), sum(len(s) for s in samples.values()))
    run.e2e["round_cpu_s"] = sum(statistics.median(s) for s in cpu.values() if s)
    run.layer.update({f"queries.{n}_s": v for n, v in med.items()})
