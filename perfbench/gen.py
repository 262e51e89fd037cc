"""Seeded input generators (numpy + pyarrow, in the benchmark process).

Everything a workload feeds the engine is written here as parquet
files; the engine only ever sees those files. The same seed always
yields the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Versions of the synced table are epoch millis far in the past, so the
# engine's wall-clock high watermark always covers every generated row.
SYNC_T0_MS = 1_600_000_000_000
STATUSES = ["ok", "pending", "BLOCKED", "refunded"]
_PAYLOAD_POOL = 4096
# Document shape, measured on the 5000-document sf0.1 `documents`
# fixture (FIXTURES.md; perfbench/METRICS.md lists the figures): words
# drawn uniformly from a 30-word vocabulary, 10-99 words per document
# (uniform), 5 % of the documents a copy of another document (itself
# possibly a copy) with " dup" appended, lang drawn independently,
# source round-robin over 20 names.
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_WORDS = (10, 100)
_COPY_SHARE = 0.05
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]


def _decimal_cents(cents: np.ndarray) -> pa.Array:
    """Non-negative int64 cents as a decimal(18,2) array (the unscaled
    128-bit little-endian value is the cents count)."""
    raw = np.zeros((len(cents), 2), dtype=np.int64)
    raw[:, 0] = cents
    return pa.Array.from_buffers(
        pa.decimal128(18, 2), len(cents), [None, pa.py_buffer(raw.tobytes())]
    )


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


class SyncSource:
    """The keyed source table of ``sync_soak`` plus its ground truth.

    Columns: ``id``, epoch-millis ``updated``, ``user_id``, decimal
    ``amount``, ``status`` and a string ``payload``. Ground truth is one
    numpy array per column indexed by id: the latest version of every
    key, which is what a correct last-writer-wins sync must converge to.
    """

    def __init__(self, seed: int, n_rows: int):
        self.rng = rng = np.random.default_rng(seed)
        self.n_initial = n_rows
        pool = rng.integers(0, 26, size=(_PAYLOAD_POOL, 40), dtype=np.uint8) + 97
        self.pool = pa.array([bytes(r).decode() for r in pool])
        self.hot = rng.permutation(n_rows)  # Zipf rank -> id
        self.updated = SYNC_T0_MS + rng.permutation(n_rows).astype(np.int64)
        self.user_id = rng.integers(0, max(1, n_rows // 20), n_rows)
        self.cents = rng.integers(1, 10_000_000, n_rows)
        self.status = rng.integers(0, len(STATUSES), n_rows)
        self.payload = rng.integers(0, _PAYLOAD_POOL, n_rows)
        self.next_ts = SYNC_T0_MS + n_rows
        self.touched = np.zeros(n_rows, dtype=bool)  # ids some wave wrote

    @property
    def n_ids(self) -> int:
        return len(self.updated)

    def _table(self, ids, updated, user_id, cents, status, payload) -> pa.Table:
        return pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "updated": pa.array(updated, pa.int64()),
                "user_id": pa.array(user_id, pa.int64()),
                "amount": _decimal_cents(cents),
                "status": pa.array(STATUSES).take(pa.array(status)),
                "payload": self.pool.take(pa.array(payload)),
            }
        )

    def initial_table(self) -> pa.Table:
        n = self.n_initial
        return self._table(
            np.arange(n), self.updated[:n], self.user_id[:n], self.cents[:n],
            self.status[:n], self.payload[:n],
        )

    def truth_table(self) -> pa.Table:
        """The expected destination, sorted by id."""
        return self._table(
            np.arange(self.n_ids), self.updated, self.user_id, self.cents,
            self.status, self.payload,
        )

    def wave(self, frac: float) -> tuple[pa.Table, int]:
        """One wave of ``frac`` x the initial table: 80 % updates to
        Zipf-skewed hot keys (hot keys get several versions inside one
        wave) and 20 % inserts of new keys. Every version is newer than
        anything synced before. Applies the wave to the ground truth and
        returns ``(table, rows_changed)``."""
        rng = self.rng
        m = max(1, round(frac * self.n_initial))
        n_ins = max(1, m // 5)
        ranks = (rng.zipf(1.3, m - n_ins) - 1) % self.n_initial
        ids = np.concatenate(
            [self.hot[ranks], self.n_ids + np.arange(n_ins)]
        ).astype(np.int64)
        updated = self.next_ts + rng.permutation(m).astype(np.int64)
        self.next_ts += m
        user_id = rng.integers(0, max(1, self.n_initial // 20), m)
        cents = rng.integers(1, 10_000_000, m)
        status = rng.integers(0, len(STATUSES), m)
        payload = rng.integers(0, _PAYLOAD_POOL, m)

        grow = n_ins
        self.updated = np.concatenate([self.updated, np.zeros(grow, np.int64)])
        self.user_id = np.concatenate([self.user_id, np.zeros(grow, np.int64)])
        self.cents = np.concatenate([self.cents, np.zeros(grow, np.int64)])
        self.status = np.concatenate([self.status, np.zeros(grow, np.int64)])
        self.payload = np.concatenate([self.payload, np.zeros(grow, np.int64)])
        self.touched = np.concatenate([self.touched, np.zeros(grow, bool)])
        self.touched[ids] = True
        order = np.lexsort((updated, ids))
        last = np.r_[ids[order][1:] != ids[order][:-1], True]
        win = order[last]
        for dst, src in (
            (self.updated, updated), (self.user_id, user_id), (self.cents, cents),
            (self.status, status), (self.payload, payload),
        ):
            dst[ids[win]] = src[win]
        table = self._table(ids, updated, user_id, cents, status, payload)
        return table, len(win)

    def digest(self, waves_only: bool = False) -> tuple[int, int]:
        """Order-insensitive ``(row count, (id, updated) digest)`` of the
        ground truth, or of its rows some wave wrote;
        :func:`spark_digest_expr` computes the same value in Spark."""
        ids = np.arange(self.n_ids, dtype=np.int64)
        h = ((ids * 2654435761) ^ self.updated) % 1_000_000_007
        if waves_only:
            ids, h = ids[self.touched], h[self.touched]
        return len(ids), int(h.sum())

    def q2(self) -> dict[str, tuple[int, int]]:
        """Per-status ``(sum of amount in cents, count)``."""
        sums = np.bincount(self.status, weights=None, minlength=len(STATUSES))
        cents = np.zeros(len(STATUSES), dtype=np.int64)
        np.add.at(cents, self.status, self.cents)
        return {
            s: (int(cents[i]), int(sums[i]))
            for i, s in enumerate(STATUSES)
            if sums[i]
        }

    def q3(self, k: int) -> list[int]:
        """Ids of the top-k rows by amount, ties broken by id."""
        order = np.lexsort((np.arange(self.n_ids), -self.cents))
        return [int(i) for i in order[:k]]


def spark_digest_expr():
    """Spark form of :meth:`SyncSource.digest`'s per-row hash."""
    from pyspark.sql import functions as F

    h = (F.col("id") * F.lit(2654435761)).bitwiseXOR(F.col("updated")) % F.lit(
        1_000_000_007
    )
    return F.sum(h).alias("h")


def write_documents(seed: int, n_docs: int, path: str) -> list[str]:
    """Word-soup documents shaped like the ``documents`` fixture (see
    ``_VOCAB``); the copies are the near-duplicate pairs. Returns the
    texts in ``doc_id`` order."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(*_WORDS, n_docs)
    ]
    for i in rng.permutation(n_docs)[: round(_COPY_SHARE * n_docs)]:
        src = (i + rng.integers(1, n_docs)) % n_docs
        texts[i] = texts[src] + " dup"
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    write_parquet(table, path)
    return texts
