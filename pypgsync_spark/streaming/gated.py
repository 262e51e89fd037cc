"""Transition-gated contributions: the reference's trigger semantics,
exactly — at bucketed (not per-key) Python cost.

The reference's ``user_balance`` trigger (reference README.md:157-198)
adds ``NEW.amount`` when a row *transitions into* the qualifying state
(insert trigger gate README.md:179-183; update trigger gate
README.md:191-197: OLD not qualifying AND NEW qualifying) — each
transaction contributes exactly once, on its first qualifying version,
and later updates do not re-add (an acknowledged approximation of the
reference design).

``t5``'s ``dropDuplicates(event_id)`` gate is correct when version 1 of
a row is already qualifying, but keeps the FIRST-SEEN version of each
id — so an id whose v1 is non-qualifying and v2 qualifies would never
contribute. This module implements the exact gate as a custom stateful
operator over ``applyInPandasWithState``.

Cost model (the round-2 lesson): keying the stateful operator by
``event_id`` makes group cardinality = number of events, so every group
is a 1–2-row pandas frame and per-group Python overhead dominates
(21.5 s of a 58.7 s bench). Two structural fixes, both
semantics-preserving:

1. **Qualifying pre-filter in the JVM** — non-qualifying versions never
   emit and never flip state, so they need not cross into Python at
   all; the gate sees only qualifying rows.
2. **Bucketed state keying** — the operator is keyed by
   ``pmod(xxhash64(event_id), num_buckets)`` instead of the raw id.
   Python now sees ``num_buckets`` large frames per micro-batch instead
   of one frame per id, and the per-id once-only logic is vectorized
   pandas (sort + drop_duplicates + isin) inside each bucket. State per
   bucket = the contributed id set plus a last-seen processing-time
   stamp per id (two parallel long arrays), which is the same total
   state as one boolean per id, just grouped. ``xxhash64`` is
   deterministic (fixed seed), so an id's bucket — and therefore its
   state row — is stable across micro-batches and restarts.

Scale notes: at 100 TB the state store is RocksDB
(``store_provider="rocksdb"`` on the runner → incremental checkpoints,
state off-heap), ids age out of the contributed set via the per-id
processing-time TTL (``ttl_ms``, refreshed on touch — the
dropDuplicatesWithinWatermark retention model: a duplicate arriving
after source retention re-contributes, the standard bounded-state
trade), and ``num_buckets`` is sized so a bucket's id set fits executor
memory (buckets ≫ cores; each bucket holds ids/buckets ≈ N/B entries).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pypgsync_spark.catalog import ensure_events_ts
from pypgsync_spark.streaming.balance import _file_stream

CONTRIB_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# Per-bucket state: parallel arrays — contributed event ids and each
# id's last-seen processing-time millis (drives the TTL prune).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("seen_ms", T.ArrayType(T.LongType())),
    ]
)


def _make_bucket_gate(
    ttl_ms: int | None,
) -> Callable[[tuple[Any, ...], Iterator[pd.DataFrame], GroupState], Iterator[pd.DataFrame]]:
    """Build the per-bucket gate. Input rows are pre-filtered to
    qualifying versions; the gate emits, per event id, the earliest-ts
    qualifying version not yet in the bucket's contributed set."""

    def gate(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids_raw, seen_raw = state.get
            ids = np.asarray(ids_raw, dtype=np.int64)
            seen = np.asarray(seen_raw, dtype=np.int64)
        else:
            ids = np.empty(0, dtype=np.int64)
            seen = np.empty(0, dtype=np.int64)
        now = state.getCurrentProcessingTimeMs()
        # Expire-on-load: ids unseen for ttl_ms are gone BEFORE this
        # batch's rows are considered (state-timeout semantics) — an id
        # whose retention passed can re-contribute in this very batch.
        if ttl_ms is not None and len(ids):
            live = (now - seen) <= ttl_ms
            ids, seen = ids[live], seen[live]

        chunks = list(pdfs)
        out: list[pd.DataFrame] = []
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            # Earliest qualifying version per id within this batch: a
            # stable sort on event-time then keep-first — vectorized,
            # equivalent to the reference trigger firing in `updated`
            # order (rows within a batch may span Arrow chunks in
            # arbitrary order, hence the explicit sort).
            firsts = pdf.sort_values("ts", kind="mergesort").drop_duplicates(
                subset="event_id", keep="first"
            )
            fresh_mask = ~firsts["event_id"].isin(ids)
            fresh = firsts[fresh_mask]
            if len(fresh):
                out.append(
                    pd.DataFrame(
                        {
                            "event_id": fresh["event_id"].to_numpy(np.int64),
                            "user_id": fresh["user_id"].to_numpy(np.int64),
                            "value": fresh["value"].to_numpy(np.float64),
                        }
                    )
                )
            # Refresh last-seen for touched known ids; append the new
            # contributors stamped now.
            touched = firsts["event_id"].to_numpy(np.int64)
            if len(ids):
                seen = np.where(np.isin(ids, touched), now, seen)
            if len(fresh):
                ids = np.concatenate([ids, fresh["event_id"].to_numpy(np.int64)])
                seen = np.concatenate([seen, np.full(len(fresh), now, dtype=np.int64)])

        state.update((ids.tolist(), seen.tolist()))
        return iter(out)

    return gate


def pin_num_buckets(
    spark,
    checkpoint_dir: str,
    num_buckets: int | str,
    default_parallelism: int,
) -> int:
    """Resolve and PIN the bucket count for a checkpointed gate run.

    The bucket id is the stateful operator's grouping key, captured in
    the checkpoint — if ``num_buckets`` ever changes for an existing
    checkpoint, event ids remap to different buckets, their contributed
    state is no longer found, and they silently re-contribute. So the
    resolved count is persisted beside the checkpoint at first start
    and every later start reuses the pinned value. A conflicting
    explicit value is an error (the caller is asking for silent double
    contributions), and ``"auto"`` resolves to the pinned value, not
    the current cluster size — restarting on a different cluster is
    exactly the case the pin exists for.

    The marker lives WHERE THE CHECKPOINT LIVES: all IO goes through
    the Hadoop FileSystem resolved for the checkpoint URI's scheme, so
    the restart-safety guarantee holds for ``s3a://``/``hdfs://``
    checkpoints, not just local paths (round-4/5 advisor carry).
    """
    jvm = spark._jvm
    marker = jvm.org.apache.hadoop.fs.Path(
        f"{checkpoint_dir.rstrip('/')}/_pypgsync_num_buckets"
    )
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(marker):
        # one readLine round trip, not one Py4J call per byte
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(marker))
        )
        try:
            pinned = int(reader.readLine().strip())
        finally:
            reader.close()
        if num_buckets != "auto" and int(num_buckets) != pinned:
            raise ValueError(
                f"num_buckets={num_buckets} conflicts with the value pinned in "
                f"{marker} ({pinned}); changing it for an existing checkpoint "
                "remaps state keys and double-counts contributions"
            )
        return pinned
    resolved = 4 * default_parallelism if num_buckets == "auto" else int(num_buckets)
    out = fs.create(marker, True)
    try:
        out.write(bytearray(str(resolved).encode()))
    finally:
        out.close()
    return resolved


def gated_contributions_stream(
    src: DataFrame,
    num_buckets: int | str = "auto",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Wire the gate over a streaming events DataFrame → append-mode
    stream of (event_id, user_id, value) contribution rows; ``error``
    events never qualify.

    ``num_buckets="auto"`` sizes the state keyspace to 4× the session's
    default parallelism — enough buckets that every state partition
    stays busy, few enough that each pandas frame amortizes the Python
    crossing. ``ttl_ms`` bounds state: ids unseen for that long fall
    out of the contributed set (None = keep forever; the bounded
    fixture default).
    """
    if num_buckets == "auto":
        num_buckets = 4 * src.sparkSession.sparkContext.defaultParallelism
    tagged = (
        # The qualifying pre-filter: stays in the JVM scan, never
        # crosses to Python (reference gate README.md:182,195-196 —
        # non-qualifying versions cannot emit or flip state).
        src.filter(F.col("event_type") != "error").select(
            "event_id",
            "user_id",
            "value",
            # micros, not cast("long") (which floors to SECONDS and
            # would tie-break same-second versions arbitrarily)
            F.unix_micros(F.col("ts")).alias("ts"),
            F.pmod(F.xxhash64("event_id"), F.lit(int(num_buckets))).alias("bucket"),
        )
    )
    return tagged.groupBy("bucket").applyInPandasWithState(
        _make_bucket_gate(ttl_ms),
        outputStructType=CONTRIB_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def gated_balance(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    contrib_dir: str,
    checkpoint_dir: str,
    state_partitions: int | str | None = "auto",
    num_buckets: int | str = "auto",
    ttl_ms: int | None = None,
    store_provider: str | None = None,
) -> DataFrame:
    """Run the transition-gated contribution stream into a parquet
    contribution log (drain-and-stop, checkpointed — resumable across
    runs like the reference's continuous mode), then aggregate the
    cumulative per-user balances batch-side.

    Chaining the stateful gate directly into a streaming groupBy-sum
    would be a second stateful operator in the same query; the
    append-log + batch-sum split keeps each stage in its supported
    output mode. The contribution log is written one epoch_id-named
    subdirectory per epoch in OVERWRITE mode: foreachBatch is
    at-least-once (gate state rolls back with a failed epoch and a
    replayed epoch re-emits), so a plain append could double-write an
    epoch whose files landed before the checkpoint commit — per-epoch
    overwrite makes the replay idempotent.

    ``store_provider="rocksdb"`` swaps the state store to RocksDB for
    unbounded-cardinality runs; ``ttl_ms`` bounds the contributed-id
    state (see module docstring).
    """
    src = ensure_events_ts(_file_stream(spark, schema, source_path), event_time=True)
    pinned = pin_num_buckets(
        spark, checkpoint_dir, num_buckets, spark.sparkContext.defaultParallelism
    )
    contrib = gated_contributions_stream(src, num_buckets=pinned, ttl_ms=ttl_ms)

    def append_contribs(batch: DataFrame, epoch_id: int) -> None:
        # Unconditional write: an isEmpty() pre-check would execute the
        # whole stateful stage once for the probe and again for the
        # write (foreachBatch frames are not cached) — doubling the
        # micro-batch cost; an empty epoch just writes an empty dir.
        batch.write.mode("overwrite").parquet(f"{contrib_dir}/epoch={epoch_id}")

    import os

    from pypgsync_spark.streaming.balance import (
        no_data_microbatches,
        state_store_provider,
        stream_shuffle_partitions,
    )

    # Skip availableNow's trailing no-data cleanup batch (see
    # balance.no_data_microbatches): the gate emits every contribution
    # in its arrival batch (NoTimeout — no timers to fire), so the
    # cleanup batch only prunes state that dies with the drain anyway.
    skip_no_data = os.environ.get("SPARK_GRAFT_STREAM_NODATA") != "1"
    with stream_shuffle_partitions(spark, state_partitions), state_store_provider(
        spark, store_provider
    ), no_data_microbatches(spark, not skip_no_data):
        q = (
            contrib.writeStream.foreachBatch(append_contribs)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # Existence probe through the Hadoop FileSystem for the URI's
    # scheme — NOT os.path: a remote contrib_dir (hdfs://, s3a://, or
    # even an explicit file: URI) is invisible to the local-FS check,
    # which would silently return an EMPTY balance after every epoch
    # wrote its contributions remotely (r10 review). Same discipline
    # as pin_num_buckets above.
    jp = spark._jvm.org.apache.hadoop.fs.Path(contrib_dir)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jp):
        # no epoch emitted anything (empty / fully-blocked source)
        contrib_empty = spark.createDataFrame([], CONTRIB_SCHEMA)
        return contrib_empty.groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("balance"),
            F.count(F.lit(1)).alias("n_events"),
        )
    return (
        spark.read.parquet(contrib_dir)
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("balance"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
