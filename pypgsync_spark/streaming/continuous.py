"""Continuous-mode sync as Structured Streaming.

The reference's continuous mode is ``while True: sync(); sleep(delay)``
(reference cli.py:80-97) — each iteration a fresh batch sync whose
state lives in the destination table. The Spark-native form is a
Structured Streaming query:

- ``readStream`` over the source (files here; Kafka/CDC in production),
- ``trigger(processingTime=...)`` for the 5-second cadence
  (reference cli.py:72-74) or ``availableNow`` for drain-and-stop,
- ``foreachBatch`` running the same idempotent merge as batch mode —
  checkpointed offsets + idempotent merge ⇒ effectively-once
  (the reference's crash-resume property, README.md:90),
- ``withWatermark`` available for bounded late-data tolerance — a
  strict improvement over the reference, which silently misses rows
  whose ``updated`` lags the destination max (SURVEY §2.10 T3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pypgsync_spark.operators.merge import latest_per_key
from pypgsync_spark.sync import ParquetSyncedTable, upsert_merge


def _merge_stream_writer(
    src: DataFrame,
    store: ParquetSyncedTable,
    keys: list[str],
    version_col: str,
    checkpoint_dir: str,
    trigger: dict | None,
):
    """The ONE foreachBatch merge body both streaming syncs share (r10
    review: it was duplicated verbatim between stream_sync and
    stream_sync_cdc, the copy-with-slight-variation drift shape).
    LWW-merge each batch onto the store — idempotent, so epoch replays
    after a crash are safe. ``upsert_merge`` itself resolves several
    versions of one key inside a batch, so only the first batch into an
    empty store needs ``latest_per_key``. The merge stays
    version-guarded (not ``delta_wins_merge``): a file stream delivers
    late rows older than the store's MAX. Each write records the
    merged table's MAX ``version_col`` in the commit, observed while
    the write runs (no extra job), so a later ``sync_table`` pass on
    the store needs no watermark scan."""

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        dst = store.read()
        if dst is None:
            merged = latest_per_key(batch, keys, version_col)
        else:
            merged = upsert_merge(dst, batch, keys, version_col)
        store.write(merged, version_col)

    writer = src.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def stream_sync(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    store: ParquetSyncedTable,
    keys: list[str],
    version_col: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Start a streaming sync of parquet files at ``source_path`` into
    ``store``. Returns the StreamingQuery (caller awaits/stops).

    ``trigger``: e.g. ``{"processingTime": "5 seconds"}`` (reference
    default cadence) or ``{"availableNow": True}`` to drain and stop.
    """
    src = spark.readStream.schema(schema).parquet(source_path)
    return _merge_stream_writer(src, store, keys, version_col, checkpoint_dir, trigger)


def stream_sync_cdc(
    spark: SparkSession,
    table_path: str,
    partition_column: str,
    store: ParquetSyncedTable,
    keys: list[str],
    version_col: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """The complete reference pipeline on the CDC streaming source:
    ``pypgsync_cdc`` (sources/pysource.py) polls MAX(partition_column)
    per micro-batch and reads the (last, max] delta through
    range-partitioned SQL cursors; each batch LWW-merges into
    ``store`` via foreachBatch. Offsets ride the checkpoint, the merge
    is idempotent on the keys — restartable, effectively-once, and a
    restarted run re-reads NOTHING already committed (unlike the
    reference, whose watermark update and destination write are not
    atomic: a crash between them re-applies rows). Per-epoch input row
    counts are the query's ``recentProgress[i].numInputRows``.
    """
    from pypgsync_spark.sources.pysource import read_cdc_stream

    src = read_cdc_stream(spark, table_path, partition_column)
    return _merge_stream_writer(src, store, keys, version_col, checkpoint_dir, trigger)
