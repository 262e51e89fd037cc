"""Stream-stream joins: watermark-bounded event-time interval joins.

The reference's continuous mode re-queries the source per trigger
(reference cli.py:72-74) and any cross-stream correlation is left to
the destination database. Structured Streaming does the correlation
IN the stream: two watermarked streams joined on an equi-key plus an
event-time range condition. The watermarks + the range bound tell the
state store exactly how long each side's rows must be retained, so
state is evicted continuously — this is the ONLY formulation of a
stream-stream join that runs unbounded at 100 TB/day (a join without
the time bound accumulates state forever and dies).

Physical shape: both sides shuffle once on the join key; the state
store holds, per key, only rows younger than (watermark + lookback).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pypgsync_spark.catalog import ensure_events_ts
from pypgsync_spark.streaming.balance import _file_stream, drain_to_memory


def interval_join_events(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    query_name: str = "stream_stream_join",
    state_partitions: int | str | None = "auto",
) -> DataFrame:
    """Join two event sub-streams of the same source: every ``error``
    event pairs with the ``click`` events of the same user in the
    6-hour window ending at the error ("which clicks preceded this
    error"). Returns (error_id, click_id) pairs via an append-mode
    memory sink.

    Both sides carry a 2-day watermark and the join condition bounds
    ``click_ts`` to ``[error_ts - 6 hours, error_ts]`` — the two facts
    Spark needs to prove state eviction is safe on BOTH sides.
    """
    def side(event_type: str, id_alias: str, ts_alias: str, user_alias: str):
        src = ensure_events_ts(
            _file_stream(spark, schema, source_path), event_time=True
        )
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 days")
        )

    left = side("error", "error_id", "error_ts", "user_id")
    right = side("click", "click_id", "click_ts", "r_user_id")
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 6 hours"))
        & (F.col("click_ts") <= F.col("error_ts")),
        "inner",
    ).select("error_id", "click_id")
    return drain_to_memory(
        spark,
        joined,
        query_name,
        state_partitions=state_partitions,
        output_mode="append",
    )
