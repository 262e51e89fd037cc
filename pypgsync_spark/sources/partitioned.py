"""Date-partitioned destination — delta-proportional incremental writes.

The complement of sources/bucketed.py for the time dimension. The sync
destination is laid out as ``.../event_date=YYYY-MM-DD/`` parquet; with
DYNAMIC partition overwrite, writing a merged delta replaces ONLY the
date partitions the delta actually touches — every other partition's
files are left physically untouched (asserted by inode/mtime in
tests/test_partitioned.py). At 100 TB this is the difference between
rewriting a day and rewriting three years.

Read side: the date column is a partition column, so watermark/range
predicates become PartitionFilters — whole directories skipped before
any parquet footer is opened (coarser and cheaper than row-group
skipping; the two compose).

Reference parity: the reference applies its upsert batches in place
(session.py:135-151), paying delta-proportional IO on the Postgres
heap; this layout is the object-store equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DATE_COL = "event_date"


def with_event_date(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive the partition column. Kept as its own step so callers can
    partition-prune on it explicitly."""
    return df.withColumn(DATE_COL, F.to_date(F.col(ts_col)))


def write_date_partitioned(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Write parquet partitioned by ``event_date``. ``overwrite`` uses
    DYNAMIC partition overwrite (set per-write, not session-wide):
    only the partitions present in ``df`` are replaced."""
    (
        df.write.format("parquet")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(DATE_COL)
        .mode(mode)
        .save(path)
    )


def read_date_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
