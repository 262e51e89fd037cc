"""Windowed range query — the reference's signature sub-windowing trick.

The reference numbers rows with ``ROW_NUMBER() OVER (ORDER BY col)``,
keeps rows where ``rownum % windowsize = 1``, and turns consecutive
boundary values into half-open range predicates so the server never
materializes the full result set (reference session.py:242-308, the
SQLAlchemy-wiki "WindowedRangeQuery" pattern).

Spark doesn't need this to bound memory — executors stream partitions —
but the operator is part of the reference's query surface, and the
boundary list is exactly what ``spark.read.jdbc(predicates=...)``
wants, so it earns its keep as a JDBC-partitioning planner.

Scale note: a global (unpartitioned) ``row_number`` collapses to a
single task. ``row_number_boundaries`` keeps that reference-literal
plan (w1); ``distributed_row_number`` is the 100 TB-safe rank, whose
only wide stage is a range exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def row_number_boundaries(df: DataFrame, column: str, window_size: int) -> DataFrame:
    """Every-Nth-row boundary values of ``column`` (exact, global sort).

    Returns DataFrame(column, rownum) for rows where
    ``(rownum - 1) % window_size == 0`` — i.e. rows 1, N+1, 2N+1, ...
    (reference session.py:273-292 keeps ``rownum % N == 1``; same set
    for N > 1 and fixture-faithful for the oracle).
    """
    w = Window.orderBy(F.col(column))
    # (rownum - 1) % N == 0, not rownum % N == 1: identical for N > 1
    # but correct for window_size=1 (every row), where the reference
    # guards windowsize > 1 (session.py:290-292) and the modulo form
    # would silently return nothing.
    return (
        df.select(column)
        .withColumn("rownum", F.row_number().over(w))
        .filter((F.col("rownum") - 1) % window_size == 0)
    )


def distributed_row_number(
    df: DataFrame,
    order_by: list[str],
    ascending: bool = True,
    num_partitions: int | None = None,
    out: str = "rownum",
) -> DataFrame:
    """Global ``row_number`` without a single-partition sort — the
    classic two-pass distributed rank, the 100 TB-safe form of the
    reference's ``ROW_NUMBER() OVER (ORDER BY col)`` (session.py:273-292;
    the DESC flavor is README.md:94-101).

    Pass 1: range-repartition on the order columns and sort within
    partitions, so partition i's keys all precede partition i+1's. The
    partitioned data is lazily ``localCheckpoint``-ed: both passes read
    the SAME materialized partitions, making boundaries deterministic
    and paying the sort once.
    Pass 2: per-partition row counts (metadata-scale — one long per
    partition is all that ever reaches the driver) are prefix-summed
    into offsets; an Arrow-streamed ``mapInPandas`` assigns local
    indices (generator state carries the running count across record
    batches — no second shuffle, no window), and ``local + offset``
    is the global rank.

    Versus ``Window.orderBy(...)`` (kept as the reference-literal w1/w2):
    that plan funnels every row through ONE task; here the only wide
    stage is the range exchange, which scales with partition count.
    """
    import pandas as pd  # noqa: F401  (mapInPandas batches are pandas)
    from pyspark.sql import types as T

    cols = [F.col(c) for c in order_by]
    ocols = cols if ascending else [c.desc() for c in cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *ocols)
        .sortWithinPartitions(*ocols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    sizes = {r["__pid"]: r["cnt"] for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(sizes):
        offsets[p] = acc
        acc += sizes[p]
    schema = T.StructType(ranged.schema.fields + [T.StructField("__lrn", T.LongType())])

    def local_index(batches):
        base = 0
        for pdf in batches:
            pdf = pdf.assign(__lrn=range(base + 1, base + len(pdf) + 1))
            base += len(pdf)
            yield pdf

    map_lits = [lit for p, o in offsets.items() for lit in (F.lit(p), F.lit(o))]
    off_map = F.create_map(*map_lits) if map_lits else F.create_map(F.lit(0), F.lit(0))
    return (
        ranged.mapInPandas(local_index, schema)
        # long, not int (r10 review): past 2^31 rows an int cast throws
        # CAST_OVERFLOW under ANSI (or wraps negative without it) — the
        # exact scale this two-pass rank exists for; DuckDB/ANSI
        # row_number is BIGINT anyway
        .withColumn(out, (F.col("__lrn") + off_map[F.col("__pid")]).cast("long"))
        .drop("__pid", "__lrn")
    )
