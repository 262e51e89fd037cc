"""Fixture-table catalog helpers.

Mirrors the reference's runtime schema reflection (reference
session.py:40-43, 184-185): schemas come from the data (parquet
footers / JDBC metadata), never hard-coded. ``load_tables`` gives the
query layer a dict of DataFrames; ``register_views`` exposes them to
``spark.sql``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_events_ts(df: DataFrame, event_time: bool = False) -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType.

    Fixture generations differ: current fixtures store TIMESTAMP(MICROS),
    which Spark reads natively (no-op here; range predicates go straight
    onto ``ts`` via ``functions.time.ts_range_pred`` and push down to the
    scan). Older fixtures stored TIMESTAMP(NANOS), which Spark's parquet
    reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong`` it
    surfaces as a BIGINT of epoch nanos — convert via integer division
    (``div``, not ``/`` — nanos exceed double's exact-integer range) to
    micros, matching DuckDB's floor-to-micros read of the same file, and
    keep the raw value as ``ts_nanos`` (a pure alias of the parquet
    column, so ``functions.time.nanos_range_pred`` predicates on it still
    reach the scan).

    POST-EPOCH ASSUMPTION (r11 review): ``div`` truncates toward zero
    while DuckDB floors, so a PRE-1970 nano timestamp would land 1 µs
    apart across engines (-1500 ns → -1 µs here, -2 µs there). All
    fixture generations are post-epoch, and the sweep's hash compare
    would flag any violation loudly; the truncating form is kept
    because every registered query's closure includes this function —
    changing it re-fingerprints the entire catalog for a case no real
    sync data hits. If pre-epoch nanos ever become legal fixture
    content, switch to ``(ts - pmod(ts, 1000)) div 1000`` (exact floor)
    and accept the one-round re-vouching drain.

    ``event_time=True`` (the streaming entry points) additionally casts
    a TIMESTAMP_NTZ ``ts`` to TIMESTAMP: ``withWatermark`` demands the
    LTZ type, and under the engine's pinned-UTC session the cast is an
    exact instant map. Batch readers keep NTZ — the cast sits between
    the scan and any filter, which would break predicate pushdown.
    """
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts_nanos", F.col("ts")).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    if event_time and dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → vectorized reader,
    predicate/column pushdown for free."""
    # Defensive: the caller's session may not be ours (the driver builds
    # its own). Epoch-millis normalization and the DuckDB oracle both
    # assume UTC; runtime-settable, idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # runtime-settable; needed because events.parquet carries
        # TIMESTAMP(NANOS) timestamps
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return ensure_events_ts(spark.read.parquet(table_path(sf_dir, name)))
    return spark.read.parquet(table_path(sf_dir, name))


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe that also works for remote URIs: ``os.path`` is
    local-FS-only and silently answers False for hdfs://s3a://file:
    paths (the r10 review's recurring bug class), so URIs go through
    the Hadoop FileSystem of the path's own scheme."""
    if "://" not in path:
        return os.path.exists(path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Every fixture table (``TABLES``) that exists under ``sf_dir``.

    Missing INDIVIDUAL tables are skipped (subset fixtures are legal);
    ZERO tables found is an error — that's a typo'd/missing directory,
    and returning {} only surfaced later as an opaque
    TABLE_OR_VIEW_NOT_FOUND deep inside a query (r11 review)."""
    out = {
        n: load_table(spark, sf_dir, n)
        for n in TABLES
        if _path_exists(spark, table_path(sf_dir, n))
    }
    if not out:
        raise FileNotFoundError(
            f"no fixture tables found under {sf_dir!r} "
            f"(looked for {', '.join(TABLES)})"
        )
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register temp views so queries can use spark.sql(...) directly."""
    for n, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(n)
