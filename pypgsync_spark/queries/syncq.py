"""Sync-engine queries: SURVEY §2.9 (C1-C4), §2.1 (S3 merge semantics).

These run the actual sync machinery (plans/intervals.py,
operators/merge.py, sync.py) as driver-checkable queries. The merge
query builds a *stale destination* and a *fresh delta* from the events
fixture with disjoint transformations, merges them last-writer-wins,
and the oracle states the closed-form expected table — so the driver's
hash check verifies true upsert semantics, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pypgsync_spark.catalog import load_table
from pypgsync_spark.functions.time import events_range_pred, to_millis
from pypgsync_spark.operators.merge import coalesce_merge, latest_per_key, upsert_merge
from pypgsync_spark.plans.intervals import closed_intervals, plan_slices
from pypgsync_spark.queries import register
from pypgsync_spark.queries.common import (
    MS_JAN10,  # delta low watermark
    MS_JAN20,  # stale-destination high cutoff
    events_ms as _events_ms,
)


def _pid_scratch_dir(prefix: str, sf_dir: str) -> str:
    """Per-(fixture, process) scratch path for queries that must write
    real files (s10 XML round-trip, s11 sync store): the pid suffix
    keeps two live processes on the same fixture from racing on one
    directory (torn reads), and siblings left by DEAD pids are reaped
    here so repeated sweeps/benches don't grow /tmp without bound (the
    returned DataFrame reads the directory lazily, so the OWNING
    process can never clean up inline)."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = tempfile.gettempdir()
    for old in glob.glob(os.path.join(base, f"{prefix}_{tag}_*")):
        try:
            pid = int(old.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # probe: raises if the owner is gone
        except ProcessLookupError:
            shutil.rmtree(old, ignore_errors=True)
        except PermissionError:
            pass  # pid reused by another user's live process — leave it
    return os.path.join(base, f"{prefix}_{tag}_{os.getpid()}")

_SLICE_SCHEMA = T.StructType(
    [
        T.StructField("slice_id", T.IntegerType(), False),
        T.StructField("slice_lo", T.LongType(), False),
        T.StructField("slice_hi", T.LongType(), False),
    ]
)




@register(
    "c1_intervals",
    survey="C1",
    doc="Closed-interval slice grid (reference utils.py:29-38): "
    "pure planning math surfaced as rows for parity checking.",
    oracle="""
    SELECT CAST(i AS INT) AS slice_id,
           CAST(i * 100 AS BIGINT) AS slice_lo,
           CAST(least(i * 100 + 99, 10007) AS BIGINT) AS slice_hi
    FROM (SELECT unnest(range(0, 101)) AS i)
    """,
)
def c1_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        (i, lo, hi) for i, (lo, hi) in enumerate(closed_intervals(0, 10007, 100))
    ]
    return spark.createDataFrame(rows, _SLICE_SCHEMA)


@register(
    "c2_slice_plan",
    survey="C2,A6,C1",
    doc="calculate_optimal_slices (reference session.py:201-240): "
    "slice the events watermark range targeting 1000 rows/slice using "
    "the exact delta count (vs the reference's EXPLAIN estimate).",
    oracle="""
    WITH s AS (
        SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi, count(*) AS n
        FROM events
    ), p AS (
        SELECT lo, hi, CAST(ceil(n / 1000.0) AS BIGINT) AS nslices FROM s
    ), w AS (
        SELECT lo, hi, nslices,
               CAST(ceil((hi - lo + 1) * 1.0 / nslices) AS BIGINT) AS width
        FROM p
    )
    SELECT CAST(i AS INT) AS slice_id,
           CAST(lo + i * width AS BIGINT) AS slice_lo,
           CAST(least(lo + (i + 1) * width - 1, hi) AS BIGINT) AS slice_hi
    FROM w, (SELECT unnest(range(0, 100000)) AS i)
    WHERE lo + i * width <= hi
    """,
)
def c2_slice_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_ms(spark, sf_dir)
    row = df.agg(
        F.min("updated_ms").alias("lo"),
        F.max("updated_ms").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    plan = plan_slices(int(row["lo"]), int(row["hi"]), int(row["n"]), 1000)
    rows = [(i, lo, hi) for i, (lo, hi) in enumerate(plan.slices)]
    return spark.createDataFrame(rows, _SLICE_SCHEMA)


@register(
    "c3_watermarks",
    survey="C3,A1,A2",
    doc="Watermark probe (reference session.py:50-65): destination max "
    "(emulated as the pre-Jan-20 snapshot), source min/max.",
    oracle=f"""
    SELECT max(CASE WHEN epoch_ms(ts) < {MS_JAN20} THEN epoch_ms(ts) END) AS dst_max,
           min(epoch_ms(ts)) AS src_min,
           max(epoch_ms(ts)) AS src_max
    FROM events
    """,
)
def c3_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_ms(spark, sf_dir)
    return df.agg(
        F.max(
            F.when(F.col("updated_ms") < MS_JAN20, F.col("updated_ms"))
        ).alias("dst_max"),
        F.min("updated_ms").alias("src_min"),
        F.max("updated_ms").alias("src_max"),
    )


def _stale_dst(df: DataFrame) -> DataFrame:
    """Stale destination snapshot: rows before Jan 20, versions 1000 ms
    behind and values off by 1 (simulates not-yet-synced updates).
    Range stated on the raw parquet column (``ts`` on micros fixtures,
    ``ts_nanos`` on legacy nanos ones — ``events_range_pred`` branches)
    so it reaches PushedFilters on either fixture generation (exact
    transposition of ``updated_ms < MS_JAN20``)."""
    return df.filter(events_range_pred(df, hi_ms=MS_JAN20, hi_inclusive=False)).select(
        "event_id",
        (F.col("updated_ms") - 1000).alias("updated_ms"),
        "user_id",
        "event_type",
        (F.col("value") - 1).alias("value"),
        "props",
    )


def _fresh_delta(df: DataFrame) -> DataFrame:
    """Fresh source delta: everything at/after the Jan 10 low watermark
    (closed-range read, reference session.py:129-132)."""
    return df.filter(events_range_pred(df, lo_ms=MS_JAN10)).select(
        "event_id", "updated_ms", "user_id", "event_type", "value", "props"
    )


_MERGE_ORACLE = f"""
    SELECT event_id,
           CASE WHEN epoch_ms(ts) >= {MS_JAN10} THEN epoch_ms(ts)
                ELSE epoch_ms(ts) - 1000 END AS updated_ms,
           user_id, event_type,
           CASE WHEN epoch_ms(ts) >= {MS_JAN10} THEN value
                ELSE value - 1 END AS value,
           props
    FROM events
    WHERE epoch_ms(ts) < {MS_JAN20} OR epoch_ms(ts) >= {MS_JAN10}
    """


@register(
    "s3_upsert_merge",
    bench=11,
    survey="S3,C4,§2.3",
    doc="The upsert merge (reference session.py:135-151) as "
    "union + last-writer-wins dedup: stale destination + fresh delta → "
    "converged table. Oracle states the closed-form expected rows.",
    oracle=_MERGE_ORACLE,
)
def s3_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_ms(spark, sf_dir)
    return upsert_merge(
        _stale_dst(df), _fresh_delta(df), keys=["event_id"], version_col="updated_ms"
    )


@register(
    "s3b_coalesce_merge",
    survey="S3,§2.3",
    doc="The same merge as a full-outer join + per-column coalesce "
    "(the MERGE INTO shape) — must converge to the identical table.",
    oracle=_MERGE_ORACLE,
)
def s3b_coalesce_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _events_ms(spark, sf_dir)
    delta = latest_per_key(_fresh_delta(df), ["event_id"], "updated_ms")
    return coalesce_merge(_stale_dst(df), delta, keys=["event_id"])


@register(
    "s3c_bucketed_merge",
    survey="S3,S4,§2.3",
    doc="The same merge against a DESTINATION BUCKETED on the merge key "
    "(sources/bucketed.py): the full-outer sort-merge join reads the "
    "bucketed table's hash layout straight off the scan, so the big "
    "side never shuffles — only the delta does (plan-asserted in "
    "tests/test_bucketed.py). The 100 TB incremental-sync layout; "
    "result identical to s3/s3b by construction.",
    oracle=_MERGE_ORACLE,
)
def s3c_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from pypgsync_spark.sources.bucketed import bucketed_merge, write_bucketed

    df = _events_ms(spark, sf_dir)
    # table name AND scratch path keyed on the fixture dir so repeated
    # bench/correctness runs overwrite one directory instead of leaking
    # a fresh mkdtemp per call (round-5 advisor); data lands outside
    # the session warehouse
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"sync_dst_bucketed_{tag}"
    # pid-scoped scratch (r10 review: the tag-only path raced two live
    # processes on the same fixture — the exact torn-read bug
    # _pid_scratch_dir fixed for s10/s11 in r9)
    path = _pid_scratch_dir("pypgsync_bucketed", sf_dir)
    write_bucketed(
        _stale_dst(df), table, ["event_id"], num_buckets=8, path=f"{path}/t"
    )
    return bucketed_merge(
        spark, table, _fresh_delta(df), ["event_id"], "updated_ms", num_buckets=8
    )


@register(
    "s4b_partitioned_sink",
    survey="S4,S7",
    doc="Date-partitioned sink round-trip (sources/partitioned.py): "
    "full write, then a DYNAMIC-overwrite delta write that physically "
    "rewrites only the delta's date partitions (inode-asserted in "
    "tests/test_partitioned.py) — the object-store analogue of the "
    "reference's in-place delta-proportional upsert IO. Returns "
    "per-date counts read back through the partitioned layout; date "
    "predicates become PartitionFilters on this read path.",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def s4b_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from pypgsync_spark.sources.partitioned import (
        DATE_COL,
        read_date_partitioned,
        with_event_date,
        write_date_partitioned,
    )

    df = with_event_date(_events_ms(spark, sf_dir).drop("ts_nanos"))
    # deterministic scratch path keyed on the fixture dir: reruns
    # overwrite rather than leak (round-5 advisor)
    # pid-scoped (r10 review — see s3c)
    path = os.path.join(_pid_scratch_dir("pypgsync_partitioned", sf_dir), "t")
    write_date_partitioned(df, path)
    # incremental pass: rewrite just the newest date (delta-shaped write)
    newest = df.select(F.max(DATE_COL)).first()[0]
    write_date_partitioned(df.filter(F.col(DATE_COL) == F.lit(newest)), path)
    back = read_date_partitioned(spark, path)
    return back.groupBy(DATE_COL).agg(F.count(F.lit(1)).alias("n"))


@register(
    "c4_sync_pipeline",
    bench=12,
    survey="C4,C3,S3",
    doc="End-to-end sync_once(): low watermark read off the destination "
    "snapshot (= events before Jan 10), bounded delta extraction from "
    "the source, merge → destination converges to the full source — "
    "the reference's merge_chunks orchestration (session.py:111-160) "
    "in one declarative pass.",
    oracle="""
    SELECT event_id, epoch_ms(ts) AS updated_ms, user_id, event_type, value, props
    FROM events
    """,
)
def c4_sync_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.sync import sync_once

    df = _events_ms(spark, sf_dir)
    # the physical ts rides along so the delta read's watermark range
    # can be transposed onto the raw parquet column (row-group skipping
    # at the scan — the scan THE reference built its slice machinery for).
    raw_ts = ["ts", "ts_nanos"] if "ts_nanos" in df.columns else ["ts"]
    src = df.select(
        "event_id", "updated_ms", "user_id", "event_type", "value", "props", *raw_ts
    )
    dst = src.filter(events_range_pred(src, hi_ms=MS_JAN10, hi_inclusive=False))
    # emulate the reference's wall-clock high watermark with src max
    high = int(src.agg(F.max("updated_ms")).first()[0])
    merged, _stats = sync_once(
        src,
        dst,
        keys=["event_id"],
        version_col="updated_ms",
        high=high,
        pushdown_cond=lambda lo, hi: events_range_pred(src, lo, hi),
    )
    return merged.drop(*raw_ts)


@register(
    "c5_slice_assignment",
    survey="C1,C2,ext:rangejoin",
    doc="The reference's chunked fetch, distributed: plan the slice "
    "grid (c2) then assign every event to its containing slice with "
    "the bucketed range join (operators/rangejoin.py — equi-join on "
    "the bucket axis, never BroadcastNestedLoopJoin) and count rows "
    "per slice. Every event lands in exactly one slice; the per-slice "
    "counts are what calculate_optimal_slices sized toward.",
    oracle="""
    WITH s AS (
        SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi, count(*) AS n
        FROM events
    ), p AS (
        SELECT lo, hi, CAST(ceil(n / 1000.0) AS BIGINT) AS nslices FROM s
    ), w AS (
        SELECT lo, hi, nslices,
               CAST(ceil((hi - lo + 1) * 1.0 / nslices) AS BIGINT) AS width
        FROM p
    ), grid AS (
        SELECT CAST(i AS INT) AS slice_id,
               CAST(lo + i * width AS BIGINT) AS slice_lo,
               CAST(least(lo + (i + 1) * width - 1, hi) AS BIGINT) AS slice_hi
        FROM w, (SELECT unnest(range(0, 100000)) AS i)
        WHERE lo + i * width <= hi
    )
    SELECT g.slice_id, g.slice_lo, g.slice_hi, count(*) AS n_events
    FROM grid g JOIN events e
      ON epoch_ms(e.ts) BETWEEN g.slice_lo AND g.slice_hi
    GROUP BY g.slice_id, g.slice_lo, g.slice_hi
    """,
)
def c5_slice_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.rangejoin import range_join

    df = _events_ms(spark, sf_dir)
    row = df.agg(
        F.min("updated_ms").alias("lo"),
        F.max("updated_ms").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    plan = plan_slices(int(row["lo"]), int(row["hi"]), int(row["n"]), 1000)
    grid = spark.createDataFrame(
        [(i, lo, hi) for i, (lo, hi) in enumerate(plan.slices)], _SLICE_SCHEMA
    )
    pts = df.select(F.col("updated_ms"))
    return (
        range_join(pts, grid, "updated_ms")
        .groupBy("slice_id", "slice_lo", "slice_hi")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "c6_scd2_history",
    bench=26,
    survey="S3 ext,W1",
    doc="SCD Type-2 history build — the warehouse-side complement of "
    "the LWW upsert: collapse each user's event-type run-lengths into "
    "validity intervals (valid_from_ms, valid_to_ms, NULL = current) "
    "with gaps-and-islands (lag-change flag → running sum → per-run "
    "aggregate → lead for the closing edge). All four steps share ONE "
    "shuffle on user_id — Catalyst reuses the window exchange, and the "
    "run aggregate is map-side combined within it; at 100 TB this is "
    "the standard one-pass CDC-to-dimension compaction.",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT *, sum(chg) OVER (
        PARTITION BY user_id ORDER BY ms, event_id
        ROWS UNBOUNDED PRECEDING) AS run
      FROM ch
    ),
    scd AS (
      SELECT user_id, event_type, run,
             CAST(min(ms) AS BIGINT) AS valid_from_ms,
             count(*) AS n_events
      FROM runs GROUP BY user_id, event_type, run
    )
    SELECT user_id, event_type, valid_from_ms,
           lead(valid_from_ms) OVER (
             PARTITION BY user_id ORDER BY valid_from_ms) AS valid_to_ms,
           n_events
    FROM scd
    """,
)
def c6_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    df = _events_ms(spark, sf_dir).select(
        "user_id", "event_type", "event_id", F.col("updated_ms").alias("ms")
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    prev = F.lag("event_type").over(w)
    runs = df.withColumn(
        "chg",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0),
    ).withColumn("run", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    scd = runs.groupBy("user_id", "event_type", "run").agg(
        F.min("ms").alias("valid_from_ms"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_ms")
    return scd.select(
        "user_id",
        "event_type",
        "valid_from_ms",
        F.lead("valid_from_ms").over(w2).alias("valid_to_ms"),
        "n_events",
    )


@register(
    "s1_pysource_range_scan",
    bench=33,
    survey="S1,S2",
    doc="The reference's range-partitioned chunked source EXECUTED: a "
    "PySpark Python DataSource (sources/pysource.py) plans one input "
    "partition per closed slice of event_id (plans.intervals — the "
    "reference's chunker semantics), each task runs its own SQL "
    "cursor against the stand-in engine (DuckDB) and streams Arrow "
    "batches of fetch_size rows; the value > 50 predicate is pushed "
    "through pushFilters() into every slice's WHERE clause. The "
    "first driver-checkable evidence for S1/S2, which JDBC-to-"
    "Postgres could not provide in this sandbox.",
    oracle="""
    SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ms
    FROM events WHERE value > 50
    """,
)
def s1_pysource_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.sources.pysource import read_sql_table

    df = read_sql_table(
        spark,
        table_path(sf_dir, "events"),
        partition_column="event_id",
        num_partitions=8,
        fetch_size=2048,
    )
    return df.filter(F.col("value") > 50).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        to_millis("ts").alias("ms"),
    )


@register(
    "s4c_pysink_batched_write",
    bench=35,
    survey="S3,S4",
    doc="Batched destination writes through the Python DataSource V2 "
    "write protocol (sources/pysource.py SqlUpsertArrowWriter, the "
    "pypgsync_upsert sink): every task streams its partition's Arrow "
    "batches through one staged cursor, the driver's commit() runs one "
    "INSERT .. ON CONFLICT (event_id) DO UPDATE over all staged files "
    "inside the destination engine (DuckDB), abort() leaves nothing "
    "(pytest-asserted) — the reference's only write path, per-worker "
    "batched upserts, made transactional. The query writes the events "
    "table through the sink into a fresh database file, reads it back "
    "through the range-partitioned SQL source, and aggregates; the "
    "oracle states the expected aggregate of what must have arrived "
    "exactly-once.",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY event_type
    """,
)
def s4c_pysink_batched_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pypgsync_spark.sources.pysource import read_sql_table, register_upsert_sink

    register_upsert_sink(spark)
    # pid-scoped (r10 review — see s3c); a fresh database file per call
    scratch = _pid_scratch_dir("pypgsync_pysink", sf_dir)
    os.makedirs(scratch, exist_ok=True)
    db = os.path.join(scratch, "events.duckdb")
    for old in (db, db + ".wal"):
        if os.path.exists(old):
            os.remove(old)
    src = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    (
        src.write.format("pypgsync_upsert")
        .option("db_path", db)
        .option("table", "events")
        .option("keys", "event_id")
        .mode("append")
        .save()
    )
    back = read_sql_table(spark, "events", "event_id", db_path=db)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@register(
    "s7b_zorder_roundtrip",
    bench=36,
    survey="S7,ext:layout",
    doc="Z-order clustered destination round-trip: events written "
    "range-partitioned + sorted on the interleaved (user_id, "
    "updated_ms) key (sources/layout.py — parquet min/max goes tight "
    "in BOTH dimensions; skipping measured in tests/test_layout.py), "
    "then read back through a two-dimensional predicate and "
    "aggregated. The oracle states the same predicate over the "
    "original table, so the driver hash-checks that the re-layout "
    "preserved content exactly.",
    oracle="""
    SELECT user_id, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    WHERE user_id <= 5 AND epoch_ms(ts) < 1705708800000
    GROUP BY user_id
    """,
)
def s7b_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from pypgsync_spark.sources.layout import write_zordered

    df = _events_ms(spark, sf_dir).select("event_id", "user_id", "updated_ms", "value")
    row = df.agg(
        F.min("updated_ms").alias("lo"),
        F.max("updated_ms").alias("hi"),
        F.max("user_id").alias("nu"),
    ).first()
    # pid-scoped (r10 review — see s3c)
    dest = _pid_scratch_dir("pypgsync_zorder", sf_dir)
    write_zordered(
        df,
        dest,
        cols=[
            ("user_id", 0.0, float(row["nu"])),
            ("updated_ms", float(row["lo"]), float(row["hi"])),
        ],
        n_files=16,
    )
    back = spark.read.parquet(dest)
    return (
        back.filter((F.col("user_id") <= 5) & (F.col("updated_ms") < MS_JAN20))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


_S5_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
)


@register(
    "s5_ddl_clone",
    bench=37,
    survey="S5",
    doc="DDL clone of the source schema (ddl.py, reference "
    "session.py:194-197): reflect every fixture table's Spark schema "
    "and emit the (table, ordinal, column, pg_type) manifest the "
    "CREATE TABLE clone renders. The oracle derives the SAME manifest "
    "from DuckDB's independent reflection of the same parquet "
    "(information_schema.columns), so the driver hash-checks the "
    "engine's schema reflection and its Spark→Postgres type mapping "
    "against a second engine's read of identical storage. Events is "
    "excluded: its physical timestamp type is fixture-generation-"
    "dependent (TIMESTAMP(NANOS) generations surface as bigint via "
    "catalog.ensure_events_ts), so the two engines legitimately "
    "disagree there.",
    oracle="""
    SELECT table_name,
           CAST(ordinal_position AS INT) AS ordinal,
           column_name,
           CASE data_type
             WHEN 'TINYINT'   THEN 'smallint'
             WHEN 'SMALLINT'  THEN 'smallint'
             WHEN 'INTEGER'   THEN 'integer'
             WHEN 'BIGINT'    THEN 'bigint'
             WHEN 'FLOAT'     THEN 'real'
             WHEN 'DOUBLE'    THEN 'double precision'
             WHEN 'VARCHAR'   THEN 'text'
             WHEN 'BOOLEAN'   THEN 'boolean'
             WHEN 'BLOB'      THEN 'bytea'
             WHEN 'DATE'      THEN 'date'
             WHEN 'TIMESTAMP' THEN 'timestamp'
             WHEN 'FLOAT[]'   THEN 'real[]'
             WHEN 'DOUBLE[]'  THEN 'double precision[]'
             WHEN 'BIGINT[]'  THEN 'bigint[]'
             ELSE lower(data_type)
           END AS pg_type
    FROM information_schema.columns
    WHERE table_name IN ('region','nation','customer','supplier','part',
                         'orders','lineitem','documents','embeddings')
    ORDER BY table_name, ordinal
    """,
)
def s5_ddl_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.ddl import schema_manifest

    tables = {n: load_table(spark, sf_dir, n) for n in _S5_TABLES}
    return schema_manifest(spark, tables).orderBy("table_name", "ordinal")


@register(
    "s6_catalog_checks",
    bench=38,
    survey="S6",
    doc="Catalog existence checks (ddl.py:check_tables, reference "
    "session.py:170-192): probe the session catalog for every fixture "
    "table plus a deliberately-missing name and return "
    "(table_name, table_exists). The oracle runs the same probe "
    "against DuckDB's information_schema.tables via a VALUES "
    "anti-join, so the driver verifies the engine's catalog resolution "
    "— including the negative case the reference raises on — not just "
    "a hardcoded list.",
    oracle="""
    SELECT v.name AS table_name,
           t.table_name IS NOT NULL AS table_exists
    FROM (VALUES ('region'),('nation'),('customer'),('supplier'),
                 ('part'),('orders'),('lineitem'),('events'),
                 ('documents'),('embeddings'),('no_such_table')) v(name)
    LEFT JOIN information_schema.tables t ON t.table_name = v.name
    ORDER BY table_name
    """,
)
def s6_catalog_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.catalog import TABLES, register_views
    from pypgsync_spark.ddl import check_tables

    register_views(spark, sf_dir)
    probes = [*TABLES, "no_such_table"]
    return check_tables(spark, probes).orderBy("table_name")


@register(
    "check1_referential_integrity",
    bench=45,
    survey="S6,§2.3,A3",
    doc="Referential-integrity audit — the data-quality gate a sync "
    "engine runs before trusting a destination: FK orphan counts "
    "(orders→customer, lineitem→orders) and PK duplicate count, "
    "against a deliberately perturbed snapshot (customers with "
    "c_custkey % 97 == 0 'not yet synced', orders with "
    "o_orderkey % 101 == 0 missing, customers % 89 == 0 doubled) so "
    "every check is non-zero and a broken anti-join cannot pass "
    "vacuously. Each check is one aggregate over an anti join on the "
    "pruned KEY column — no broadcast hint: a key projection often "
    "fits the broadcast threshold and AQE will pick that, but forcing "
    "it would break the moment the referenced table is fact-scale; "
    "the fallback is a plain key-shuffle anti join.",
    oracle="""
    SELECT 'customer_pk_dups' AS check_name,
           CAST(count(*) AS BIGINT) AS n_bad FROM (
      SELECT c_custkey FROM (
        SELECT c_custkey FROM customer
        UNION ALL
        SELECT c_custkey FROM customer WHERE c_custkey % 89 = 0
      ) GROUP BY c_custkey HAVING count(*) > 1
    )
    UNION ALL
    SELECT 'lineitem_orders_orphans', CAST(count(*) AS BIGINT) FROM lineitem l
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderkey % 101 <> 0 AND o.o_orderkey = l.l_orderkey
    )
    UNION ALL
    SELECT 'orders_customer_orphans', CAST(count(*) AS BIGINT) FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey % 97 <> 0 AND c.c_custkey = o.o_custkey
    )
    """,
)
def check1_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    cust_synced = customer.filter(F.col("c_custkey") % 97 != 0)
    orders_synced = orders.filter(F.col("o_orderkey") % 101 != 0)
    cust_doubled = customer.select("c_custkey").unionByName(
        customer.filter(F.col("c_custkey") % 89 == 0).select("c_custkey")
    )

    pk_dups = (
        cust_doubled.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_bad"))
        .select(F.lit("customer_pk_dups").alias("check_name"), "n_bad")
    )
    li_orphans = (
        lineitem.join(
            orders_synced.select("o_orderkey"),
            lineitem["l_orderkey"] == orders_synced["o_orderkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_bad"))
        .select(F.lit("lineitem_orders_orphans").alias("check_name"), "n_bad")
    )
    ord_orphans = (
        orders.join(
            cust_synced.select("c_custkey"),
            orders["o_custkey"] == cust_synced["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_bad"))
        .select(F.lit("orders_customer_orphans").alias("check_name"), "n_bad")
    )
    return pk_dups.unionByName(li_orphans).unionByName(ord_orphans)


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@register(
    "profile1_column_stats",
    bench=46,
    survey="S5,A7,A3",
    doc="Table profiler — per-column null and exact distinct counts "
    "over orders in ONE scan (the pre-sync data-profiling step that "
    "feeds slice planning and schema checks). Spark computes all six "
    "distinct aggregates in a single pass via the Expand-based "
    "multi-distinct rewrite (same machinery as a15), then unpivots "
    "with stack(); the oracle spells the per-column UNION ALL.",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"CAST(count(*) AS BIGINT) AS n_rows FROM orders"
        for c in _PROFILE_COLS
    ),
)
def profile1_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count(F.lit(1)).alias("__nr"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{c}")
            for c in _PROFILE_COLS
        ],
        *[F.countDistinct(c).alias(f"__d_{c}") for c in _PROFILE_COLS],
    )
    stack = ", ".join(
        f"'{c}', __n_{c}, __d_{c}" for c in _PROFILE_COLS
    )
    return agg.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) "
            "AS (column_name, n_nulls, n_distinct)"
        ),
        F.col("__nr").alias("n_rows"),
    )


_C7_FRACS = "0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875"


@register(
    "c7_quantile_slices",
    bench=47,
    survey="C2,C1,A6,X2",
    doc="Equal-ROWS slice planning, the boundaries computed in-plan: "
    "boundaries at the eighth percentiles of updated_ms instead of a "
    "uniform value grid — the scale-correct slicing for skewed "
    "version columns (a bursty day makes one fat uniform slice; "
    "quantile slices stay ~rows/8 each). Eighth fractions are exact "
    "binary, and interpolation over integer millis stays exactly "
    "representable in doubles, so Spark's percentile and DuckDB's "
    "quantile_cont agree bit-for-bit; at 100 TB swap in "
    "approx_percentile (boundary precision only skews slice sizes). "
    "Returns each slice's closed bounds and its actual row count.",
    oracle=f"""
    WITH e AS (SELECT epoch_ms(ts) AS updated_ms FROM events),
    b AS (
      SELECT list_transform(quantile_cont(updated_ms, [{_C7_FRACS}]),
                            x -> CAST(floor(x) AS BIGINT)) AS bs,
             min(updated_ms) AS mn, max(updated_ms) AS mx
      FROM e
    ),
    assigned AS (
      SELECT CAST(len(list_filter(b.bs, x -> e.updated_ms > x)) + 1 AS INT)
               AS slice_id
      FROM e, b
    )
    SELECT a.slice_id,
           CAST(CASE WHEN a.slice_id = 1 THEN b.mn
                     ELSE b.bs[a.slice_id - 1] + 1 END AS BIGINT) AS slice_lo,
           CAST(CASE WHEN a.slice_id = 8 THEN b.mx
                     ELSE b.bs[a.slice_id] END AS BIGINT) AS slice_hi,
           count(*) AS n_rows
    FROM assigned a, b
    GROUP BY 1, 2, 3
    """,
)
def c7_quantile_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_ms(spark, sf_dir).select("updated_ms")
    # boundaries ride along as scalar subqueries (Catalyst runs each as
    # its own metadata-scale stage and folds the result in — no cross
    # join node, no driver barrier at plan-construction time; same
    # pattern as tx1's corpus count)
    ev.createOrReplaceTempView("pypgsync_c7_events")
    b = (
        "(SELECT transform(percentile(updated_ms, "
        f"array({_C7_FRACS})), x -> CAST(floor(x) AS BIGINT)) "
        "FROM pypgsync_c7_events)"
    )
    mn = "(SELECT min(updated_ms) FROM pypgsync_c7_events)"
    mx = "(SELECT max(updated_ms) FROM pypgsync_c7_events)"
    # subquery expressions may not sit inside a higher-order lambda, so
    # the boundary array lands in a column first (one subquery stage,
    # its result folded into every row as a literal array)
    assigned = ev.select("updated_ms", F.expr(b).alias("__bs")).select(
        F.expr(
            "CAST(size(filter(__bs, x -> updated_ms > x)) + 1 AS INT)"
        ).alias("slice_id")
    )
    return (
        assigned.groupBy("slice_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select("slice_id", F.expr(b).alias("__bs"), "n_rows")
        .select(
            "slice_id",
            F.expr(
                f"CAST(CASE WHEN slice_id = 1 THEN {mn} "
                "ELSE element_at(__bs, slice_id - 1) + 1 END AS BIGINT)"
            ).alias("slice_lo"),
            F.expr(
                f"CAST(CASE WHEN slice_id = 8 THEN {mx} "
                "ELSE element_at(__bs, slice_id) END AS BIGINT)"
            ).alias("slice_hi"),
            "n_rows",
        )
    )


@register(
    "s8_schema_evolution",
    bench=48,
    survey="S5,S7,S4",
    doc="Schema evolution across sync generations: generation 1 files "
    "carry (event_id, user_id, updated_ms), generation 2 adds the "
    "value column — exactly what a mid-sync source ALTER TABLE ADD "
    "COLUMN produces. The unified read uses mergeSchema; generation-1 "
    "rows surface NULL values (never defaults, never errors), and the "
    "DDL clone of the merged schema would carry the new column. "
    "Returns per-generation counts and the value sum (NULL for the "
    "legacy generation — the oracle states the whole contract in "
    "closed form).",
    oracle="""
    SELECT (event_id % 2 = 0) AS legacy_gen,
           count(*) AS n_rows,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN NULL
                         ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
             AS value_total
    FROM events GROUP BY 1
    """,
)
def s8_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    df = _events_ms(spark, sf_dir)
    # pid-scoped (r10 review — see s3c)
    base = _pid_scratch_dir("pypgsync_evolve", sf_dir)
    g1, g2 = f"{base}/gen1", f"{base}/gen2"
    df.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "updated_ms"
    ).write.mode("overwrite").parquet(g1)
    df.filter(F.col("event_id") % 2 != 0).select(
        "event_id", "user_id", "updated_ms", "value"
    ).write.mode("overwrite").parquet(g2)
    back = spark.read.option("mergeSchema", "true").parquet(g1, g2)
    return (
        back.groupBy((F.col("event_id") % 2 == 0).alias("legacy_gen"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_total"),
        )
    )


@register(
    "sync1_bucket_checksums",
    bench=51,
    survey="S3,C3,A4,§2.3",
    doc="Anti-entropy validation (operators/merge.bucket_checksums): "
    "Merkle-style per-bucket digests of (event_id, updated_ms) on the "
    "source and a destination that silently diverged (every "
    "event_id % 997 == 0 row carries a stale version, every "
    "event_id % 1009 == 0 row is missing) — the digest join flags "
    "exactly the buckets a repair scan must re-read. Both digest "
    "passes are map-side-combined aggregates whose shuffle carries "
    "num_buckets rows, never data: how a 100 TB destination gets "
    "validated without a row-by-row re-read.",
    oracle="""
    WITH src AS (
      SELECT event_id, epoch_ms(ts) AS updated_ms FROM events
    ),
    dst AS (
      SELECT event_id,
             CASE WHEN event_id % 997 = 0 THEN updated_ms - 1000
                  ELSE updated_ms END AS updated_ms
      FROM src WHERE event_id % 1009 <> 0
    ),
    sd AS (
      SELECT event_id % 64 AS bucket, count(*) AS n,
             SUM(CAST(concat('0x',
                   substr(md5(concat(CAST(event_id AS VARCHAR), ':',
                                     CAST(updated_ms AS VARCHAR))), 1, 12))
                 AS BIGINT)) AS checksum
      FROM src GROUP BY 1
    ),
    dd AS (
      SELECT event_id % 64 AS bucket, count(*) AS n,
             SUM(CAST(concat('0x',
                   substr(md5(concat(CAST(event_id AS VARCHAR), ':',
                                     CAST(updated_ms AS VARCHAR))), 1, 12))
                 AS BIGINT)) AS checksum
      FROM dst GROUP BY 1
    )
    SELECT CAST(COALESCE(sd.bucket, dd.bucket) AS BIGINT) AS bucket,
           CAST(COALESCE(sd.n, 0) AS BIGINT) AS src_n,
           CAST(COALESCE(dd.n, 0) AS BIGINT) AS dst_n,
           (COALESCE(sd.n, 0) = COALESCE(dd.n, 0)
            AND COALESCE(sd.checksum, 0) = COALESCE(dd.checksum, 0))
             AS in_sync
    FROM sd FULL OUTER JOIN dd ON sd.bucket = dd.bucket
    """,
)
def sync1_bucket_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.merge import diff_buckets

    src = _events_ms(spark, sf_dir).select("event_id", "updated_ms")
    dst = src.filter(F.col("event_id") % 1009 != 0).withColumn(
        "updated_ms",
        F.when(
            F.col("event_id") % 997 == 0, F.col("updated_ms") - 1000
        ).otherwise(F.col("updated_ms")),
    )
    return diff_buckets(src, dst, "event_id", "updated_ms", num_buckets=64)


@register(
    "sync2_targeted_repair",
    bench=52,
    survey="S3,C2,§2.3",
    doc="The repair half of anti-entropy: join the digest verdicts "
    "(sync1's divergence scenario) back to the SOURCE and count the "
    "rows each out-of-sync bucket must re-ship — the re-sync scan "
    "touches ~19/64 of the table instead of all of it, and the "
    "flagged-bucket list is metadata-scale, so it broadcasts into a "
    "semi-join against the source scan. Returns one row per divergent "
    "bucket with its repair volume.",
    oracle="""
    WITH src AS (
      SELECT event_id, epoch_ms(ts) AS updated_ms FROM events
    ),
    dst AS (
      SELECT event_id,
             CASE WHEN event_id % 997 = 0 THEN updated_ms - 1000
                  ELSE updated_ms END AS updated_ms
      FROM src WHERE event_id % 1009 <> 0
    ),
    sd AS (
      SELECT event_id % 64 AS bucket, count(*) AS n,
             SUM(CAST(concat('0x',
                   substr(md5(concat(CAST(event_id AS VARCHAR), ':',
                                     CAST(updated_ms AS VARCHAR))), 1, 12))
                 AS BIGINT)) AS checksum
      FROM src GROUP BY 1
    ),
    dd AS (
      SELECT event_id % 64 AS bucket, count(*) AS n,
             SUM(CAST(concat('0x',
                   substr(md5(concat(CAST(event_id AS VARCHAR), ':',
                                     CAST(updated_ms AS VARCHAR))), 1, 12))
                 AS BIGINT)) AS checksum
      FROM dst GROUP BY 1
    ),
    flagged AS (
      SELECT COALESCE(sd.bucket, dd.bucket) AS bucket
      FROM sd FULL OUTER JOIN dd ON sd.bucket = dd.bucket
      WHERE NOT (COALESCE(sd.n, 0) = COALESCE(dd.n, 0)
                 AND COALESCE(sd.checksum, 0) = COALESCE(dd.checksum, 0))
    )
    SELECT CAST(f.bucket AS BIGINT) AS bucket,
           count(*) AS rows_to_copy
    FROM flagged f JOIN src s ON s.event_id % 64 = f.bucket
    GROUP BY 1
    """,
)
def sync2_targeted_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.merge import diff_buckets

    src = _events_ms(spark, sf_dir).select("event_id", "updated_ms")
    dst = src.filter(F.col("event_id") % 1009 != 0).withColumn(
        "updated_ms",
        F.when(
            F.col("event_id") % 997 == 0, F.col("updated_ms") - 1000
        ).otherwise(F.col("updated_ms")),
    )
    flagged = (
        diff_buckets(src, dst, "event_id", "updated_ms", num_buckets=64)
        .filter(~F.col("in_sync"))
        .select("bucket")
    )
    return (
        src.withColumn("bucket", F.col("event_id") % 64)
        .join(F.broadcast(flagged), on="bucket", how="left_semi")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("rows_to_copy"))
    )


_P2_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "profile2_numeric_stats",
    bench=53,
    survey="A4,A12,S5",
    doc="Numeric column profiler over lineitem: n/mean/population-"
    "stddev/min/max for every numeric column in ONE pass. Mean and "
    "variance derive from DECIMAL-exact sums (value and value² both "
    "summed as decimals, cast to double only for the final identical "
    "IEEE expression on both engines, rounded to 6) — the "
    "float-determinism discipline that keeps a distributed profiler "
    "hash-comparable with a single-node engine.",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, count(*) AS n, "
        f"round(CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS mean, "
        f"round(sqrt((CAST(SUM(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / count(*)) "
        f"- (CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / count(*)) "
        f"* (CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) / count(*))), 6) AS std_pop, "
        f"min({c}) AS vmin, max({c}) AS vmax FROM lineitem"
        for c in _P2_COLS
    ),
)
def profile2_numeric_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in _P2_COLS:
        dec = F.col(c).cast("decimal(18,2)")
        aggs += [
            F.sum(dec).alias(f"__s_{c}"),
            F.sum(dec * dec).alias(f"__q_{c}"),
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
        ]
    agg = li.agg(*aggs)
    for c in _P2_COLS:
        mean = F.col(f"__s_{c}").cast("double") / F.col("__n")
        var = F.col(f"__q_{c}").cast("double") / F.col("__n") - mean * mean
        agg = agg.withColumn(f"__mean_{c}", F.round(mean, 6)).withColumn(
            f"__std_{c}", F.round(F.sqrt(var), 6)
        )
    stack = ", ".join(
        f"'{c}', __mean_{c}, __std_{c}, __mn_{c}, __mx_{c}" for c in _P2_COLS
    )
    return agg.select(
        F.expr(
            f"stack({len(_P2_COLS)}, {stack}) "
            "AS (column_name, mean, std_pop, vmin, vmax)"
        ),
        F.col("__n").alias("n"),
    )


@register(
    "c8_sync_lag",
    bench=66,
    survey="C3,A1,A3",
    doc="Sync-freshness monitor: source high watermark, destination "
    "watermark (simulated lagging copy: rows before Jan 10), lag in "
    "millis, and rows-behind — the operational dashboard row every "
    "deployment of the reference's watermark protocol needs. ONE "
    "map-side-combined conditional aggregate over the source: "
    "rows_behind = count(ms >= cutoff) is EXACTLY count(ms > dst_max) "
    "because dst_max is by definition the largest value below the "
    "cutoff - no second pass, no scalar-subquery dependency chain.",
    oracle="""
    WITH src AS (SELECT epoch_ms(ts) AS ms FROM events)
    SELECT max(ms) AS src_max_ms,
           max(CASE WHEN ms < 1704844800000 THEN ms END) AS dst_max_ms,
           max(ms) - max(CASE WHEN ms < 1704844800000 THEN ms END) AS lag_ms,
           count(CASE WHEN ms >= 1704844800000 THEN 1 END) AS rows_behind
    FROM src
    """,
)
def c8_sync_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = 1704844800000  # Jan 10 UTC - the simulated destination's copy horizon
    src = _events_ms(spark, sf_dir).select("updated_ms")
    dst_max = F.max(
        F.when(F.col("updated_ms") < cutoff, F.col("updated_ms"))
    )
    return src.agg(
        F.max("updated_ms").alias("src_max_ms"),
        dst_max.alias("dst_max_ms"),
        (F.max("updated_ms") - dst_max).alias("lag_ms"),
        F.count(F.when(F.col("updated_ms") >= cutoff, 1)).alias("rows_behind"),
    )


@register(
    "c9_id_gap_census",
    bench=67,
    survey="C3,A3,§2.3",
    doc="Sync-completeness validator: census of the gaps in a "
    "destination's primary-key sequence (the fixture's divergence "
    "scenario drops every 1009th id) — total missing ids, number of "
    "contiguous gap runs, first/last run start. Pure equi-join "
    "algebra, no global window: anti-join a generated id range "
    "against the table for the missing set, flag run starts by "
    "left-joining the missing set against itself shifted by one, one "
    "aggregate. Both joins shuffle on the id — linear, partitionable, "
    "no single-task sort anywhere. The [lo, hi] bounds are "
    "driver-side plan metadata (two numbers, the planner pattern of "
    "c1/c2).",
    oracle="""
    WITH p AS (SELECT event_id FROM events WHERE event_id % 1009 <> 0),
    b AS (SELECT min(event_id) lo, max(event_id) hi FROM p),
    seq AS (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS id),
    miss AS (SELECT id FROM seq WHERE NOT EXISTS (SELECT 1 FROM p WHERE event_id = id)),
    flagged AS (
      SELECT id,
             NOT EXISTS (SELECT 1 FROM miss m2 WHERE m2.id = miss.id - 1) AS is_start
      FROM miss
    )
    SELECT count(*) AS n_missing,
           count(CASE WHEN is_start THEN 1 END) AS n_gaps,
           min(CASE WHEN is_start THEN id END) AS first_gap_start,
           max(CASE WHEN is_start THEN id END) AS last_gap_start
    FROM flagged
    """,
)
def c9_id_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    dst = (
        _events_ms(spark, sf_dir)
        .select("event_id")
        .filter(F.col("event_id") % 1009 != 0)
    )
    lo, hi = dst.agg(F.min("event_id"), F.max("event_id")).first()
    seq = spark.range(int(lo), int(hi) + 1).select("id")
    miss = seq.join(dst, seq.id == dst.event_id, "left_anti")
    shifted = miss.select((F.col("id") + 1).alias("id"), F.lit(1).alias("__prev"))
    flagged = miss.join(shifted, on="id", how="left")
    start = F.col("__prev").isNull()
    return flagged.agg(
        F.count(F.lit(1)).alias("n_missing"),
        F.count(F.when(start, 1)).alias("n_gaps"),
        F.min(F.when(start, F.col("id"))).alias("first_gap_start"),
        F.max(F.when(start, F.col("id"))).alias("last_gap_start"),
    )


@register(
    "s9_partition_pruned_read",
    bench=95,
    survey="S4,S7,P1",
    doc="Partition pruning end-to-end: events land date-partitioned "
    "(s4b's layout, own scratch path), then ONE day is read back "
    "through a partition-column predicate — the predicate resolves "
    "against the directory listing (PartitionFilters in the scan "
    "node, asserted in tests/test_partitioned.py), so the scan "
    "touches 1/30th of the files before a single row is read. At "
    "100 TB this is the difference between a 3 TB day-scan and a "
    "full-corpus scan; the rollup itself is a 4-row map-side "
    "combine.",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    GROUP BY event_type
    """,
)
def s9_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from pypgsync_spark.sources.partitioned import (
        DATE_COL,
        read_date_partitioned,
        with_event_date,
        write_date_partitioned,
    )

    df = with_event_date(_events_ms(spark, sf_dir).drop("ts_nanos"))
    # pid-scoped (r10 review — see s3c)
    path = os.path.join(_pid_scratch_dir("pypgsync_pruned", sf_dir), "t")
    write_date_partitioned(df, path)
    back = read_date_partitioned(spark, path).filter(
        F.col(DATE_COL) == "2024-01-15"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "s10_xml_roundtrip",
    bench=115,
    survey="S7",
    doc="XML destination round-trip (Spark 4's built-in XML source, "
    "the former spark-xml): customer written as <rows><row>…</row> "
    "with account balances carried as DECIMAL(12,2) — exact through "
    "the text format, the same discipline the engine's float "
    "aggregates use — then read back SCHEMA-EXPLICIT (inference would "
    "scan the input twice; sources/files.py refuses it at scale) and "
    "aggregated per market segment. The oracle states the aggregate "
    "over the original table, so a green row proves the re-encode "
    "preserved content exactly.",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             AS bal_total
    FROM customer GROUP BY c_mktsegment
    """,
)
def s10_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.sources.files import read_table, write_table

    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal"),
    )
    # per-process discriminator: two processes on the same fixture
    # (a sweep plus an ad-hoc run) must not race on one XML directory;
    # dead-pid siblings reaped so /tmp stays bounded across runs
    dest = _pid_scratch_dir("pypgsync_xml", sf_dir)
    write_table(src, dest, fmt="xml")
    back = read_table(
        spark,
        dest,
        fmt="xml",
        schema="c_custkey long, c_mktsegment string, c_acctbal decimal(12,2)",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.sum("c_acctbal").cast("double").alias("bal_total"),
    )


@register(
    "s11_compaction_roundtrip",
    bench=117,
    survey="S4,ext:layout",
    doc="Small-file compaction (lakehouse OPTIMIZE) + vacuum on the "
    "sync store: events written through the alternating-directory "
    "parquet store (32 shuffle-partition files), compacted to "
    "target-size files via a map-only coalesce rewrite committed "
    "through the same atomic _CURRENT pointer flip as every sync "
    "write, superseded generation vacuumed, then read back and "
    "aggregated. The oracle states the aggregate over the original "
    "events, so a green row proves the rewrite byte-preserved the "
    "table. The file-count and vacuum mechanics are pytest-asserted "
    "(tests/test_sync.py); at 100 TB compaction is what keeps scan "
    "cost at row-group-pruning cost instead of file-open cost after "
    "thousands of incremental syncs.",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(max(epoch_ms(ts)) AS BIGINT) AS max_ms
    FROM events GROUP BY event_type
    """,
)
def s11_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.sync import (
        ParquetSyncedTable,
        compact_store,
        vacuum_store,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", to_millis("ts").alias("updated_ms")
    )
    # per-process discriminator: concurrent runs on the same fixture
    # must not share one ParquetSyncedTable (torn reads / corrupt
    # rows); dead-pid siblings reaped so /tmp stays bounded
    store = ParquetSyncedTable(spark, _pid_scratch_dir("pypgsync_compact", sf_dir))
    # repartition(32) models the post-merge shuffle layout that makes
    # every synced generation a pile of small files
    store.write(ev.repartition(32))
    compact_store(store, target_file_bytes=256 << 20)
    vacuum_store(store)
    back = store.read()
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.max("updated_ms").cast("long").alias("max_ms"),
    )
