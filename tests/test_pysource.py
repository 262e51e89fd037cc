"""Python DataSource SQL slice source (sources/pysource.py, S1/S2)."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    StringContains,
)

from pypgsync_spark.catalog import table_path
from pypgsync_spark.sources.pysource import (
    SqlSliceReader,
    read_sql_table,
)


def _reader(sf_small, **opts):
    options = {
        "table_path": table_path(sf_small, "events"),
        "partition_column": "event_id",
        **{k: str(v) for k, v in opts.items()},
    }
    return SqlSliceReader(schema=None, options=options)


def test_partitions_follow_num_partitions(sf_small):
    r = _reader(sf_small, num_partitions=8)
    parts = r.partitions()
    assert len(parts) == 8
    # each partition carries its own closed-range SQL cursor
    assert all('"event_id" >=' in p.sql and '"event_id" <=' in p.sql for p in parts)


def test_partition_slices_tile_the_id_range(sf_small):
    """Every row lands in exactly one slice: reading all partition SQLs
    re-assembles the table exactly (S1 completeness)."""
    import duckdb

    r = _reader(sf_small, num_partitions=4)
    con = duckdb.connect()
    total = sum(
        con.execute(f"SELECT count(*) FROM ({p.sql})").fetchone()[0]
        for p in r.partitions()
    )
    expected = con.execute(
        f"SELECT count(*) FROM read_parquet('{table_path(sf_small, 'events')}')"
    ).fetchone()[0]
    assert total == expected


def test_push_filters_compile_and_unsupported_return(sf_small):
    r = _reader(sf_small, num_partitions=2)
    unsupported = list(
        r.pushFilters(
            [
                GreaterThan(("value",), 50),
                EqualTo(("event_type",), "click"),
                StringContains(("props",), "k"),  # not compiled → returned
            ]
        )
    )
    assert len(unsupported) == 1 and isinstance(unsupported[0], StringContains)
    assert '"value" > 50' in r.pushed_sql
    assert "\"event_type\" = 'click'" in r.pushed_sql
    # pushed predicates land in EVERY slice's cursor SQL
    assert all('"value" > 50' in p.sql for p in r.partitions())


def test_push_filters_replace_not_append(sf_small):
    """Spark re-plans into the same reader instance; state must not
    stack across plans."""
    r = _reader(sf_small)
    list(r.pushFilters([GreaterThan(("value",), 50)]))
    list(r.pushFilters([EqualTo(("event_type",), "error")]))
    assert r.pushed_sql == ["\"event_type\" = 'error'"]


def test_string_literal_escaping(sf_small):
    r = _reader(sf_small)
    list(r.pushFilters([EqualTo(("event_type",), "o'brien")]))
    assert r.pushed_sql == ["\"event_type\" = 'o''brien'"]


def test_read_streams_fetch_size_batches(sf_small):
    """S2: the per-slice cursor yields Arrow batches of <= fetch_size
    rows — chunked fetch, not a single materialized result."""
    r = _reader(sf_small, num_partitions=1, fetch_size=100)
    [part] = r.partitions()
    batches = list(r.read(part))
    assert len(batches) > 1
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert all(b.num_rows <= 100 for b in batches)


def test_end_to_end_matches_parquet_scan(spark, sf_small):
    via_source = read_sql_table(
        spark, table_path(sf_small, "events"), "event_id", num_partitions=4
    )
    via_parquet = spark.read.parquet(table_path(sf_small, "events"))
    assert via_source.count() == via_parquet.count()
    a = {r["event_id"] for r in via_source.select("event_id").collect()}
    b = {r["event_id"] for r in via_parquet.select("event_id").collect()}
    assert a == b
    # the scheduled scan really is one task per slice
    assert via_source.rdd.getNumPartitions() == 4


def test_pushdown_reaches_source_and_result_is_correct(spark, sf_small):
    df = read_sql_table(
        spark, table_path(sf_small, "events"), "event_id", num_partitions=4
    )
    got = df.filter(F.col("value") > 50).count()
    import duckdb

    want = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{table_path(sf_small, 'events')}') "
        "WHERE value > 50"
    ).fetchone()[0]
    assert got == want


def test_fresh_load_isolates_pushdown_state(spark, sf_small):
    """The documented footgun: pushdown mutates the reader held by a
    load relation, so a raw count on a FRESH load must see the whole
    table even right after a filtered query ran elsewhere."""
    df1 = read_sql_table(spark, table_path(sf_small, "events"), "event_id")
    filtered = df1.filter(F.col("event_type") == "error").count()
    df2 = read_sql_table(spark, table_path(sf_small, "events"), "event_id")
    assert df2.count() > filtered


# ---------------- streaming CDC source ----------------


def test_cdc_reader_offset_cycle(tmp_path):
    """Two polls: the second micro-batch reads ONLY the delta."""
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pypgsync_spark.sources.pysource import SqlCdcStreamReader

    d = tmp_path / "tbl"
    d.mkdir()
    pq.write_table(
        pa.table({"event_id": list(range(50)), "v": [1.0] * 50}),
        d / "part0.parquet",
    )
    r = SqlCdcStreamReader(
        schema=None,
        options={"table_path": f"{d}/*.parquet", "partition_column": "event_id",
                 "num_partitions": "3"},
    )
    assert r.initialOffset() == {"last": -1}
    end1 = r.latestOffset()
    assert end1 == {"last": 49}
    parts = r.partitions(r.initialOffset(), end1)
    got = pd.concat(
        [b.to_pandas() for p in parts for b in r.read(p)], ignore_index=True
    )
    assert sorted(got["event_id"]) == list(range(50))

    # append-only growth → next poll sees exactly the delta
    pq.write_table(
        pa.table({"event_id": list(range(50, 80)), "v": [2.0] * 30}),
        d / "part1.parquet",
    )
    end2 = r.latestOffset()
    assert end2 == {"last": 79}
    parts2 = r.partitions(end1, end2)
    got2 = pd.concat(
        [b.to_pandas() for p in parts2 for b in r.read(p)], ignore_index=True
    )
    assert sorted(got2["event_id"]) == list(range(50, 80))


def test_cdc_reader_empty_batch(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pypgsync_spark.sources.pysource import SqlCdcStreamReader

    d = tmp_path / "tbl"
    d.mkdir()
    pq.write_table(pa.table({"event_id": [1, 2], "v": [0.1, 0.2]}), d / "p.parquet")
    r = SqlCdcStreamReader(
        schema=None,
        options={"table_path": f"{d}/*.parquet", "partition_column": "event_id"},
    )
    end = r.latestOffset()
    parts = r.partitions(end, end)  # no new rows
    assert sum(b.num_rows for p in parts for b in r.read(p)) == 0


def test_cdc_stream_end_to_end(spark, sf_small):
    import tempfile

    from pypgsync_spark.sources.pysource import read_cdc_stream

    src = read_cdc_stream(spark, table_path(sf_small, "events"), "event_id")
    ck = tempfile.mkdtemp(prefix="cdc_e2e_ck_")
    q = (
        src.groupBy().count().writeStream.outputMode("complete")
        .format("memory").queryName("cdc_e2e_mem")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("cdc_e2e_mem").collect()[0][0]
    want = spark.read.parquet(table_path(sf_small, "events")).count()
    assert got == want


# ---------------- two-phase commit of the upsert sink ----------------


def _upsert_write(df, db, **opts):
    w = (
        df.write.format("pypgsync_upsert")
        .option("db_path", db)
        .option("table", "dst")
        .option("keys", "event_id")
    )
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode("append").save()


def test_sink_writes_and_commits(spark, sf_small, tmp_path):
    """Every task's staged file lands in the destination table at
    commit, string columns included (the table is created from the
    staged schema), and commit leaves no staging directory behind."""
    import glob

    import duckdb

    from pypgsync_spark.sources.pysource import register_upsert_sink

    register_upsert_sink(spark)
    db = str(tmp_path / "sink_out.duckdb")
    src = spark.read.parquet(table_path(sf_small, "events")).select(
        "event_id", "user_id", "event_type", "value"
    )
    _upsert_write(src.repartition(4), db)
    with duckdb.connect(db) as con:
        got = sorted(con.execute("SELECT * FROM dst").fetchall())
    assert got == sorted(map(tuple, src.collect()))
    assert not glob.glob(f"{db}_staging_*"), "staging must be cleaned"


def test_sink_abort_leaves_nothing(spark, sf_small, tmp_path):
    """A write job that fails mid-job publishes nothing (the two-phase
    protocol's whole point): abort() removes the staged files and the
    destination table keeps exactly what it held before."""
    import glob

    import duckdb

    from pypgsync_spark.sources.pysource import register_upsert_sink

    register_upsert_sink(spark)
    db = str(tmp_path / "sink_abort.duckdb")
    events = spark.read.parquet(table_path(sf_small, "events")).select(
        "event_id", "event_type", "value"
    )
    _upsert_write(events.limit(10), db)
    with duckdb.connect(db) as con:
        before = sorted(con.execute("SELECT * FROM dst").fetchall())

    last = events.agg(F.max("event_id")).first()[0]

    def boom(event_id):
        if event_id == last:  # the partition's final row: mid-write
            raise RuntimeError("boom")
        return event_id

    # one partition: the task stages its rows, then fails; no straggler
    # task can stage after abort() ran
    failing = events.coalesce(1).withColumn(
        "event_id", F.udf(boom, "long")(F.col("event_id"))
    )
    with pytest.raises(Exception, match="boom"):
        _upsert_write(failing, db)
    assert not glob.glob(f"{db}_staging_*"), "abort must drop the staging"
    with duckdb.connect(db) as con:
        assert sorted(con.execute("SELECT * FROM dst").fetchall()) == before


def test_cdc_foreachbatch_sync_restart_reads_only_delta(spark, tmp_path):
    """The complete pipeline on the CDC source, across a RESTART: run 1
    syncs the initial table; new rows (including updated versions of
    existing keys) land; run 2 with the SAME checkpoint must read ONLY
    the delta and the destination must show last-writer-wins."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pypgsync_spark.streaming.continuous import stream_sync_cdc
    from pypgsync_spark.sync import ParquetSyncedTable

    tbl = tmp_path / "cdc_tbl"
    tbl.mkdir()
    pq.write_table(
        pa.table(
            {
                "row_id": list(range(10)),
                "key": [i % 5 for i in range(10)],
                "val": [float(i) for i in range(10)],
            }
        ),
        tbl / "p0.parquet",
    )
    store = ParquetSyncedTable(spark, str(tmp_path / "cdc_dst"))
    ck = str(tmp_path / "cdc_ck")
    q = stream_sync_cdc(
        spark, f"{tbl}/*.parquet", "row_id", store,
        keys=["key"], version_col="row_id", checkpoint_dir=ck,
    )
    q.awaitTermination()
    assert sum(p.numInputRows for p in q.recentProgress) == 10
    d1 = {r["key"]: r["val"] for r in store.read().collect()}
    # LWW within run 1: key k's latest row_id wins (row_id 5..9)
    assert d1 == {k: float(k + 5) for k in range(5)}

    # delta arrives: keys 0-1 updated, key 97 new
    pq.write_table(
        pa.table(
            {"row_id": [10, 11, 12], "key": [0, 1, 97], "val": [100.0, 101.0, 97.0]}
        ),
        tbl / "p1.parquet",
    )
    q2 = stream_sync_cdc(
        spark, f"{tbl}/*.parquet", "row_id", store,
        keys=["key"], version_col="row_id", checkpoint_dir=ck,
    )
    q2.awaitTermination()
    counts2 = [p.numInputRows for p in q2.recentProgress]
    assert sum(counts2) == 3, f"restart re-read more than the delta: {counts2}"
    d2 = {r["key"]: r["val"] for r in store.read().collect()}
    assert d2 == {0: 100.0, 1: 101.0, 2: 7.0, 3: 8.0, 4: 9.0, 97: 97.0}


def test_stream_sink_replayed_batch_publishes_once(tmp_path):
    """Driver-side idempotency of the streaming upsert writer:
    commit(messages, batchId) called twice for the same batch id (the
    crash-replay shape, a fresh writer per epoch attempt) leaves the
    rows in the table exactly once, with no marker bookkeeping."""
    import duckdb
    import pyarrow as pa

    from pypgsync_spark.sources.pysource import SqlUpsertStreamArrowWriter

    db = str(tmp_path / "replay_dst.duckdb")
    opts = {"db_path": db, "table": "dst", "keys": "k", "version_col": "ver"}
    batch = pa.record_batch(
        {
            "k": pa.array([1, 2, 3], type=pa.int64()),
            "ver": pa.array([5, 5, 5], type=pa.int64()),
        }
    )
    for _attempt in range(2):
        w = SqlUpsertStreamArrowWriter(opts)
        w.commit([w.write(iter([batch]))], batchId=7)
    with duckdb.connect(db) as con:
        assert con.execute("SELECT k, ver FROM dst ORDER BY k").fetchall() == [
            (1, 5), (2, 5), (3, 5)
        ]


# ---------------- SQL upsert sink (INSERT .. ON CONFLICT) ----------------


def test_upsert_sink_lww_merge(spark, tmp_path):
    """The reference's INSERT..ON CONFLICT executed: initial load,
    then a delta with a newer version, a STALE version, an
    intra-batch duplicate, and a new key."""
    import duckdb

    from pypgsync_spark.sources.pysource import register_upsert_sink

    register_upsert_sink(spark)
    db = str(tmp_path / "dest.duckdb")

    def upsert(rows):
        df = spark.createDataFrame(rows, "k long, v double, ver long")
        (
            df.write.format("pypgsync_upsert")
            .option("db_path", db)
            .option("table", "dst")
            .option("keys", "k")
            .option("version_col", "ver")
            .mode("append")
            .save()
        )

    upsert([(1, 1.0, 10), (2, 2.0, 10), (3, 3.0, 10)])
    upsert(
        [
            (1, 99.0, 20),   # newer version wins
            (2, 0.5, 5),     # STALE: must not regress row 2
            (4, 4.0, 1),     # new key
            (4, 44.0, 7),    # intra-batch dup: highest ver wins
        ]
    )
    got = dict(
        (k, (v, ver))
        for k, v, ver in duckdb.connect(db).execute(
            "SELECT k, v, ver FROM dst ORDER BY k"
        ).fetchall()
    )
    assert got == {
        1: (99.0, 20),
        2: (2.0, 10),
        3: (3.0, 10),
        4: (44.0, 7),
    }
    import glob

    assert not glob.glob(f"{db}_staging_*"), "staging must be cleaned"


def test_upsert_sink_idempotent_replay(spark, tmp_path):
    """Re-applying the same delta is a no-op (version guard)."""
    import duckdb

    from pypgsync_spark.sources.pysource import register_upsert_sink

    register_upsert_sink(spark)
    db = str(tmp_path / "replay.duckdb")
    df = spark.createDataFrame([(1, 1.0, 5), (2, 2.0, 5)], "k long, v double, ver long")
    for _ in range(2):
        (
            df.write.format("pypgsync_upsert")
            .option("db_path", db).option("table", "dst")
            .option("keys", "k").option("version_col", "ver")
            .mode("append").save()
        )
    rows = duckdb.connect(db).execute("SELECT count(*), sum(v) FROM dst").fetchone()
    assert rows == (2, 3.0)


def test_full_sql_to_sql_streaming_sync(spark, tmp_path):
    """The complete reference pipeline, SQL to SQL: the CDC source
    polls the source table's delta, Spark streams it, and the upsert
    sink merges each micro-batch into the destination engine with
    INSERT..ON CONFLICT. Restart with the same checkpoint processes
    only the delta; LWW holds across runs."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pypgsync_spark.sources.pysource import (
        read_cdc_stream,
        register_upsert_sink,
    )

    register_upsert_sink(spark)
    src_tbl = tmp_path / "src_tbl"
    src_tbl.mkdir()
    pq.write_table(
        pa.table(
            {"row_id": [0, 1, 2], "k": [10, 11, 10], "v": [1.0, 2.0, 1.5]}
        ),
        src_tbl / "p0.parquet",
    )
    db = str(tmp_path / "sql_dst.duckdb")
    ck = str(tmp_path / "sql_ck")

    def run():
        q = (
            read_cdc_stream(spark, f"{src_tbl}/*.parquet", "row_id")
            .writeStream.format("pypgsync_upsert")
            .option("db_path", db)
            .option("table", "dst")
            .option("keys", "k")
            .option("version_col", "row_id")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    got = dict(
        (k, (v, r))
        for k, v, r in duckdb.connect(db).execute(
            "SELECT k, v, row_id FROM dst ORDER BY k"
        ).fetchall()
    )
    assert got == {10: (1.5, 2), 11: (2.0, 1)}

    # source grows: an update for k=11 and a new key
    pq.write_table(
        pa.table({"row_id": [3, 4], "k": [11, 12], "v": [20.0, 12.0]}),
        src_tbl / "p1.parquet",
    )
    run()
    got2 = dict(
        (k, (v, r))
        for k, v, r in duckdb.connect(db).execute(
            "SELECT k, v, row_id FROM dst ORDER BY k"
        ).fetchall()
    )
    assert got2 == {10: (1.5, 2), 11: (20.0, 3), 12: (12.0, 4)}


# ---------------- edge cases ----------------


def test_schema_rejects_unmapped_type(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from pypgsync_spark.sources.pysource import SqlSliceDataSource

    p = tmp_path / "weird.parquet"
    # map type has no entry in the DDL map — must fail LOUDLY at plan
    # time, not produce a corrupt schema
    pq.write_table(
        pa.table({"m": pa.array([{"a": 1}], type=pa.map_(pa.string(), pa.int64()))}),
        p,
    )
    ds = SqlSliceDataSource(options={"table_path": str(p)})
    with _pytest.raises(ValueError, match="unmapped source type"):
        ds.schema()


def test_cdc_empty_source_table(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pypgsync_spark.sources.pysource import SqlCdcStreamReader

    d = tmp_path / "empty_tbl"
    d.mkdir()
    pq.write_table(
        pa.table({"event_id": pa.array([], type=pa.int64())}), d / "p.parquet"
    )
    r = SqlCdcStreamReader(
        schema=None,
        options={"table_path": f"{d}/*.parquet", "partition_column": "event_id"},
    )
    end = r.latestOffset()
    assert end == {"last": -1}  # nothing to emit, offset unchanged
    parts = r.partitions(r.initialOffset(), end)
    assert sum(b.num_rows for p in parts for b in r.read(p)) == 0


def test_upsert_sink_without_version_col(spark, tmp_path):
    """No version_col: conflict resolution is plain DO UPDATE with a
    deterministic intra-batch collapse — re-upserting replaces."""
    import duckdb

    from pypgsync_spark.sources.pysource import register_upsert_sink

    register_upsert_sink(spark)
    db = str(tmp_path / "nover.duckdb")

    def upsert(rows):
        (
            spark.createDataFrame(rows, "k long, v double")
            .write.format("pypgsync_upsert")
            .option("db_path", db).option("table", "dst").option("keys", "k")
            .mode("append").save()
        )

    upsert([(1, 1.0), (2, 2.0)])
    upsert([(1, 9.0), (3, 3.0)])
    got = dict(duckdb.connect(db).execute("SELECT k, v FROM dst").fetchall())
    assert got == {1: 9.0, 2: 2.0, 3: 3.0}


def test_upsert_sink_random_sequences_equal_model(spark, tmp_path):
    """Model-based: seeded random batch sequences (dup keys, dup
    versions, stale rows) upserted through the sink equal a dict
    model applying the same deterministic rules — intra-batch winner
    is max (version, value), cross-batch only strictly newer versions
    replace."""
    import random

    import duckdb

    from pypgsync_spark.sources.pysource import register_upsert_sink

    register_upsert_sink(spark)
    for seed in (7, 42):
        rng = random.Random(seed)
        db = str(tmp_path / f"model_{seed}.duckdb")
        model: dict[int, tuple[float, int]] = {}
        for _batch in range(3):
            rows = [
                (
                    rng.randrange(6),                 # key: collisions likely
                    float(rng.randrange(100)),        # value
                    rng.randrange(4),                 # version: dups likely
                )
                for _ in range(rng.randrange(1, 12))
            ]
            (
                spark.createDataFrame(rows, "k long, v double, ver long")
                .write.format("pypgsync_upsert")
                .option("db_path", db).option("table", "dst")
                .option("keys", "k").option("version_col", "ver")
                .mode("append").save()
            )
            batch_best: dict[int, tuple[int, float]] = {}
            for k, v, ver in rows:
                cand = (ver, v)
                if k not in batch_best or cand > batch_best[k]:
                    batch_best[k] = cand
            for k, (ver, v) in batch_best.items():
                if k not in model or ver > model[k][1]:
                    model[k] = (v, ver)
        got = {
            k: (v, ver)
            for k, v, ver in duckdb.connect(db).execute(
                "SELECT k, v, ver FROM dst"
            ).fetchall()
        }
        assert got == model, f"seed {seed}: sink diverged from model"


def test_filter_literal_rendering_and_decline():
    """r10 review: str(date(2024,1,1)) rendered the unquoted 2024-01-01
    (integer arithmetic to DuckDB). Dates/datetimes now render as typed
    literals; unrenderable types DECLINE pushdown (None) so Spark
    evaluates them post-scan instead of executing wrong SQL."""
    import datetime as dt
    from decimal import Decimal

    from pypgsync_spark.sources.pysource import EqualTo, _compile_filter

    def eq(v):
        return _compile_filter(EqualTo(attribute=("d",), value=v))

    assert eq(dt.date(2024, 1, 2)) == "\"d\" = DATE '2024-01-02'"
    assert (
        eq(dt.datetime(2024, 1, 2, 3, 4, 5))
        == "\"d\" = TIMESTAMP '2024-01-02 03:04:05'"
    )
    assert eq(5) == '"d" = 5'
    assert eq(True) == '"d" = TRUE'
    assert eq(Decimal("1.5")) is None           # decline, don't str()
    assert eq([1, 2]) is None                   # decline
    assert eq(float("inf")) is None             # decline non-finite
    assert eq(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)) is None


def test_pushdown_date_filter_end_to_end(spark, tmp_path):
    """A DATE-typed pushed filter returns correct rows through the
    Python source (pre-fix it compiled to integer arithmetic and
    returned zero rows / binder errors)."""
    import datetime as dt

    import duckdb

    from pyspark.sql import functions as F

    from pypgsync_spark.sources.pysource import read_sql_table

    p = str(tmp_path / "dated.parquet")
    duckdb.connect().execute(
        "COPY (SELECT i AS id, DATE '2024-01-01' + i::INT AS d "
        "FROM range(10) t(i)) TO '" + p + "' (FORMAT PARQUET)"
    )
    df = read_sql_table(spark, p, "id", num_partitions=2)
    got = df.filter(F.col("d") == F.lit(dt.date(2024, 1, 3))).collect()
    assert [(r["id"], r["d"]) for r in got] == [(2, dt.date(2024, 1, 3))]


def test_upsert_sink_all_columns_are_keys(spark, tmp_path):
    """r10 review: an all-key table made the merge SQL end in
    'DO UPDATE SET ' (parse error at commit). Degrades to DO NOTHING —
    re-inserting known keys is a no-op, new keys land."""
    import duckdb

    from pypgsync_spark.sources.pysource import register_upsert_sink

    register_upsert_sink(spark)
    db = str(tmp_path / "edges.duckdb")

    def upsert(rows):
        df = spark.createDataFrame(rows, "a long, b long")
        (
            df.write.format("pypgsync_upsert")
            .option("db_path", db)
            .option("table", "edges")
            .option("keys", "a,b")
            .mode("append")
            .save()
        )

    upsert([(1, 2), (3, 4)])
    upsert([(1, 2), (5, 6)])  # replayed key + new key
    got = duckdb.connect(db).execute(
        "SELECT a, b FROM edges ORDER BY a"
    ).fetchall()
    assert got == [(1, 2), (3, 4), (5, 6)]


def test_quoted_paths_and_names_end_to_end(spark, tmp_path):
    """Paths are SQL string literals and names are quoted identifiers
    everywhere the module renders SQL: a source parquet and a
    destination database under a directory named o'b, a partition
    column named i"d. Unquoted, the slice read and the upsert commit's
    staged-file list both end a literal early (ParserException)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pypgsync_spark.sources.pysource import register_upsert_sink

    d = tmp_path / "o'b"
    d.mkdir()
    src = str(d / "t.parquet")
    pq.write_table(pa.table({'i"d': list(range(20)), "v": [float(i) for i in range(20)]}), src)
    r = SqlSliceReader(
        schema=None,
        options={"table_path": src, "partition_column": 'i"d', "num_partitions": "3"},
    )
    parts = r.partitions()
    assert len(parts) == 3
    assert sorted(i for p in parts for b in r.read(p) for i in b.column(0).to_pylist()) == list(range(20))

    register_upsert_sink(spark)
    db = str(d / "dst.duckdb")
    (
        read_sql_table(spark, src, 'i"d', num_partitions=3)
        .write.format("pypgsync_upsert")
        .option("db_path", db).option("table", "dst").option("keys", 'i"d')
        .mode("append").save()
    )
    with duckdb.connect(db) as con:
        assert con.execute("SELECT count(*), sum(v) FROM dst").fetchone() == (20, 190.0)

