"""EXECUTED slice-scan CDC against a live DuckDB database (r12 verdict #5).

tests/test_upsert_exec.py closed the SINK half of the reference's SQL
surface in r12 (session.py:135-151's ON CONFLICT, executed). This file
closes the SOURCE half (session.py:127-133): the ``pypgsync_cdc``
streaming source in db mode reads a TABLE inside a real DuckDB database
file — MAX-probe per micro-batch, delta sliced by the interval planner,
per-slice SQL cursors streaming Arrow batches — while the test plays
the application concurrently upserting that table through the
reference's rendered ON CONFLICT statement (the same executemany loop
write_upsert runs). Offset/delta exactness is asserted across four
micro-batches: every drain emits EXACTLY the rows above the previous
watermark, once.

DuckDB's concurrency rule shapes the interleaving: one read-write
process OR many read-only processes, never both — so the upserting
writer closes before each drain starts (the drain's tasks then share
read-only connections). A real RDBMS source has no such handoff; the
slice/offset machinery under test is identical either way.
"""

from __future__ import annotations

import duckdb

from pypgsync_spark.sources.pysource import read_cdc_stream
from pypgsync_spark.sources.jdbc import upsert_sql

COLS = ["id", "updated", "value", "note"]
UPSERT = upsert_sql("events_src", COLS, keys=["id"], dialect="duckdb")


def _upsert_wave(db: str, rows) -> None:
    """The application side: open the single writer, apply the wave
    through the reference's executed ON CONFLICT statement, release the
    file (DuckDB single-writer rule — see module docstring)."""
    conn = duckdb.connect(db)
    try:
        conn.executemany(UPSERT, [tuple(r) for r in rows])
    finally:
        conn.close()


def test_cdc_db_mode_delta_exactness_across_microbatches(spark, tmp_path):
    db = str(tmp_path / "src.duckdb")
    ck = str(tmp_path / "cdc_ck")
    conn = duckdb.connect(db)
    conn.execute(
        "CREATE TABLE events_src ("
        "id BIGINT PRIMARY KEY, updated BIGINT, value DOUBLE, note VARCHAR)"
    )
    conn.close()

    def drain(name: str):
        # foreachBatch, not a memory sink: the memory sink refuses to
        # recover from an existing checkpoint, and recovery-across-
        # drains is exactly what this test exercises
        emitted: list = []

        def capture(batch_df, _batch_id):
            emitted.extend(batch_df.collect())

        q = (
            read_cdc_stream(spark, "events_src", "id", db_path=db)
            .writeStream.foreachBatch(capture)
            .queryName(name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["id"]: (r["updated"], r["value"], r["note"]) for r in emitted}

    # wave 0: initial load — ids 1..5
    wave0 = [(i, 100 + i, float(i), f"n{i}") for i in range(1, 6)]
    _upsert_wave(db, wave0)
    got = drain("cdc_w0")
    assert got == {i: (100 + i, float(i), f"n{i}") for i in range(1, 6)}

    # wave 1: three new ids PLUS a re-delivery of id 3 with a newer
    # version — the upsert updates the table in place, but the CDC
    # watermark rides the append column, so only ids > 5 may re-emit
    wave1 = [(3, 999, 3.5, "updated"), (6, 106, 6.0, "n6"), (7, 107, 7.0, "n7"), (8, 108, 8.0, "n8")]
    _upsert_wave(db, wave1)
    got = drain("cdc_w1")
    assert got == {6: (106, 6.0, "n6"), 7: (107, 7.0, "n7"), 8: (108, 8.0, "n8")}

    # wave 2: a single new id — the minimal delta
    _upsert_wave(db, [(9, 109, 9.0, "n9")])
    got = drain("cdc_w2")
    assert got == {9: (109, 9.0, "n9")}

    # wave 3: a gap in the id sequence (deleted/skipped sequence values
    # upstream) — slices spanning the gap must emit nothing phantom
    _upsert_wave(db, [(15, 115, 15.0, "n15"), (17, 117, 17.0, "n17")])
    got = drain("cdc_w3")
    assert got == {15: (115, 15.0, "n15"), 17: (117, 17.0, "n17")}

    # idle pass: no new rows — the empty micro-batch emits nothing and
    # the offset stays put (the reference's converged polling loop)
    got = drain("cdc_w4")
    assert got == {}

    # final ground truth: the table holds wave 0's rows with id 3's
    # newer version applied (the SINK-side LWW the upsert executed),
    # and the stream emitted every id exactly once
    final = duckdb.connect(db, read_only=True).execute(
        "SELECT id, updated FROM events_src ORDER BY id"
    ).fetchall()
    assert [i for i, _ in final] == [1, 2, 3, 4, 5, 6, 7, 8, 9, 15, 17]
    assert dict(final)[3] == 999


def test_cdc_db_mode_restart_resumes_after_checkpoint(spark, tmp_path):
    """Kill-and-restart with the same checkpoint: the restarted query
    re-reads NOTHING already committed — offsets live in the
    checkpoint, not in the source (T2/T4 on the executed SQL path)."""
    db = str(tmp_path / "src2.duckdb")
    ck = str(tmp_path / "cdc_ck2")
    conn = duckdb.connect(db)
    conn.execute(
        "CREATE TABLE events_src ("
        "id BIGINT PRIMARY KEY, updated BIGINT, value DOUBLE, note VARCHAR)"
    )
    conn.close()
    _upsert_wave(db, [(1, 101, 1.0, "a"), (2, 102, 2.0, "b")])

    def drain(name: str):
        emitted: list = []

        def capture(batch_df, _batch_id):
            emitted.extend(batch_df.collect())

        q = (
            read_cdc_stream(spark, "events_src", "id", db_path=db)
            .writeStream.foreachBatch(capture)
            .queryName(name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["id"] for r in emitted)

    assert drain("cdc_r0") == [1, 2]
    # restart with NO new data: a fresh query object, same checkpoint
    assert drain("cdc_r1") == []
    _upsert_wave(db, [(3, 103, 3.0, "c")])
    assert drain("cdc_r2") == [3]


def test_batch_db_mode_range_scan_with_pushdown(spark, tmp_path):
    """The BATCH slice source in db mode (symmetric with the CDC
    source): a range-partitioned parallel read of a table inside a
    real DuckDB database file, with a pushed filter reaching the
    per-slice SQL. Ground truth is the same table read back directly."""
    from pypgsync_spark.sources.pysource import read_sql_table

    db = str(tmp_path / "batch_src.duckdb")
    conn = duckdb.connect(db)
    conn.execute(
        "CREATE TABLE events_src ("
        "id BIGINT PRIMARY KEY, updated BIGINT, value DOUBLE, note VARCHAR)"
    )
    conn.close()
    _upsert_wave(db, [(i, 200 + i, i * 0.5, f"b{i}") for i in range(1, 101)])

    df = read_sql_table(spark, "events_src", "id", num_partitions=4, db_path=db)
    assert df.count() == 100
    got = sorted(
        (r["id"], r["updated"], r["value"]) for r in
        df.filter(df.id > 90).select("id", "updated", "value").collect()
    )
    assert got == [(i, 200 + i, i * 0.5) for i in range(91, 101)]
    # the read is genuinely sliced: >1 input partition planned
    fresh = read_sql_table(spark, "events_src", "id", num_partitions=4, db_path=db)
    assert fresh.rdd.getNumPartitions() > 1


def test_sql_from_clause_quoting():
    """db mode quotes the whole table name as ONE identifier (embedded
    quotes doubled; schema-qualification deliberately unsupported —
    the dot stays inside the quotes rather than splitting silently)."""
    from pypgsync_spark.sources.pysource import _sql_from_clause

    assert _sql_from_clause("events_src", "/x.db") == '"events_src"'
    assert _sql_from_clause('we"ird', "/x.db") == '"we""ird"'
    assert _sql_from_clause("a.b", "/x.db") == '"a.b"'
    assert _sql_from_clause("/p/t.parquet", None) == "read_parquet('/p/t.parquet')"
    # a parquet path is a string literal: an apostrophe is doubled, not
    # left to end the literal early (a directory named o'b)
    assert (
        _sql_from_clause("/p/o'b/t.parquet", None)
        == "read_parquet('/p/o''b/t.parquet')"
    )


def test_cdc_offset_probe_tolerates_mid_stream_writer_lock(tmp_path):
    """r13 ADVICE: the per-trigger MAX probe races DuckDB's single
    writer — a conflicting lock must idle the micro-batch at the last
    offset this reader instance already RETURNED (monotone: a lower
    value would regress the offset log and re-emit rows), not fail the
    stream. A FRESH instance under the same lock must still raise —
    with no offset ever returned, any fallback could regress the
    checkpoint. The lock is held by a real second process (in-process
    DuckDB would dedupe to a shared database instance instead)."""
    import subprocess
    import sys

    import pytest

    from pypgsync_spark.sources.pysource import SqlCdcStreamReader

    db = str(tmp_path / "locked_src.duckdb")
    conn = duckdb.connect(db)
    conn.execute(
        "CREATE TABLE events_src ("
        "id BIGINT PRIMARY KEY, updated BIGINT, value DOUBLE, note VARCHAR)"
    )
    conn.close()
    _upsert_wave(db, [(1, 101, 1.0, "n1")])

    opts = {"table_path": "events_src", "partition_column": "id", "db_path": db}
    warm = SqlCdcStreamReader(None, dict(opts))
    assert warm.latestOffset() == {"last": 1}

    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"import duckdb,sys,time; c = duckdb.connect({db!r}); "
            "print('held', flush=True); time.sleep(30)",
        ],
        stdout=subprocess.PIPE,
    )
    try:
        assert holder.stdout.readline().strip() == b"held"
        # warm reader: idles at its last returned offset, no raise
        assert warm.latestOffset() == {"last": 1}
        # fresh reader under the lock: must raise, not guess
        fresh = SqlCdcStreamReader(None, dict(opts))
        with pytest.raises(duckdb.IOException):
            fresh.latestOffset()
    finally:
        holder.kill()
        holder.wait()

    # writer released: the stream resumes and the offset advances
    _upsert_wave(db, [(2, 102, 2.0, "n2")])
    assert warm.latestOffset() == {"last": 2}


def test_lock_classifier_ignores_lock_in_database_path(tmp_path):
    """r14 review: the writer-lock classifier must match DuckDB's
    lock-conflict PHRASES, not a bare 'lock' substring — the exception
    text embeds the database path, and a missing database whose PATH
    contains 'lock' (this file's own locked_src.duckdb fixture name!)
    is NOT the retryable handoff race; a warm reader must raise, not
    idle forever at its last offset."""
    import pytest

    from pypgsync_spark.sources.pysource import (
        SqlCdcStreamReader,
        _is_writer_lock_error,
    )

    db = str(tmp_path / "locked_src.duckdb")
    conn = duckdb.connect(db)
    conn.execute(
        "CREATE TABLE events_src ("
        "id BIGINT PRIMARY KEY, updated BIGINT, value DOUBLE, note VARCHAR)"
    )
    conn.close()
    _upsert_wave(db, [(1, 101, 1.0, "n1")])

    opts = {"table_path": "events_src", "partition_column": "id", "db_path": db}
    warm = SqlCdcStreamReader(None, dict(opts))
    assert warm.latestOffset() == {"last": 1}

    # database vanishes mid-stream: the IOException text contains
    # 'lock' only via the path — must NOT be classified retryable
    import os

    os.remove(db)
    try:
        duckdb.connect(db, read_only=True)
    except Exception as e:
        assert not _is_writer_lock_error(e), str(e)
    with pytest.raises(duckdb.Error):
        warm.latestOffset()
