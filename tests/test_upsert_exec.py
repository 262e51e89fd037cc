"""EXECUTED equivalence for the ON CONFLICT upsert sink (r11 verdict #3).

tests/test_skew_jdbc.py pins the reference's upsert statement TEXT
(session.py:135-151); until r12 that SQL was only ever string-compared
in-repo, because no Postgres exists in this sandbox. DuckDB supports
the identical ``INSERT ... ON CONFLICT (keys) DO UPDATE SET col =
excluded.col`` syntax, so these tests close the last
not-actually-executed seam: they run the rendered statement batch-by-
batch against a real DuckDB table with a real PRIMARY KEY — mirroring
``write_upsert``'s partition writer loop (sources/jdbc.py, psycopg2
``execute_batch`` -> duckdb ``executemany``; only the placeholder
token differs, ``%s`` vs ``?``) — and assert the surviving table is
byte-identical to ``upsert_merge`` + ``ParquetSyncedTable`` applied to
the SAME delta sequence.

Semantics note the equivalence rests on: ``ON CONFLICT DO UPDATE``
unconditionally overwrites (delta always wins), while ``upsert_merge``
is last-writer-wins on ``version_col`` with delta winning ties. The
two coincide exactly when every delta row carries a version >= the
destination row it replaces — which is what the watermark protocol
guarantees (reference session.py:57-64: deltas are extracted at
``updated >= low``). The fixture sequences below respect that
invariant, like every real sync pass does.
"""

from __future__ import annotations

import duckdb
import pytest

from pypgsync_spark.operators.merge import upsert_merge
from pypgsync_spark.sources.jdbc import upsert_sql
from pypgsync_spark.sync import ParquetSyncedTable

COLS = ["id", "updated", "value", "note"]


def _spark_df(spark, rows):
    return spark.createDataFrame(rows, "id long, updated long, value double, note string")


def _duck_apply(conn, sql, rows, batch_size=64):
    """write_upsert's partition loop, executed: chunk into
    ``batch_size`` slices and run each through one executemany (the
    duckdb analogue of psycopg2's execute_batch)."""
    batch = []
    for row in rows:
        batch.append(tuple(row))
        if len(batch) >= batch_size:
            conn.executemany(sql, batch)
            batch.clear()
    if batch:
        conn.executemany(sql, batch)


def _delta_sequence():
    """Initial load + three watermark-respecting delta batches:
    overwrites with strictly newer versions, an equal-version tie
    (delta must win on both sides), and fresh inserts."""
    initial = [
        (i, 1000 + i, float(i) / 4.0, f"init_{i}") for i in range(200)
    ]
    b1 = [  # overwrite even ids 0..99 with newer versions + 20 new ids
        (i, 2000 + i, float(i) / 2.0, f"b1_{i}") for i in range(0, 100, 2)
    ] + [(200 + i, 2100 + i, -1.25 * i, f"b1new_{i}") for i in range(20)]
    b2 = [  # equal-version tie on id 0 (2000 again) — delta wins twice
        (0, 2000, 99.5, "b2_tie"),
    ] + [(i, 3000 + i, float(i), f"b2_{i}") for i in range(50, 150, 3)]
    b3 = [  # touch every surviving id range once more
        (i, 4000 + i, float(i) / 8.0, f"b3_{i}") for i in range(0, 220, 7)
    ]
    return initial, [b1, b2, b3]


def test_on_conflict_upsert_executes_equivalent_to_parquet_store(spark, tmp_path):
    initial, deltas = _delta_sequence()
    sql = upsert_sql("dst", COLS, keys=["id"], dialect="duckdb")
    assert "ON CONFLICT (id) DO UPDATE SET" in sql  # the reference's form

    conn = duckdb.connect()
    conn.execute(
        "CREATE TABLE dst (id BIGINT PRIMARY KEY, updated BIGINT, "
        "value DOUBLE, note VARCHAR)"
    )
    _duck_apply(conn, sql, initial)

    store = ParquetSyncedTable(spark, str(tmp_path / "store"))
    store.write(_spark_df(spark, initial))

    for delta_rows in deltas:
        _duck_apply(conn, sql, delta_rows)
        merged = upsert_merge(
            store.read(), _spark_df(spark, delta_rows), keys=["id"], version_col="updated"
        )
        store.write(merged)

    duck = sorted(tuple(r) for r in conn.execute("SELECT * FROM dst").fetchall())
    spark_rows = sorted(
        (r["id"], r["updated"], r["value"], r["note"])
        for r in store.read().collect()
    )
    assert duck == spark_rows
    # the tie row proves DO UPDATE fired (not DO NOTHING): id 0 carries
    # b3's final write, which landed on top of the b2 equal-version win
    by_id = {t[0]: t for t in duck}
    assert by_id[0][3] == "b3_0"
    conn.close()


def test_on_conflict_upsert_is_idempotent_when_replayed(spark, tmp_path):
    """Effectively-once under at-least-once delivery (T4): replaying a
    whole delta batch must be a no-op on BOTH executors' SQL path and
    the Spark merge path — the property the reference's restart loop
    leans on (session.py:83-86 batch mode re-runs)."""
    initial, deltas = _delta_sequence()
    sql = upsert_sql("dst", COLS, keys=["id"], dialect="duckdb")
    conn = duckdb.connect()
    conn.execute(
        "CREATE TABLE dst (id BIGINT PRIMARY KEY, updated BIGINT, "
        "value DOUBLE, note VARCHAR)"
    )
    _duck_apply(conn, sql, initial)

    store = ParquetSyncedTable(spark, str(tmp_path / "store"))
    store.write(_spark_df(spark, initial))

    for delta_rows in deltas:
        for _ in range(2):  # delivered twice
            _duck_apply(conn, sql, delta_rows)
            merged = upsert_merge(
                store.read(), _spark_df(spark, delta_rows), keys=["id"], version_col="updated"
            )
            store.write(merged)

    duck = sorted(tuple(r) for r in conn.execute("SELECT * FROM dst").fetchall())
    spark_rows = sorted(
        (r["id"], r["updated"], r["value"], r["note"])
        for r in store.read().collect()
    )
    assert duck == spark_rows
    conn.close()


def test_do_nothing_degenerate_executes(spark):
    """All-columns-key degenerate: the rendered DO NOTHING statement
    must execute and leave first-writer rows intact."""
    sql = upsert_sql("only_keys", ["id"], keys=["id"], dialect="duckdb")
    assert sql.endswith("DO NOTHING")
    conn = duckdb.connect()
    conn.execute("CREATE TABLE only_keys (id BIGINT PRIMARY KEY)")
    _duck_apply(conn, sql, [(1,), (2,), (1,)])
    assert conn.execute("SELECT count(*) FROM only_keys").fetchone()[0] == 2
    conn.close()
