"""DDL clone + catalog checks (S5/S6, ddl.py).

The reference's ``_init_db`` (reference session.py:162-197) verifies
existence and clones a missing destination from the source's reflected
schema; these tests pin the Spark-native re-expression: the type
mapping, the rendered DDL, and the create-on-missing / skip-on-present
branch. The cross-engine manifest check runs in the driver sweep and
tests/test_oracle.py (s5_ddl_clone / s6_catalog_checks).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from pypgsync_spark.ddl import (
    check_tables,
    clone_table_ddl,
    ensure_destination,
    pg_type,
    schema_manifest,
)


def test_pg_type_scalars():
    assert pg_type(T.LongType()) == "bigint"
    assert pg_type(T.IntegerType()) == "integer"
    assert pg_type(T.ShortType()) == "smallint"
    assert pg_type(T.StringType()) == "text"
    assert pg_type(T.DoubleType()) == "double precision"
    assert pg_type(T.FloatType()) == "real"
    assert pg_type(T.BooleanType()) == "boolean"
    assert pg_type(T.BinaryType()) == "bytea"
    assert pg_type(T.DateType()) == "date"
    assert pg_type(T.TimestampType()) == "timestamp"
    assert pg_type(T.TimestampNTZType()) == "timestamp"


def test_pg_type_parameterized():
    assert pg_type(T.DecimalType(18, 2)) == "numeric(18,2)"
    assert pg_type(T.ArrayType(T.FloatType())) == "real[]"
    assert pg_type(T.ArrayType(T.ArrayType(T.LongType()))) == "bigint[][]"
    with pytest.raises(TypeError):
        pg_type(T.MapType(T.StringType(), T.LongType()))


def test_clone_table_ddl(spark):
    df = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField('we"ird', T.StringType(), True),
                T.StructField("v", T.DoubleType(), True),
            ]
        ),
    )
    ddl = clone_table_ddl(df, "dst", primary_key=["id"])
    assert ddl == (
        'CREATE TABLE IF NOT EXISTS "dst" '
        '("id" bigint NOT NULL, "we""ird" text, "v" double precision, '
        'PRIMARY KEY ("id"))'
    )


def test_clone_ddl_executes_in_duckdb(spark, sf_small):
    """The rendered DDL must be valid for a Postgres-dialect engine;
    DuckDB accepts the same CREATE TABLE grammar — execute it and
    round-trip the column manifest."""
    import duckdb

    from pypgsync_spark.catalog import load_table

    df = load_table(spark, sf_small, "orders")
    con = duckdb.connect()
    try:
        con.execute(clone_table_ddl(df, "orders_clone", primary_key=["o_orderkey"]))
        cols = con.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name='orders_clone' ORDER BY ordinal_position"
        ).fetchall()
    finally:
        con.close()
    assert [c[0] for c in cols] == df.columns


def test_schema_manifest_matches_dataframe(spark, sf_small):
    from pypgsync_spark.catalog import load_table

    orders = load_table(spark, sf_small, "orders")
    m = schema_manifest(spark, {"orders": orders}).collect()
    assert [r["column_name"] for r in m] == orders.columns
    assert all(r["table_name"] == "orders" for r in m)
    assert [r["ordinal"] for r in m] == list(range(1, len(orders.columns) + 1))


def test_check_tables_and_ensure_destination(spark, sf_small):
    from pypgsync_spark.catalog import load_table

    src = load_table(spark, sf_small, "region")
    src.createOrReplaceTempView("ddl_src_present")
    rows = {
        r["table_name"]: r["table_exists"]
        for r in check_tables(spark, ["ddl_src_present", "ddl_absent"]).collect()
    }
    assert rows == {"ddl_src_present": True, "ddl_absent": False}

    # missing destination -> clone DDL from the source schema
    ddl = ensure_destination(spark, src, "ddl_absent", primary_key=["r_regionkey"])
    assert ddl.startswith('CREATE TABLE IF NOT EXISTS "ddl_absent"')
    assert '"r_regionkey" integer' in ddl
    # present destination -> no-op, exactly the reference's branch
    assert ensure_destination(spark, src, "ddl_src_present") == ""
    spark.catalog.dropTempView("ddl_src_present")


def test_clone_ddl_qualified_destination(spark):
    """'analytics.events' renders as "analytics"."events" — quoting the
    dotted name as ONE identifier would create a mis-named table in the
    default schema while tableExists checks namespace 'analytics'
    (r11 review)."""
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [], T.StructType([T.StructField("id", T.LongType(), False)])
    )
    ddl = clone_table_ddl(df, "analytics.events", primary_key=["id"])
    assert 'CREATE TABLE IF NOT EXISTS "analytics"."events"' in ddl
    # unqualified names keep the plain single-identifier form
    assert 'IF NOT EXISTS "events" (' in clone_table_ddl(df, "events")
