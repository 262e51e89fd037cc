"""DDL clone + catalog existence checks (S5, S6).

The reference's ``_init_db`` (reference session.py:162-197) does three
things before a sync may run: verify both databases exist, verify the
source table exists, and — when the destination table is missing —
clone it from the source's reflected schema
(``Table(..., autoload=True); metadata.create_all(dst_engine)``,
reference session.py:194-197). This module is the Spark-native
re-expression:

- *Schema reflection* is the DataFrame's own schema — parquet footers
  or JDBC metadata, never hard-coded (same posture as catalog.py).
- *DDL clone* maps Spark types to Postgres DDL types and renders a
  ``CREATE TABLE IF NOT EXISTS``; the upsert sink's stand-in engine
  executes the same shape (sources/pysource.py ``SqlUpsertArrowWriter``
  creates the destination table from the staged Arrow schema on first
  contact).
- *Existence checks* go through ``spark.catalog`` — the engine-side
  analogue of ``database_exists`` + the reflected-metadata probe.
  Callers get a boolean per table and pick the reference's branch
  (raise on a missing source, clone a missing destination).

Everything here is metadata-scale driver work (a handful of schema
objects), exactly like the reference's reflection: no data moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def pg_type(dt: T.DataType) -> str:
    """Postgres DDL type for a Spark type — the type half of the S5
    clone (reference session.py:194-197 gets this from SQLAlchemy's
    reflected ``Table``; here it derives from the Spark schema that
    the source scan already produced).

    Timestamps: Spark's parquet reader yields TIMESTAMP_NTZ for the
    fixtures' instant-free timestamps; both NTZ and LTZ map to the
    destination's ``timestamp`` (the engine pins UTC session-wide, so
    the two are the same instant map — catalog.ensure_events_ts).
    """
    if isinstance(dt, T.ArrayType):
        return f"{pg_type(dt.elementType)}[]"
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    mapping = {
        T.ByteType: "smallint",
        T.ShortType: "smallint",
        T.IntegerType: "integer",
        T.LongType: "bigint",
        T.FloatType: "real",
        T.DoubleType: "double precision",
        T.StringType: "text",
        T.BooleanType: "boolean",
        T.BinaryType: "bytea",
        T.DateType: "date",
        T.TimestampType: "timestamp",
        T.TimestampNTZType: "timestamp",
    }
    for spark_t, pg in mapping.items():
        if isinstance(dt, spark_t):
            return pg
    raise TypeError(f"no Postgres mapping for Spark type {dt!r}")


def clone_table_ddl(
    df: DataFrame, table: str, primary_key: list[str] | None = None
) -> str:
    """``CREATE TABLE IF NOT EXISTS`` for ``df``'s schema — the DDL the
    reference's ``metadata.create_all`` emits for a missing destination
    (reference session.py:194-197). Identifiers are double-quoted;
    nullability carries over; ``primary_key`` adds the constraint the
    upsert's ``ON CONFLICT`` target needs.
    """

    def q(name: str) -> str:
        return '"' + name.replace('"', '""') + '"'

    def q_table(name: str) -> str:
        # 'analytics.events' must render as "analytics"."events", not
        # one quoted identifier with a dot inside: the existence check
        # (spark.catalog.tableExists) already parses dots as
        # namespace separators, and quoting the whole string would
        # CREATE a single weirdly-named table in the default schema —
        # the upsert's ON CONFLICT target then never matches (r11
        # review). Dots are therefore separators here too.
        return ".".join(q(part) for part in name.split("."))

    cols = [
        f"{q(f.name)} {pg_type(f.dataType)}"
        + ("" if f.nullable else " NOT NULL")
        for f in df.schema.fields
    ]
    if primary_key:
        cols.append(f"PRIMARY KEY ({', '.join(q(k) for k in primary_key)})")
    return f"CREATE TABLE IF NOT EXISTS {q_table(table)} ({', '.join(cols)})"


def schema_manifest(spark: SparkSession, tables: dict[str, DataFrame]) -> DataFrame:
    """One row per column of every table: ``(table_name, ordinal,
    column_name, pg_type)`` — the reflected-schema view the DDL clone
    is generated from, as a DataFrame so it can be driver-verified
    against an independent engine's reflection of the same storage
    (information_schema.columns in the oracle)."""
    rows = [
        (name, i + 1, f.name, pg_type(f.dataType))
        for name, df in tables.items()
        for i, f in enumerate(df.schema.fields)
    ]
    schema = T.StructType(
        [
            T.StructField("table_name", T.StringType(), False),
            T.StructField("ordinal", T.IntegerType(), False),
            T.StructField("column_name", T.StringType(), False),
            T.StructField("pg_type", T.StringType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def check_tables(
    spark: SparkSession, probes: list[str]
) -> DataFrame:
    """S6 — catalog existence probe: ``(table_name, table_exists)`` for
    each name in ``probes``, resolved through ``spark.catalog`` (the
    engine's own catalog, where register_views has published the
    fixture tables). The reference raises on a missing SOURCE and
    clones a missing DESTINATION (session.py:170-197); callers get the
    boolean and pick the branch — see :func:`ensure_destination`.
    """
    rows = [(n, bool(spark.catalog.tableExists(n))) for n in probes]
    schema = T.StructType(
        [
            T.StructField("table_name", T.StringType(), False),
            T.StructField("table_exists", T.BooleanType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def ensure_destination(
    spark: SparkSession,
    src: DataFrame,
    table: str,
    primary_key: list[str] | None = None,
) -> str:
    """The reference's missing-destination branch (session.py:194-197):
    if ``table`` is absent from the session catalog, render the clone
    DDL from the SOURCE schema and return it; raise nothing — the
    missing-SOURCE error path belongs to the caller that knows which
    side is which. Returns the DDL that was (or would be) applied; ''
    when the table already exists."""
    if spark.catalog.tableExists(table):
        return ""
    return clone_table_ddl(src, table, primary_key=primary_key)
