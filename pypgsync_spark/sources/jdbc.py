"""JDBC upsert sink — the reference's Postgres write edge, for deploy time.

The reference writes with batched ``INSERT ... ON CONFLICT (pk) DO
UPDATE`` (reference session.py:135-151). Spark's JDBC writer has no
upsert mode, so :func:`write_upsert` is a ``foreachPartition`` that
issues the statement :func:`upsert_sql` renders, multi-row per batch.
Executors write in parallel; the statement is idempotent on the key, so
retries are safe (the reference's crash-resume property, README.md:90).

No Postgres is available in the test container, but the rendered
statement is EXECUTED against a live DuckDB database in
tests/test_upsert_exec.py (applied through a real connection,
convergence asserted). Only the Postgres wire protocol itself is
untested here. The sink the sync path runs is ``pypgsync_upsert``
(:mod:`pypgsync_spark.sources.pysource`), and the pure-Spark merge
(:mod:`pypgsync_spark.operators.merge`) is the in-engine equivalent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


# Parameter placeholder style per DB-API driver family.
_PLACEHOLDER = {
    "postgresql": "%s",  # psycopg2 pyformat
    "mysql": "%s",  # mysqlclient / pymysql
    "sqlite": "?",  # qmark
    "duckdb": "?",  # qmark
}

UPSERT_DIALECTS = ("postgresql", "sqlite", "duckdb", "mysql", "merge")


def upsert_sql(
    table: str,
    columns: Sequence[str],
    keys: Sequence[str],
    dialect: str = "postgresql",
    conflict_constraint: str | None = None,
) -> str:
    """Render the reference's upsert statement (session.py:135-144) for
    a target dialect:

    - ``postgresql`` / ``sqlite`` / ``duckdb``:
      ``INSERT ... ON CONFLICT (keys) DO UPDATE SET col = excluded.col``
      (the reference's literal Postgres form; SQLite and DuckDB share
      the ``excluded`` pseudo-table).
    - ``mysql``: ``INSERT ... AS excluded ON DUPLICATE KEY UPDATE
      col = excluded.col`` (8.0.19+ row alias; conflict target is the
      table's PK/unique key, not listable).
    - ``merge``: ANSI/SQL-Server/Oracle-style
      ``MERGE INTO ... USING (VALUES ...) WHEN (NOT) MATCHED`` —
      the portable fallback.

    When every column is a key the update clause degrades to the
    dialect's no-op form (``DO NOTHING`` / ``col = col``), keeping the
    statement idempotent.

    ``conflict_constraint`` (postgresql only) switches the conflict
    target from the column list to ``ON CONFLICT ON CONSTRAINT <name>``
    — the exact rendering the reference's
    ``on_conflict_do_update(constraint=table.primary_key)`` produces
    for a reflected (named) PK constraint (reference session.py:140-144).
    """
    if dialect not in UPSERT_DIALECTS:
        raise ValueError(f"unknown dialect {dialect!r}; one of {UPSERT_DIALECTS}")
    if conflict_constraint and dialect != "postgresql":
        # ADVICE r7: silently falling back to the key-list/implicit
        # target would give a caller pinning the reference's ON
        # CONSTRAINT semantics a DIFFERENT conflict target with no
        # error — refuse loudly, like the unknown-dialect guard.
        raise ValueError(
            f"conflict_constraint is postgresql-only (ON CONFLICT ON "
            f"CONSTRAINT); dialect {dialect!r} cannot render it — pass "
            f"keys instead"
        )
    ph = _PLACEHOLDER.get(dialect, "?")
    collist = ", ".join(columns)
    placeholders = ", ".join([ph] * len(columns))
    keylist = ", ".join(keys)
    nonkey = [c for c in columns if c not in keys]
    if dialect in ("postgresql", "sqlite", "duckdb"):
        action = (
            "DO UPDATE SET " + ", ".join(f"{c} = excluded.{c}" for c in nonkey)
            if nonkey
            else "DO NOTHING"
        )
        target = (
            f"ON CONSTRAINT {conflict_constraint}"
            if conflict_constraint and dialect == "postgresql"
            else f"({keylist})"
        )
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
            f"ON CONFLICT {target} {action}"
        )
    if dialect == "mysql":
        updates = ", ".join(
            f"{c} = excluded.{c}" for c in (nonkey or keys[:1])
        ) or f"{keys[0]} = {keys[0]}"
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
            f"AS excluded ON DUPLICATE KEY UPDATE {updates}"
        )
    # ANSI MERGE
    src_cols = ", ".join(columns)
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    sets = ", ".join(f"t.{c} = s.{c}" for c in nonkey)
    ins_vals = ", ".join(f"s.{c}" for c in columns)
    matched = f"WHEN MATCHED THEN UPDATE SET {sets} " if nonkey else ""
    return (
        f"MERGE INTO {table} t USING (VALUES ({placeholders})) AS s ({src_cols}) "
        f"ON {on} {matched}"
        f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({ins_vals})"
    )


def write_upsert(
    df: DataFrame,
    dsn: str,
    table: str,
    keys: Sequence[str],
    batch_size: int = 10_000,
    dialect: str = "postgresql",
) -> None:
    """Upsert ``df`` into Postgres from the executors.

    Each partition opens one connection and streams ``execute_batch``
    upserts — the distributed version of the reference's chunked writer
    (session.py:145-154, batch mode session.py:83-86). Requires
    psycopg2 on the executors; raises ImportError otherwise.
    """
    columns = df.columns
    sql = upsert_sql(table, columns, keys, dialect=dialect)

    def write_partition(rows) -> None:
        import psycopg2  # gated: not in the test container
        from psycopg2.extras import execute_batch

        conn = psycopg2.connect(dsn)
        try:
            with conn.cursor() as cur:
                batch: list[tuple] = []
                for row in rows:
                    batch.append(tuple(row[c] for c in columns))
                    if len(batch) >= batch_size:
                        execute_batch(cur, sql, batch)
                        batch.clear()
                if batch:
                    execute_batch(cur, sql, batch)
            conn.commit()
        finally:
            conn.close()

    df.foreachPartition(write_partition)
