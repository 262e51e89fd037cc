"""CLI — the reference's user surface (`pypgsync single|continuous`),
re-expressed for the Spark engine.

Reference command shapes (reference cli.py:37-55 single, cli.py:58-97
continuous; option inventory cli.py:9-34): source/destination endpoints,
the table to sync, a chunk-size bound, and for continuous mode a delay
between iterations (default 5 s, reference cli.py:72-74). The Spark
engine's endpoints are parquet paths (or a JDBC URL at deploy time).
The reference's ``--chunksize`` has no flag here: chunking is the
source's own partitioning plus the sql source's ``fetch_size``
(SURVEY S2). Each sync pass prints its record as one JSON line.

Usage:
    python -m pypgsync_spark.cli single --source S --dest D \
        --keys event_id --version-col updated_ms
    python -m pypgsync_spark.cli continuous ... --delay 5 --iterations 0
        (0 = run until interrupted, the reference's while-True loop)
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession


def _non_negative(kind):
    """argparse ``type`` that parses with ``kind`` and rejects values below 0."""

    def parse(text: str):
        value = kind(text)
        if value < 0:
            raise argparse.ArgumentTypeError(f"must be >= 0, got {text}")
        return value

    parse.__name__ = kind.__name__
    return parse


def _parse_keys(text: str) -> list[str]:
    """argparse ``type`` of ``--keys``: 'a, b' and 'a,b' both mean
    [a, b] — un-stripped splitting hands the merge a key named ' b'
    that fails analysis far from the CLI (r11 review). No key at all
    (',') is refused before any Spark session starts."""
    keys = [k.strip() for k in text.split(",") if k.strip()]
    if not keys:
        raise argparse.ArgumentTypeError(
            f"needs at least one key column, got {text!r}"
        )
    return keys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pypgsync-spark", description=__doc__)
    sub = p.add_subparsers(dest="command", required=True)
    for name, doc in (
        ("single", "one sync iteration (reference cli.py:37-55)"),
        ("continuous", "micro-batch loop (reference cli.py:58-97)"),
    ):
        c = sub.add_parser(name, help=doc)
        c.add_argument("--source", required=True, help="source parquet path")
        c.add_argument("--dest", required=True, help="destination store path")
        c.add_argument(
            "--keys",
            type=_parse_keys,
            required=True,
            help="comma-separated merge key columns",
        )
        c.add_argument(
            "--version-col", required=True, help="monotone version column (epoch ms)"
        )
        c.add_argument("--master", default=None, help="spark master override")
        c.add_argument(
            "--source-format",
            choices=["parquet", "sql"],
            default="parquet",
            help="parquet = direct file scan; sql = range-partitioned "
            "chunked cursors through the Python DataSource "
            "(sources/pysource.py — the reference's slice machinery "
            "executed, with DuckDB standing in for the RDBMS)",
        )
        c.add_argument(
            "--partition-column",
            default="event_id",
            help="integer column to range-slice (sql source format)",
        )
        if name == "continuous":
            c.add_argument(
                "--delay",
                type=_non_negative(float),
                default=5.0,
                help="seconds between runs",
            )
            c.add_argument(
                "--iterations",
                type=_non_negative(int),
                default=0,
                help="0 = loop until interrupted (reference while-True)",
            )
    q = sub.add_parser(
        "query",
        help="run a named catalog query (the engine's query surface; "
        "`--list` enumerates every registered name)",
    )
    q.add_argument("name", nargs="?", help="registry query name (omit with --list)")
    q.add_argument("--list", action="store_true", help="list registered queries")
    q.add_argument(
        "--sf-dir",
        default=None,
        help="fixture/table directory (default: catalog.DEFAULT_SF_DIR)",
    )
    q.add_argument(
        "--limit",
        type=_non_negative(int),
        default=20,
        help="rows to print (JSON lines)",
    )
    q.add_argument("--master", default=None, help="spark master override")
    return p


def run_query(args, spark: SparkSession) -> int:
    from pypgsync_spark.catalog import DEFAULT_SF_DIR
    from pypgsync_spark.queries import REGISTRY

    if args.list:
        for n, spec in sorted(REGISTRY.items()):
            print(f"{n}\t{spec.survey}")
        return 0
    if not args.name or args.name not in REGISTRY:
        known = ", ".join(sorted(REGISTRY)[:8])
        print(
            f"unknown query {args.name!r}; try --list (e.g. {known}, ...)",
            file=sys.stderr,
        )
        return 2
    df = REGISTRY[args.name].fn(spark, args.sf_dir or DEFAULT_SF_DIR)
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def _load_source(
    spark: SparkSession, path: str, fmt: str, partition_column: str
) -> DataFrame:
    if fmt == "sql":
        from pypgsync_spark.sources.pysource import read_sql_table

        return read_sql_table(spark, path, partition_column)
    return spark.read.parquet(path)


def _sync_args(args, spark: SparkSession):
    from pypgsync_spark.sync import ParquetSyncedTable

    store = ParquetSyncedTable(spark, args.dest)

    def loader():
        return _load_source(
            spark, args.source, args.source_format, args.partition_column
        )

    return store, loader


def _emit(stats) -> dict:
    """Print one pass's ``SyncStats`` as a JSON line; return it as a dict."""
    record = dataclasses.asdict(stats)
    print(json.dumps(record), flush=True)
    return record


def run_single(args, spark: SparkSession) -> dict:
    from pypgsync_spark.sync import sync_table

    store, loader = _sync_args(args, spark)
    return _emit(
        sync_table(loader(), store, keys=args.keys, version_col=args.version_col)
    )


def run_continuous(args, spark: SparkSession, sleep=time.sleep) -> list[dict]:
    """The reference's ``while True: sync(); sleep(delay)`` loop
    (reference cli.py:90-94) is ``sync.sync_continuous``; this prints
    each pass as it ends. ``--iterations`` > 0 bounds the loop, 0 runs
    until interrupted; KeyboardInterrupt exits cleanly (reference
    cli.py:95-97)."""
    from pypgsync_spark.sync import sync_continuous

    store, loader = _sync_args(args, spark)
    passes = sync_continuous(
        loader,
        store,
        args.keys,
        args.version_col,
        iterations=args.iterations,
        delay_seconds=args.delay,
        sleep=sleep,
    )
    out: list[dict] = []
    try:
        for stats in passes:
            out.append(_emit(stats))
    except KeyboardInterrupt:
        pass
    return out


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if spark is None:
        from pypgsync_spark.session import get_spark

        # no --master given -> get_spark's default (local[$CPUS]); an
        # explicit value passes through, including master=None semantics
        # via get_spark for spark-submit-managed sessions
        kw = {"master": args.master} if args.master else {}
        spark = get_spark(app_name="pypgsync_spark_cli", **kw)
    if args.command == "query":
        return run_query(args, spark)
    if args.command == "single":
        run_single(args, spark)
    else:
        run_continuous(args, spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
