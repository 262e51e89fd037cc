"""CLI parity (reference cli.py single/continuous): argument surface
and checks, single-run sync, bounded and unbounded continuous loop,
and interval/plan invariants (hypothesis-driven, SURVEY §5.1)."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pypgsync_spark.catalog import load_table
from pypgsync_spark.cli import main
from pypgsync_spark.functions.time import to_millis
from pypgsync_spark.plans.intervals import closed_intervals, plan_slices


def _make_source(spark, sf_small, tmp_path) -> str:
    src = (
        load_table(spark, sf_small, "events")
        .withColumn("updated_ms", to_millis("ts"))
        .select("event_id", "updated_ms", "user_id", "event_type", "value")
    )
    path = str(tmp_path / "src")
    src.write.parquet(path)
    return path


def _records(capsys) -> list[dict]:
    """The JSON line each sync pass prints to stdout."""
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def test_cli_single_syncs(spark, sf_small, tmp_path, capsys):
    src_path = _make_source(spark, sf_small, tmp_path)
    dest = str(tmp_path / "dst")
    rc = main(
        [
            "single",
            "--source", src_path,
            "--dest", dest,
            "--keys", "event_id",
            "--version-col", "updated_ms",
        ],
        spark=spark,
    )
    assert rc == 0
    (record,) = _records(capsys)
    got = spark.read.parquet(f"{dest}/a").count()
    assert got == spark.read.parquet(src_path).count()
    assert record["wrote"] and record["delta_rows"] == got
    assert record["delta_max"] is not None and record["rows_above_high"] == 0


def test_cli_continuous_bounded(spark, sf_small, tmp_path, capsys):
    src_path = _make_source(spark, sf_small, tmp_path)
    dest = str(tmp_path / "dst")
    rc = main(
        [
            "continuous",
            "--source", src_path,
            "--dest", dest,
            "--keys", "event_id",
            "--version-col", "updated_ms",
            "--delay", "0",
            "--iterations", "3",
        ],
        spark=spark,
    )
    assert rc == 0
    records = _records(capsys)
    assert len(records) == 3
    assert records[0]["wrote"] and not records[1]["wrote"] and not records[2]["wrote"]
    # converged and idempotent across the loop
    from pypgsync_spark.sync import ParquetSyncedTable

    store = ParquetSyncedTable(spark, dest)
    assert store.read().count() == spark.read.parquet(src_path).count()


def test_cli_continuous_unbounded_until_interrupt(spark, sf_small, tmp_path, capsys, monkeypatch):
    """--iterations 0 loops until interrupted, prints a JSON line per
    pass as it ends, and exits 0 on KeyboardInterrupt (reference
    cli.py:95-97)."""
    import functools

    from pypgsync_spark import cli

    passes = []

    def sleep(seconds):
        passes.append(seconds)
        if len(passes) == 2:
            raise KeyboardInterrupt

    monkeypatch.setattr(cli, "run_continuous", functools.partial(cli.run_continuous, sleep=sleep))
    src_path = _make_source(spark, sf_small, tmp_path)
    rc = main(
        [
            "continuous",
            "--source", src_path,
            "--dest", str(tmp_path / "dst"),
            "--keys", "event_id",
            "--version-col", "updated_ms",
            "--delay", "0.5",
        ],
        spark=spark,
    )
    assert rc == 0
    assert passes == [0.5, 0.5]
    first, second = _records(capsys)
    assert first["wrote"] and first["delta_rows"] > 0
    assert second["delta_rows"] == 0 and not second["wrote"]


@pytest.mark.parametrize("flag, value", [("--delay", "-1"), ("--iterations", "-3")])
def test_cli_rejects_negative_delay_and_iterations(flag, value, capsys):
    """A negative --delay used to fail in time.sleep after one committed
    pass, and a negative --iterations ran no pass and exited 0."""
    from pypgsync_spark.cli import _build_parser

    argv = ["continuous", "--source", "s", "--dest", "d", "--keys", "k",
            "--version-col", "v", flag, value]
    with pytest.raises(SystemExit) as exc:
        _build_parser().parse_args(argv)
    assert exc.value.code == 2
    assert f"argument {flag}: must be >= 0" in capsys.readouterr().err


@pytest.mark.parametrize(
    "command, keys", [("single", ","), ("continuous", " , "), ("single", "")]
)
def test_cli_rejects_empty_keys(command, keys, capsys):
    """'--keys ,' parsed to no key at all and the cold start kept one
    row of the whole source, exiting 0."""
    from pypgsync_spark.cli import _build_parser

    argv = [command, "--source", "s", "--dest", "d", "--keys", keys,
            "--version-col", "v"]
    with pytest.raises(SystemExit) as exc:
        _build_parser().parse_args(argv)
    assert exc.value.code == 2
    assert "argument --keys: needs at least one key column" in capsys.readouterr().err


def test_cli_query_rejects_negative_limit(capsys):
    """'query --limit -1' used to reach Spark and fail there with
    INVALID_LIMIT_LIKE_EXPRESSION and a JVM stack trace."""
    from pypgsync_spark.cli import _build_parser

    with pytest.raises(SystemExit) as exc:
        _build_parser().parse_args(["query", "a6_count_star", "--limit", "-1"])
    assert exc.value.code == 2
    assert "argument --limit: must be >= 0" in capsys.readouterr().err


@given(
    start=st.integers(min_value=-10**12, max_value=10**12),
    span=st.integers(min_value=0, max_value=10**6),
    width=st.integers(min_value=1, max_value=10**6),
)
@settings(max_examples=200, deadline=None)
def test_closed_intervals_invariants(start, span, width):
    """Intervals exactly tile [start, end]: disjoint, adjacent, clamped
    (the reference's utils.intervals contract, fixed — its own test
    was shadowed and never ran, reference tests/test_utils.py:18-26)."""
    end = start + span
    ivs = closed_intervals(start, end, width)
    assert ivs[0][0] == start and ivs[-1][1] == end
    for (lo, hi), (nlo, _nhi) in zip(ivs, ivs[1:]):
        assert nlo == hi + 1
    assert all(hi - lo + 1 <= width for lo, hi in ivs)


@given(
    low=st.integers(min_value=0, max_value=10**12),
    span=st.integers(min_value=0, max_value=10**9),
    rows=st.integers(min_value=1, max_value=10**9),
    target=st.integers(min_value=1, max_value=10**8),
)
@settings(max_examples=200, deadline=None)
def test_plan_slices_invariants(low, span, rows, target):
    plan = plan_slices(low, low + span, rows, target)
    assert not plan.is_noop
    assert plan.slices[0][0] == low and plan.slices[-1][1] == low + span
    # slice count tracks the rows/target ratio (never more than needed
    # + 1) AND stays driver-metadata-sized no matter how degenerate the
    # ratio gets (rows=1e9 @ target=1 must NOT plan a billion slices)
    import math

    from pypgsync_spark.plans.intervals import MAX_SLICES_PER_PLAN

    assert len(plan.slices) <= max(1, math.ceil(rows / target)) + 1
    assert len(plan.slices) <= MAX_SLICES_PER_PLAN + 1


def test_cli_single_syncs_via_sql_source(spark, sf_small, tmp_path, capsys):
    """`single --source-format sql` drives the whole sync pipeline
    through the Python DataSource's range-partitioned cursors."""
    from pypgsync_spark.cli import main
    from pypgsync_spark.catalog import load_table, table_path

    dest = str(tmp_path / "dst_sql")
    rc = main(
        [
            "single",
            "--source", table_path(sf_small, "events"),
            "--dest", dest,
            "--keys", "event_id",
            "--version-col", "event_id",
            "--source-format", "sql",
            "--partition-column", "event_id",
        ],
        spark=spark,
    )
    assert rc == 0
    (record,) = _records(capsys)
    from pypgsync_spark.sync import ParquetSyncedTable

    n = load_table(spark, sf_small, "events").count()
    assert ParquetSyncedTable(spark, dest).read().count() == n
    assert record["wrote"] and record["rows_changed"] == n


def test_cli_query_command(spark, sf_small, capsys):
    import json

    from pypgsync_spark.cli import main

    rc = main(["query", "a6_count_star", "--sf-dir", sf_small], spark=spark)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1 and list(json.loads(out[0])) == ["cnt"]

    rc = main(["query", "--list"], spark=spark)
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert any(line.startswith("a6_count_star") for line in lines)
    assert len(lines) >= 128

    rc = main(["query", "no_such_query"], spark=spark)
    assert rc == 2


def test_cli_keys_whitespace_stripped(spark, sf_small, tmp_path):
    """'--keys "event_id, user_id"' must not hand the merge a key
    named ' user_id' (r11 review)."""
    from pypgsync_spark.cli import _parse_keys, run_single

    assert _parse_keys("event_id, user_id") == ["event_id", "user_id"]
    assert _parse_keys("a ,b, c ") == ["a", "b", "c"]

    from pypgsync_spark.cli import _build_parser

    src_path = _make_source(spark, sf_small, tmp_path)
    args = _build_parser().parse_args(
        [
            "single",
            "--source", src_path,
            "--dest", str(tmp_path / "dst"),
            "--keys", "event_id, user_id",
            "--version-col", "updated_ms",
        ]
    )
    assert run_single(args, spark)["delta_rows"] > 0


def test_cli_continuous_delegates_to_sync_continuous(spark, sf_small, tmp_path, monkeypatch):
    """Bounded mode must run through sync.sync_continuous (one loop
    implementation to maintain — r11 review)."""
    import pypgsync_spark.sync as sync_mod
    from pypgsync_spark.cli import _build_parser, run_continuous

    calls = {}
    real = sync_mod.sync_continuous

    def spy(*a, **k):
        calls["hit"] = True
        return real(*a, **k)

    monkeypatch.setattr(sync_mod, "sync_continuous", spy)
    src_path = _make_source(spark, sf_small, tmp_path)
    args = _build_parser().parse_args(
        [
            "continuous",
            "--source", src_path,
            "--dest", str(tmp_path / "dst"),
            "--keys", "event_id",
            "--version-col", "updated_ms",
            "--delay", "0",
            "--iterations", "2",
        ]
    )
    runs = run_continuous(args, spark, sleep=lambda s: None)
    assert calls.get("hit")
    assert len(runs) == 2 and runs[0]["delta_rows"] > 0
    # the first pass loads the table; the second finds the source's
    # file listing unchanged since that commit, reads nothing and
    # writes nothing
    assert runs[0]["wrote"] and runs[0]["rows_changed"] == runs[0]["delta_rows"]
    assert runs[1]["delta_rows"] == 0
    assert not runs[1]["wrote"] and runs[1]["rows_changed"] == 0


def test_resolve_master_contract():
    """r11 review: master=None must NOT be replaced with local[n] —
    that silently overrode spark-submit's --master on real clusters."""
    from pypgsync_spark.session import _resolve_master

    assert _resolve_master("auto", 32) == "local[32]"
    assert _resolve_master(None, 32) is None
    assert _resolve_master("yarn", 32) == "yarn"


def test_load_tables_missing_dir_raises(spark, tmp_path):
    """A typo'd sf_dir used to return {} and surface later as an opaque
    TABLE_OR_VIEW_NOT_FOUND (r11 review)."""
    import pytest

    from pypgsync_spark.catalog import load_tables

    with pytest.raises(FileNotFoundError, match="no fixture tables"):
        load_tables(spark, str(tmp_path / "sf_typo"))


def test_load_tables_subset_fixture_still_lenient(spark, sf_small, tmp_path):
    import shutil

    from pypgsync_spark.catalog import load_tables, table_path

    sub = tmp_path / "subset"
    sub.mkdir()
    shutil.copy(table_path(sf_small, "region"), sub / "region.parquet")
    out = load_tables(spark, str(sub))
    assert set(out) == {"region"}  # missing siblings skipped, not fatal
