"""Merge-operator semantics: last-writer-wins fixed point, idempotency,
order independence, and equivalence of the two physical formulations
(the properties SURVEY §5/§7 requires of the upsert, per README.md:90
and session.py:142-144)."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from pypgsync_spark.operators.merge import (
    coalesce_merge,
    delta_wins_merge,
    latest_per_key,
    upsert_merge,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("updated", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def expected_lww(dst_rows, delta_rows):
    """Reference model: per key, max version wins; delta beats dst on
    version ties."""
    best: dict[int, tuple] = {}
    for prio, rows in ((0, dst_rows), (1, delta_rows)):
        for r in rows:
            cur = best.get(r[0])
            if cur is None or (r[1], prio) >= (cur[0][1], cur[1]):
                # within one side, later row in list with same (ver)
                # also wins — but we only generate unique (id,ver) per
                # side so ordering inside a side is irrelevant
                best[r[0]] = (r, prio)
    return {r for r, _ in best.values()}


def test_upsert_merge_basic(spark):
    dst = spark.createDataFrame([(1, 10, "old"), (2, 10, "keep")], SCHEMA)
    delta = spark.createDataFrame([(1, 20, "new"), (3, 5, "ins")], SCHEMA)
    out = rows_set(upsert_merge(dst, delta, ["id"], "updated"))
    assert out == {(1, 20, "new"), (2, 10, "keep"), (3, 5, "ins")}


def test_upsert_merge_tie_source_wins(spark):
    dst = spark.createDataFrame([(1, 10, "dst")], SCHEMA)
    delta = spark.createDataFrame([(1, 10, "src")], SCHEMA)
    out = rows_set(upsert_merge(dst, delta, ["id"], "updated"))
    assert out == {(1, 10, "src")}


def test_upsert_merge_idempotent(spark):
    """Re-applying the same delta converges (reference crash-resume
    property, README.md:90)."""
    dst = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], SCHEMA)
    delta = spark.createDataFrame([(2, 30, "b2"), (3, 30, "c")], SCHEMA)
    once = upsert_merge(dst, delta, ["id"], "updated")
    twice = upsert_merge(once, delta, ["id"], "updated")
    assert rows_set(once) == rows_set(twice)


def test_upsert_merge_order_independent(spark):
    """Applying [d1 then d2] equals applying [d2 then d1] when key-
    version pairs are unique — the declarative replacement for the
    reference's ORDER BY updated application order (session.py:126-133)."""
    dst = spark.createDataFrame([(i, 0, "base") for i in range(20)], SCHEMA)
    d1 = spark.createDataFrame([(i, 1, "v1") for i in range(0, 15)], SCHEMA)
    d2 = spark.createDataFrame([(i, 2, "v2") for i in range(5, 20)], SCHEMA)
    a = upsert_merge(upsert_merge(dst, d1, ["id"], "updated"), d2, ["id"], "updated")
    b = upsert_merge(upsert_merge(dst, d2, ["id"], "updated"), d1, ["id"], "updated")
    assert rows_set(a) == rows_set(b)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_upsert_merge_random_property(spark, seed):
    """Random upsert sequences ≡ model last-writer-wins (SURVEY §5.4)."""
    rng = random.Random(seed)
    dst_rows = [(i, rng.randrange(100), f"d{i}") for i in rng.sample(range(30), 20)]
    delta_rows = [(i, rng.randrange(100), f"s{i}") for i in rng.sample(range(30), 15)]
    dst = spark.createDataFrame(dst_rows, SCHEMA)
    delta = spark.createDataFrame(delta_rows, SCHEMA)
    out = rows_set(upsert_merge(dst, delta, ["id"], "updated"))
    assert out == expected_lww(dst_rows, delta_rows)


def test_coalesce_merge_matches_upsert(spark):
    dst = spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], SCHEMA)
    delta = spark.createDataFrame([(2, 30, "b2"), (3, 30, "c")], SCHEMA)
    u = rows_set(upsert_merge(dst, delta, ["id"], "updated"))
    c = rows_set(coalesce_merge(dst, latest_per_key(delta, ["id"], "updated"), ["id"]))
    assert u == c


def test_latest_per_key(spark):
    df = spark.createDataFrame([(1, 1, "a"), (1, 3, "c"), (1, 2, "b")], SCHEMA)
    assert rows_set(latest_per_key(df, ["id"], "updated")) == {(1, 3, "c")}


def test_merge_schema_mismatch_raises(spark):
    dst = spark.createDataFrame([(1, 10, "a")], SCHEMA)
    bad = dst.drop("val")
    with pytest.raises(ValueError, match="schema mismatch"):
        upsert_merge(dst, bad, ["id"], "updated")
    with pytest.raises(ValueError, match="at least one key"):
        upsert_merge(dst, dst, [], "updated")


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_join_merge_random_property(spark, seed):
    """join_merge (the bucketed-destination formulation) ≡ model LWW ≡
    upsert_merge, under its contract: dst unique per key, delta
    pre-collapsed with latest_per_key."""
    from pypgsync_spark.operators.merge import join_merge

    rng = random.Random(seed)
    dst_rows = [(i, rng.randrange(100), f"d{i}") for i in rng.sample(range(30), 20)]
    delta_rows = [(i, rng.randrange(100), f"s{i}") for i in rng.sample(range(30), 15)]
    dst = spark.createDataFrame(dst_rows, SCHEMA)
    delta = spark.createDataFrame(delta_rows, SCHEMA)
    out = rows_set(
        join_merge(dst, latest_per_key(delta, ["id"], "updated"), ["id"], "updated")
    )
    assert out == expected_lww(dst_rows, delta_rows)
    assert out == rows_set(upsert_merge(dst, delta, ["id"], "updated"))


def test_join_merge_idempotent_and_tie_source_wins(spark):
    from pypgsync_spark.operators.merge import join_merge

    dst = spark.createDataFrame([(1, 10, "dst"), (2, 20, "b")], SCHEMA)
    delta = spark.createDataFrame([(1, 10, "src"), (3, 30, "c")], SCHEMA)
    once = join_merge(dst, delta, ["id"], "updated")
    assert rows_set(once) == {(1, 10, "src"), (2, 20, "b"), (3, 30, "c")}
    twice = join_merge(once, delta, ["id"], "updated")
    assert rows_set(once) == rows_set(twice)


def test_bucket_checksums_flag_exactly_divergent_buckets(spark):
    """A bucket is flagged out-of-sync IFF its rows actually differ —
    the property that makes the digest join a safe repair targeter."""
    from pyspark.sql import functions as F

    from pypgsync_spark.operators.merge import diff_buckets

    src = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    # corrupt versions for k % 97 == 0, drop k % 101 == 0
    dst = src.filter(F.col("k") % 101 != 0).withColumn(
        "v", F.when(F.col("k") % 97 == 0, F.col("v") + 1).otherwise(F.col("v"))
    )
    out = {r["bucket"]: r["in_sync"] for r in
           diff_buckets(src, dst, "k", "v", num_buckets=16).collect()}
    bad = {k % 16 for k in range(0, 500) if k % 97 == 0 or k % 101 == 0}
    assert out == {b: b not in bad for b in range(16)}


def test_bucket_checksums_identical_sides_all_in_sync(spark):
    from pyspark.sql import functions as F

    from pypgsync_spark.operators.merge import diff_buckets

    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = diff_buckets(df, df, "k", "v", num_buckets=8)
    assert out.filter("NOT in_sync").count() == 0
    assert out.count() == 8


KEYED = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("k2", T.StringType()),
        T.StructField("updated", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)
KEYS2 = ["id", "k2"]


def rows_multiset(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@st.composite
def _sync_invariant_cases(draw):
    """A destination unique per (nullable) composite key and a delta
    whose every version is >= the destination's MAX: ties with the MAX,
    several versions of one key, NULL key parts, NULL payloads."""
    key = st.tuples(st.sampled_from([None, 0, 1, 2, 3]), st.sampled_from([None, "a", "b"]))
    val = st.one_of(st.none(), st.sampled_from(["x", "y", "z"]))
    dst_keys = draw(st.lists(key, max_size=12, unique=True))
    dst = [(i, k, draw(st.integers(0, 20)), draw(val)) for i, k in dst_keys]
    top = max((r[2] for r in dst), default=0)
    # unique (key, version) inside the delta: which of two equal-version
    # rows of one key wins is arbitrary in both merges
    delta_kv = draw(
        st.lists(
            st.tuples(key, st.integers(top, top + 3)),
            min_size=1, max_size=12, unique=True,
        )
    )
    delta = [(i, k, v, draw(val)) for (i, k), v in delta_kv]
    return dst, delta, draw(st.booleans())


@given(case=_sync_invariant_cases())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_delta_wins_merge_matches_upsert_merge(spark, case):
    """Under the sync invariant (every delta version >= the
    destination's MAX) the delta-wins merge equals upsert_merge row for
    row, broadcast key set or not."""
    dst_rows, delta_rows, bcast = case
    dst = spark.createDataFrame(dst_rows, KEYED)
    delta = spark.createDataFrame(delta_rows, KEYED)
    got = delta_wins_merge(dst, delta, KEYS2, "updated", broadcast_keys=bcast)
    assert rows_multiset(got) == rows_multiset(upsert_merge(dst, delta, KEYS2, "updated"))


def test_delta_wins_merge_never_shuffles_destination(spark, tmp_path):
    """Only the delta shuffles: the destination scan reaches the
    anti-join and the union with no exchange above it, and the result
    has no more partitions (files, once written) than the destination
    had files, or the default parallelism if that is larger."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "dst")
    spark.range(0, 2000).select(
        F.col("id"), F.lit(1).cast("long").alias("updated"), F.lit("v").alias("val")
    ).repartition(6).write.parquet(path)
    # one scan partition per file, as for a store of multi-MB files
    # (small files would otherwise be packed into fewer partitions)
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        dst = spark.read.parquet(path)
        delta = spark.createDataFrame(
            [(5, 2, "new"), (5, 3, "newer"), (9000, 2, "ins")], SCHEMA
        )
        merged = delta_wins_merge(dst, delta, ["id"], "updated", broadcast_keys=True)
        n_parts = merged.rdd.getNumPartitions()
    finally:
        spark.conf.set(conf, before)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan
    # walk up from the destination scan: no exchange on its path
    lines = plan.splitlines()
    i = next(n for n, ln in enumerate(lines) if "FileScan" in ln and path in ln)
    depth = len(lines[i]) - len(lines[i].lstrip(" :+-"))
    for ln in reversed(lines[:i]):
        d = len(ln) - len(ln.lstrip(" :+-"))
        if d < depth:
            assert "Exchange" not in ln, plan
            depth = d
    assert n_parts <= max(6, spark.sparkContext.defaultParallelism)
    out = {r["id"]: (r["updated"], r["val"]) for r in merged.collect()}
    assert len(out) == 2001
    assert out[5] == (3, "newer") and out[9000] == (2, "ins") and out[6] == (1, "v")


def test_delta_wins_merge_runs_the_delta_window_once(spark):
    """The anti-join takes the delta's raw keys (a left-anti join
    ignores duplicates), so only the union side runs the window."""
    dst = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], SCHEMA)
    delta = spark.createDataFrame([(1, 2, "x"), (1, 3, "y"), (3, 2, "z")], SCHEMA)
    for bcast in (False, True):
        merged = delta_wins_merge(dst, delta, ["id"], "updated", broadcast_keys=bcast)
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window [") == 1, plan
        assert rows_multiset(merged) == rows_multiset(upsert_merge(dst, delta, ["id"], "updated"))
