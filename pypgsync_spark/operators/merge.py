"""Key-based merge (upsert) — the relational core of the reference.

The reference upserts source rows into the destination with
``INSERT ... ON CONFLICT (pk) DO UPDATE`` (reference session.py:135-151)
and relies on ``ORDER BY updated ASC`` application order for
convergence (reference session.py:126-133). Spark executes unordered,
so we express the same end state *declaratively*: last-writer-wins by a
version column, source beating destination on ties. This removes the
order-dependence entirely (same fixed point, no sequencing needed) —
a property tested in tests/test_merge.py.

Physical formulations:

- ``upsert_merge``: ``unionByName`` + ``row_number() over (partition by
  pk order by version desc, source-priority desc) == 1``. One shuffle,
  works for any column set, scales to arbitrarily many duplicates per
  key. This is the default.
- ``coalesce_merge``: ``full_outer`` join + per-column ``coalesce`` —
  the MERGE INTO shape (delta wins unconditionally; see its docstring
  for the version-ordering precondition that makes it equivalent, and
  for why there is NO broadcast fast path — full-outer joins cannot
  broadcast). ``join_merge`` is the version-GUARDED join form whose
  full-outer sort-merge exploits a bucketed destination (only the
  delta shuffles).
- ``delta_wins_merge``: the sync loop's form. Under the low-watermark
  invariant (every delta version >= the destination's MAX) the delta
  wins every key it carries, so the destination needs no shuffle at
  all: a left-anti join against the delta's keys, plus the delta.

At 100 TB the winning strategy is to keep the destination bucketed (or
Delta/Iceberg-partitioned) on the merge key so the union-window shuffle
only moves the delta.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PRIORITY = "__merge_src_priority"
_RN = "__merge_rn"


def upsert_merge(
    dst: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    version_col: str,
) -> DataFrame:
    """Last-writer-wins merge of ``delta`` onto ``dst`` keyed on ``keys``.

    For each key, keep the row with the greatest ``version_col``;
    when versions tie, the delta row wins (upsert overwrite semantics,
    reference session.py:142-144).
    """
    if not keys:
        raise ValueError("merge requires at least one key column")
    cols = dst.columns
    if set(cols) != set(delta.columns):
        raise ValueError(f"schema mismatch: dst={cols} delta={delta.columns}")
    unioned = dst.withColumn(_PRIORITY, F.lit(0)).unionByName(
        delta.select(*cols).withColumn(_PRIORITY, F.lit(1))
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(version_col).desc(), F.col(_PRIORITY).desc()
    )
    return (
        unioned.withColumn(_RN, F.row_number().over(w))
        .filter(F.col(_RN) == 1)
        .drop(_RN, _PRIORITY)
    )


def coalesce_merge(
    dst: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """``MERGE INTO``-shaped full-outer merge: delta column wins where
    present, else destination. Assumes ``delta`` has at most one row per
    key (pre-dedup with ``latest_per_key`` otherwise).

    CONTRACT (r10 review): this is MERGE INTO semantics — the delta row
    wins UNCONDITIONALLY, with no version comparison. It converges to
    :func:`upsert_merge`'s table only under the sync protocol's
    invariant: the delta is latest-per-key AND every delta version is
    >= the destination's for that key (exactly what the low-watermark
    read guarantees, and what the s3b oracle exercises). A replayed or
    out-of-order STALE delta regresses newer destination rows here —
    use :func:`upsert_merge` or :func:`join_merge` (version-guarded)
    when that can happen. Also inherent to the coalesce shape: a NULL
    in a delta column resurrects the destination value, so it cannot
    express set-to-NULL updates.

    No broadcast path: Spark cannot broadcast either side of a
    FULL OUTER join (the hint is ignored with a warning and the plan
    stays SortMergeJoin — r10 review, plan-probed on 4.1.2), so the
    former ``broadcast_delta`` flag was a silent no-op and is gone.
    Small-delta fast paths belong to :func:`join_merge` on a bucketed
    destination (no dst shuffle) or plain :func:`upsert_merge`."""
    cols = dst.columns
    joined = dst.alias("d").join(delta.alias("s"), on=list(keys), how="full_outer")
    picked = [
        F.coalesce(F.col(f"s.{c}"), F.col(f"d.{c}")).alias(c)
        for c in cols
        if c not in keys
    ]
    return joined.select(*[F.col(k) for k in keys], *picked).select(*cols)


def join_merge(
    dst: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    version_col: str,
) -> DataFrame:
    """Last-writer-wins merge as a full-outer JOIN (not union+window).

    Same fixed point as :func:`upsert_merge` when ``dst`` has one row
    per key (always true for a synced destination) and ``delta`` is
    pre-collapsed with :func:`latest_per_key`: per key, the delta row
    wins iff its version is >= the destination's (source beats
    destination on ties, reference session.py:142-144).

    Why it exists: the join formulation is the one that can exploit a
    bucketed destination (sources/bucketed.py). union+window always
    re-shuffles the union output — bucketing info does not survive a
    union — while a full-outer sort-merge join against a table bucketed
    on ``keys`` plans with NO exchange on the destination side; only
    the delta shuffles.
    """
    if not keys:
        raise ValueError("merge requires at least one key column")
    cols = dst.columns
    if set(cols) != set(delta.columns):
        raise ValueError(f"schema mismatch: dst={cols} delta={delta.columns}")
    joined = dst.alias("d").join(delta.alias("s"), on=list(keys), how="full_outer")
    take_s = F.col(f"s.{version_col}").isNotNull() & (
        F.col(f"d.{version_col}").isNull()
        | (F.col(f"s.{version_col}") >= F.col(f"d.{version_col}"))
    )
    picked = [
        F.when(take_s, F.col(f"s.{c}")).otherwise(F.col(f"d.{c}")).alias(c)
        for c in cols
        if c not in keys
    ]
    return joined.select(*[F.col(k) for k in keys], *picked).select(*cols)


def delta_wins_merge(
    dst: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    version_col: str,
    broadcast_keys: bool = False,
) -> DataFrame:
    """The sync loop's upsert: every key the delta carries takes its
    latest delta row, every other destination row stays as it is.

    PRECONDITION: every delta version is >= the destination's MAX
    version — exactly what the low-watermark read guarantees (the delta
    is ``version >= MAX(dst.version)``). The delta then wins every key
    it carries, ties included, so with ``dst`` unique per key the
    result equals :func:`upsert_merge`'s row for row
    (tests/test_merge.py::test_delta_wins_merge_matches_upsert_merge).
    Unlike :func:`coalesce_merge` it replaces whole rows, so a NULL in
    a delta column is written as NULL.

    Plan: ``dst`` left-anti ``keys(delta)`` union
    ``latest_per_key(delta)``, keys matched null-safely the way the
    window in :func:`upsert_merge` groups NULL keys. The anti-join side
    takes the delta's keys as they are: a left-anti join ignores
    duplicate keys, so the window runs once, for the union side. Only
    the delta shuffles (the window) when the key set is broadcast: the
    planner does so when its estimate fits the threshold, and
    ``broadcast_keys`` forces it for a caller that knows the delta is
    small (sync_once, from its exact row count). The destination then
    streams through a map-side anti-join instead of being re-shuffled
    with the union.
    """
    if not keys:
        raise ValueError("merge requires at least one key column")
    cols = dst.columns
    if set(cols) != set(delta.columns):
        raise ValueError(f"schema mismatch: dst={cols} delta={delta.columns}")
    latest = latest_per_key(delta.select(*cols), keys, version_col)
    delta_keys = delta.select(*keys)
    if broadcast_keys:
        delta_keys = F.broadcast(delta_keys)
    hit = [F.col(f"d.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    kept = dst.alias("d").join(delta_keys.alias("s"), hit, "left_anti")
    # The union appends the delta's partitions to the destination's; a
    # narrow coalesce back to the destination's file count (never below
    # the default parallelism) keeps a store's file count flat pass
    # after pass instead of growing by the delta's partitions.
    parts = max(len(dst.inputFiles()), dst.sparkSession.sparkContext.defaultParallelism)
    return kept.select(*cols).unionByName(latest).coalesce(parts)


def latest_per_key(df: DataFrame, keys: Sequence[str], version_col: str) -> DataFrame:
    """Collapse to one row per key: greatest ``version_col`` wins."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(version_col).desc())
    return df.withColumn(_RN, F.row_number().over(w)).filter(F.col(_RN) == 1).drop(_RN)


def bucket_checksums(
    df: DataFrame,
    id_col: str,
    version_col: str,
    num_buckets: int = 64,
) -> DataFrame:
    """Merkle-style bucket digests: ``(bucket, n, checksum)`` where
    ``bucket = id % num_buckets``, ``n`` the bucket's row count and
    ``checksum`` the SUM of a 48-bit md5-derived integer of each row's
    ``(id, version)`` pair. Engine-portable (md5 over decimal strings;
    no xxhash), order-free (sum), and overflow-safe at ANY bucket
    sizing: the 2⁴⁸-bounded terms accumulate as ``decimal(38,0)``
    (matching DuckDB's SUM(BIGINT)→HUGEINT promotion), which holds
    ~10²³ rows per bucket before overflow — a BIGINT accumulator would
    wrap past ~2¹⁵ rows/bucket, trivially reached at scale with the
    default 64 buckets.

    The anti-entropy primitive: computing digests on BOTH sides of a
    sync costs one map-side-combined aggregate each — the shuffle
    carries ``num_buckets`` rows, never data — and a digest mismatch
    pins the repair scan to the divergent buckets alone. This is how a
    validator checks a 100 TB destination without re-reading it
    against the source row-by-row.
    """
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col(id_col).cast("string"),
                        F.col(version_col).cast("string"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
    )
    return df.groupBy((F.col(id_col) % num_buckets).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("checksum"),
    )


def diff_buckets(
    src: DataFrame,
    dst: DataFrame,
    id_col: str,
    version_col: str,
    num_buckets: int = 64,
) -> DataFrame:
    """Compare source and destination bucket digests: one row per
    bucket with both sides' counts and an ``in_sync`` verdict. Buckets
    flagged False are the only ones a repair pass needs to re-read —
    the reference's full-table re-sync collapsed to a targeted scan.
    """
    s = bucket_checksums(src, id_col, version_col, num_buckets).select(
        "bucket",
        F.col("n").alias("src_n"),
        F.col("checksum").alias("src_sum"),
    )
    d = bucket_checksums(dst, id_col, version_col, num_buckets).select(
        "bucket",
        F.col("n").alias("dst_n"),
        F.col("checksum").alias("dst_sum"),
    )
    j = s.join(d, on="bucket", how="full_outer")
    return j.select(
        "bucket",
        F.coalesce("src_n", F.lit(0)).alias("src_n"),
        F.coalesce("dst_n", F.lit(0)).alias("dst_n"),
        (
            (F.coalesce("src_n", F.lit(0)) == F.coalesce("dst_n", F.lit(0)))
            & (
                F.coalesce("src_sum", F.lit(0))
                == F.coalesce("dst_sum", F.lit(0))
            )
        ).alias("in_sync"),
    )
