"""Skew mitigation operators — the 100 TB hot-key toolkit.

Spark handles two skew cases automatically: algebraic aggregates
(map-side partial aggregation means a hot group arrives at its reducer
pre-combined) and AQE skew-join splitting for sort-merge joins
(``spark.sql.adaptive.skewJoin.enabled``, on in our session). The
cases it does NOT handle — and these operators do — are:

- **broadcast-ineligible joins with hot keys**: when the build side is
  too big to broadcast and one probe key holds a large fraction of all
  rows, one reducer gets that fraction of the shuffle.
  :func:`salted_inner_join` spreads each hot key over ``n_salt``
  reducers by salting the probe side and replicating the build side
  ``n_salt``× — identical results, bounded per-task input.
- **exact COUNT(DISTINCT) per hot key**: planned as an expand +
  two-phase aggregate by Catalyst, but the distinct-value shuffle for
  one hot key still lands on one task.
  :func:`distinct_count_two_stage` shuffles on (key, value) first —
  cardinality shrinks at the combiner, and the hot key's values spread
  over the full cluster — then counts per key.

Both are result-identical to the naive formulation (oracle-checked);
only the physical distribution differs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(n_salt: int) -> Column:
    """Uniform salt in [0, n_salt): spreads a hot key's rows across
    ``n_salt`` reducers. ``rand(42)`` — the salt value itself is not
    reproducible across repartitionings, which is fine: every salt
    assignment yields the same join/aggregate result."""
    return F.floor(F.rand(42) * n_salt).cast("int")


def salted_inner_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salt: int = 8,
) -> DataFrame:
    """Inner equi-join with the left (large/skewed) side salted and the
    right side replicated ``n_salt``× — each hot join key spreads over
    ``n_salt`` tasks instead of hammering one.

    Cost model: right-side shuffle volume grows ``n_salt``×, so use
    this when the right side is far smaller than the hot key's row
    count but too big (or too mid-plan) to broadcast. Equivalent to a
    plain inner join on ``on`` — verified by oracle.
    """
    l_salted = left.withColumn("__salt", salt_column(n_salt))
    r_replicated = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return l_salted.join(r_replicated, on=on + ["__salt"], how="inner").drop("__salt")


def distinct_count_two_stage(
    df: DataFrame, key: str, value: str, out: str = "n_distinct"
) -> DataFrame:
    """Exact per-key COUNT(DISTINCT value) as two shuffles:
    ``groupBy(key, value)`` (combiner dedups map-side; a hot key's
    values hash across all reducers) then ``groupBy(key).count``
    (input already collapsed to one row per distinct pair)."""
    return (
        df.groupBy(key, value)
        .agg(F.lit(1))
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias(out))
    )
