"""Top-k operators (SURVEY §2.6, README Q3b shape).

The reference's Q3b answers "latest 10 certified transactions for one
user" with a composite index + backward index scan (README.md:250-272).
Spark-native equivalents:

- single-key top-k: ``filter → orderBy desc → limit k`` — Catalyst
  plans ``TakeOrderedAndProject`` (a true streaming top-k heap per
  partition + merge on driver; no full sort, no index needed).
- per-key top-k: ``row_number() over (partition by key order by ...)``
  filtered to ``<= k`` — one shuffle on the key, heap-bounded per
  group via WindowGroupLimit pushdown in Spark 3.5+.

All order-bys carry a unique tie-break column so results are
deterministic (required by the value-hash oracle comparison).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: plans as TakeOrderedAndProject."""
    return df.orderBy(*order).limit(k)


def topk_per_key(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column], k: int
) -> DataFrame:
    """Top-k rows per key group, ranked in column ``rn``."""
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
