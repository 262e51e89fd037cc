"""Slice planning: split a watermark delta into bounded sub-ranges.

Semantics reproduced from the reference (cited for parity, not copied):

- ``closed_intervals``: the reference's ``utils.intervals`` (reference
  utils.py:29-38) yields closed integer sub-ranges ``[start, end]`` of a
  given width covering ``[start, end]``; adjacent ranges do not overlap
  (next start = previous end + 1). Used to bound each sync slice.
- ``plan_slices``: the reference's ``calculate_optimal_slices``
  (reference session.py:201-240) targets ~10M rows per slice by scaling
  the value-range by estimated-rowcount; short-circuits to an empty plan
  when the low watermark has caught up with the source max (reference
  session.py:216-218).

In Spark these bounds become either JDBC partition predicates
(``spark.read.jdbc(..., predicates=...)``) — the *native* version of the
reference's slice machinery — or simple range filters on a parquet scan,
where AQE + ``spark.sql.files.maxPartitionBytes`` already bound
per-task work and the plan is only needed for faithful JDBC reads.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


TARGET_ROWS_PER_SLICE = 10_000_000  # reference session.py:236-238

# Hard ceiling on slices per plan. The slice list lives on the DRIVER
# (it becomes spark.read.jdbc(predicates=...) — one partition each), so
# an adversarial rows/target ratio must not materialize a billion-entry
# Python list there; 100k partitions already saturates any realistic
# executor fleet, and wider slices simply let AQE split further
# downstream. The reference has no such guard (session.py:236-238
# divides unchecked) — a deliberate scale-safety divergence.
MAX_SLICES_PER_PLAN = 100_000


def closed_intervals(start: int, end: int, width: int) -> list[tuple[int, int]]:
    """Closed, non-overlapping integer sub-ranges of ``[start, end]``.

    Each range spans at most ``width`` values; the last range is clamped
    to ``end``. Mirrors reference utils.py:29-38 semantics.

    >>> closed_intervals(0, 10, 4)
    [(0, 3), (4, 7), (8, 10)]
    """
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")
    if end < start:
        raise ValueError(f"end ({end}) must be >= start ({start})")
    out: list[tuple[int, int]] = []
    lo = start
    while lo <= end:
        hi = min(lo + width - 1, end)
        out.append((lo, hi))
        lo = hi + 1
    return out


@dataclass
class SlicePlan:
    """A planned set of closed value-ranges on the watermark column."""

    low: int
    high: int
    estimated_rows: int
    slices: list[tuple[int, int]] = field(default_factory=list)

    @property
    def is_noop(self) -> bool:
        return not self.slices

    def jdbc_predicates(self, column: str) -> list[str]:
        """Render as ``spark.read.jdbc(predicates=...)`` WHERE clauses —
        one partition per slice, the Spark-native form of the
        reference's per-slice scan (reference session.py:127-133)."""
        return [f"{column} >= {lo} AND {column} <= {hi}" for lo, hi in self.slices]


def plan_slices(
    low: int,
    high: int,
    estimated_rows: int,
    target_rows_per_slice: int = TARGET_ROWS_PER_SLICE,
    max_slices: int = MAX_SLICES_PER_PLAN,
) -> SlicePlan:
    """Split ``[low, high]`` into slices of ~``target_rows_per_slice``.

    ``estimated_rows`` is the estimated delta cardinality — from parquet
    metadata / Catalyst stats in this engine, where the reference parsed
    ``EXPLAIN`` output (reference session.py:219-234). Assumes roughly
    uniform density of the watermark column over the range, as the
    reference does (reference session.py:236-238). The slice count is
    clamped to ``max_slices`` (see :data:`MAX_SLICES_PER_PLAN`): the
    plan is driver-resident metadata and must stay metadata-sized no
    matter how degenerate the rows/target ratio is.
    """
    if low > high or estimated_rows <= 0:
        return SlicePlan(low=low, high=high, estimated_rows=max(estimated_rows, 0))
    n_slices = max(1, min(math.ceil(estimated_rows / target_rows_per_slice), max_slices))
    span = high - low + 1
    width = max(1, math.ceil(span / n_slices))
    return SlicePlan(
        low=low,
        high=high,
        estimated_rows=estimated_rows,
        slices=closed_intervals(low, high, width),
    )
