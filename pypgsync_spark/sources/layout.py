"""Z-order clustering: multi-column data skipping for the destination.

A date-partitioned destination (sources/partitioned.py) prunes on ONE
dimension; queries that also filter on a second column (user_id, key
range) still scan every file inside the surviving partitions. Z-order
interleaves the bits of several columns into one clustering key, so
sorting by it makes files/row-groups tight in EVERY participating
dimension at once — parquet min/max stats then skip row groups for
predicates on ANY of the z-columns. This is the layout move behind
Delta/Iceberg ``ZORDER BY``/sort-order tables, implemented here as
plain Column expressions + a range-partitioned sorted write, so it
needs no table format.

Implementation notes:

- Each column is first scaled onto a ``bits``-bit grid from explicit
  [lo, hi] bounds (``zorder_key_fixed``; bounds from table stats or
  ``approxQuantile`` cut points computed once per table, zero windows)
  — raw values would let one wide column dominate the interleave.
- The interleave itself is a pure, codegen'd integer expression:
  bit i of column j lands at position ``i * n_cols + j``.
- ``write_zordered`` = ``repartitionByRange(z)`` (range-partitioned
  files) + ``sortWithinPartitions(z)`` (tight row groups inside each
  file) + parquet write. Readers need no changes: skipping happens in
  the scan from footer stats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interleave(grids: list[Column], bits: int) -> Column:
    n = len(grids)
    # A signed-long z key has 63 usable bit positions: position
    # i*n + j must stay < 63, or bit 63 (the SIGN bit) flips rows in
    # the upper half of a column's range to NEGATIVE z — sorting them
    # FIRST and breaking the curve — and positions >= 64 wrap mod 64
    # (Java <<), aliasing high bits onto low ones (r10 review: the
    # default bits=16 already overflows at 4 columns). Auto-reduce to
    # the usable precision, dropping each grid's LEAST significant
    # bits — the high bits carry the coarse spatial structure min/max
    # skipping uses, so this degrades resolution, never correctness.
    usable = 63 // n
    if bits > usable:
        grids = [F.shiftrightunsigned(g, bits - usable) for g in grids]
        bits = usable
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, g in enumerate(grids):
            bit = F.shiftrightunsigned(g, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.shiftleft(bit.cast("long"), i * n + j)
            )
    return z


def zorder_key_fixed(
    cols: list[tuple[str, float, float]], bits: int = 16
) -> Column:
    """Z-value from explicit per-column [lo, hi] bounds — the
    production form (bounds from table stats / approxQuantile, no
    window). ``cols``: [(name, lo, hi), ...]."""
    grids = []
    for name, lo, hi in cols:
        span = max(hi - lo, 1e-12)
        frac = (F.col(name).cast("double") - F.lit(float(lo))) / F.lit(float(span))
        clamped = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        grids.append(
            F.least(
                (clamped * ((1 << bits) - 1)).cast("long"),
                F.lit((1 << bits) - 1),
            )
        )
    return _interleave(grids, bits)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[tuple[str, float, float]],
    n_files: int = 8,
) -> None:
    """Write ``df`` z-clustered on ``cols`` (name, lo, hi triples):
    range-partitioned into ~``n_files`` files by z-value (the sort
    column is projected away after the in-partition sort), so parquet
    footer min/max stats are tight in every z dimension and the scan
    skips row groups for predicates on ANY of them."""
    z = zorder_key_fixed(cols)
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode("overwrite").parquet(path)
