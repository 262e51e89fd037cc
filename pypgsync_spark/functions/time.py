"""Epoch-millis time semantics.

The reference stores all event times as BIGINT epoch millis
(`created`/`updated`/`certified_by_user`, README.md:134-137) and stamps
watermarks with ``int(time.time()*1000)`` (reference pypgsync.py:13);
its SQL uses ``extract(epoch from now()) * 1000`` (README.md:148).

Spark mapping: ``unix_millis``/``timestamp_millis`` round-trip, with the
session pinned to UTC so results agree with DuckDB's UTC-naive
timestamps.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_millis(ts: Column | str) -> Column:
    """timestamp → BIGINT epoch millis (F1/F5).

    Casts TIMESTAMP_NTZ through TIMESTAMP first (``unix_millis`` only
    accepts the LTZ type); the session is pinned to UTC, so an NTZ
    wall-clock maps to the same instant DuckDB's UTC-naive timestamps
    produce.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.unix_millis(c.cast("timestamp"))


def ts_range_pred(
    ts: Column | str,
    lo_ms: int | None = None,
    hi_ms: int | None = None,
    hi_inclusive: bool = True,
) -> Column:
    """Transpose an epoch-millis range predicate onto the physical
    TIMESTAMP column so it pushes down to the parquet scan.

    The derived version column is ``updated_ms = unix_millis(ts)``,
    i.e. ``floor(micros / 1000)`` of the stored microsecond value, so:

    - ``updated_ms >= lo``  ⟺  ``ts >= timestamp_millis(lo)``
    - ``updated_ms <= hi``  ⟺  ``ts <  timestamp_millis(hi + 1)``
    - ``updated_ms <  hi``  ⟺  ``ts <  timestamp_millis(hi)``

    Exact equivalences, not approximations — the derived-column filter
    can be *replaced* by this one. Filtering on ``unix_millis(ts)``
    defeats pushdown (Catalyst does not invert the expression); a plain
    timestamp comparison reaches PushedFilters and skips row groups via
    the column's min/max statistics. The ``timestamp_millis(lit)``
    bounds constant-fold to timestamp literals at plan time.

    The bounds are cast to TIMESTAMP_NTZ (an exact instant map under
    the engine's pinned-UTC session): parquet columns written with
    isAdjustedToUTC=false — the events fixture — load as NTZ, and a
    mixed NTZ/LTZ comparison would coerce the *column* instead of the
    literal, which breaks pushdown.
    """
    c = F.col(ts) if isinstance(ts, str) else ts

    def _b(ms: int) -> Column:
        return F.timestamp_millis(F.lit(ms)).cast("timestamp_ntz")

    cond = F.lit(True)
    if lo_ms is not None:
        cond = cond & (c >= _b(lo_ms))
    if hi_ms is not None:
        cond = cond & (c < _b((hi_ms + 1) if hi_inclusive else hi_ms))
    return cond


def nanos_range_pred(
    nanos: Column | str,
    lo_ms: int | None = None,
    hi_ms: int | None = None,
    hi_inclusive: bool = True,
) -> Column:
    """Transpose an epoch-millis range predicate onto the raw epoch-
    NANOS column so it pushes down to the parquet scan.

    ``updated_ms = floor(nanos / 1e6)`` (nanos ≥ 0), so:

    - ``updated_ms >= lo``  ⟺  ``nanos >= lo·1e6``
    - ``updated_ms <= hi``  ⟺  ``nanos <  (hi+1)·1e6``
    - ``updated_ms <  hi``  ⟺  ``nanos <  hi·1e6``

    Exact equivalences, not approximations — the derived-column filter
    can be *replaced* by this one. Filtering on the derived column
    (``unix_millis(timestamp_micros(ts div 1000))``) defeats pushdown:
    the scan reads every row group and evaluates the chain per row; at
    100 TB that is the difference between reading the whole table and
    skipping all but the watermark-adjacent row groups.
    """
    c = F.col(nanos) if isinstance(nanos, str) else nanos
    cond = F.lit(True)
    if lo_ms is not None:
        cond = cond & (c >= F.lit(lo_ms * 1_000_000))
    if hi_ms is not None:
        bound = (hi_ms + 1) * 1_000_000 if hi_inclusive else hi_ms * 1_000_000
        cond = cond & (c < F.lit(bound))
    return cond


def events_range_pred(
    df,
    lo_ms: int | None = None,
    hi_ms: int | None = None,
    hi_inclusive: bool = True,
) -> Column:
    """Schema-aware epoch-millis range predicate for the events table
    that always lands on the RAW parquet column.

    Current fixtures store TIMESTAMP(MICROS): ``ts`` is the physical
    column and :func:`ts_range_pred` reaches PushedFilters. Legacy
    TIMESTAMP(NANOS) fixtures surface (via ``nanosAsLong``) as a BIGINT
    that ``catalog.ensure_events_ts`` keeps as ``ts_nanos`` while
    deriving ``ts`` — there, a predicate on the derived ``ts`` cannot
    push down, but :func:`nanos_range_pred` on ``ts_nanos`` can. Branch
    on the column's presence so both fixture generations get row-group
    skipping at the scan.
    """
    if "ts_nanos" in df.columns:
        return nanos_range_pred("ts_nanos", lo_ms, hi_ms, hi_inclusive)
    return ts_range_pred("ts", lo_ms, hi_ms, hi_inclusive)

