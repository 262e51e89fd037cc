"""Slice-planning unit tests.

Mirrors the reference's tests/test_utils.py:18-26 interval tests —
including the positive-case assertions that never ran there (the second
``test_intervals`` def shadows the first; SURVEY §5) — plus
property-based coverage of the planner.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pypgsync_spark.plans.intervals import SlicePlan, closed_intervals, plan_slices


def test_closed_intervals_basic():
    assert closed_intervals(0, 10, 4) == [(0, 3), (4, 7), (8, 10)]
    assert closed_intervals(0, 0, 1) == [(0, 0)]
    assert closed_intervals(5, 5, 100) == [(5, 5)]


def test_closed_intervals_exact_fit():
    assert closed_intervals(0, 9, 5) == [(0, 4), (5, 9)]


def test_closed_intervals_invalid():
    with pytest.raises(ValueError):
        closed_intervals(0, 10, 0)
    with pytest.raises(ValueError):
        closed_intervals(10, 0, 5)


@given(
    start=st.integers(-(10**12), 10**12),
    span=st.integers(0, 10**6),
    width=st.integers(1, 10**6),
)
@settings(max_examples=200, deadline=None)
def test_closed_intervals_cover_exactly(start, span, width):
    """Ranges tile [start, end] exactly: no gaps, no overlaps."""
    end = start + span
    ivs = closed_intervals(start, end, width)
    assert ivs[0][0] == start
    assert ivs[-1][1] == end
    for (lo, hi), (lo2, hi2) in zip(ivs, ivs[1:]):
        assert lo2 == hi + 1
        assert hi - lo + 1 <= width
    assert all(hi - lo + 1 <= width for lo, hi in ivs)


def test_plan_slices_targets_rows():
    plan = plan_slices(0, 999_999, estimated_rows=30_000_000, target_rows_per_slice=10_000_000)
    assert len(plan.slices) == 3
    assert plan.slices[0][0] == 0
    assert plan.slices[-1][1] == 999_999


def test_plan_slices_noop_on_empty_delta():
    # reference session.py:216-218 short-circuit
    assert plan_slices(100, 50, estimated_rows=10).is_noop
    assert plan_slices(0, 100, estimated_rows=0).is_noop


def test_jdbc_predicates_render():
    plan = SlicePlan(low=0, high=19, estimated_rows=20, slices=[(0, 9), (10, 19)])
    assert plan.jdbc_predicates("updated") == [
        "updated >= 0 AND updated <= 9",
        "updated >= 10 AND updated <= 19",
    ]


@given(
    low=st.integers(0, 10**9),
    span=st.integers(0, 10**9),
    rows=st.integers(1, 10**9),
)
@settings(max_examples=100, deadline=None)
def test_plan_slices_always_cover(low, span, rows):
    high = low + span
    plan = plan_slices(low, high, rows, target_rows_per_slice=10_000_000)
    assert plan.slices, "non-empty delta must yield at least one slice"
    assert plan.slices[0][0] == low
    assert plan.slices[-1][1] == high
