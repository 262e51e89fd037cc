"""The --round-artifact ambient-load gate (r10 verdict #7).

A committed bench artifact started on a busy box poisons the next
round's comparison (CLAUDE.md ambient-drift triage). The gate must
refuse BEFORE Spark starts — a refused run must cost seconds, not
minutes — and scratch runs (no flag) must never be gated.
"""

from __future__ import annotations

import pytest

import bench


class _SparkMustNotStart(AssertionError):
    pass


def _block_spark(monkeypatch):
    def boom(*a, **k):  # pragma: no cover - only hit on gate failure
        raise _SparkMustNotStart("get_spark called despite load gate")

    monkeypatch.setattr(bench, "get_spark", boom)


def test_round_artifact_refuses_on_high_load(monkeypatch, capsys):
    # no start-of-run quiet wait: it would sleep out its whole budget
    monkeypatch.setenv("SPARK_GRAFT_START_QUIET_BUDGET", "0")
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (4.2, 3.0, 2.0))
    monkeypatch.setattr(bench.sys, "argv", ["bench.py", "--round-artifact"])
    _block_spark(monkeypatch)
    with pytest.raises(SystemExit) as ei:
        bench.main()
    assert ei.value.code == 2
    err = capsys.readouterr().err
    assert "REFUSED" in err and "4.2" in err


def test_scratch_run_not_gated_by_load(monkeypatch):
    """No flag -> the gate must not trip; Spark startup is the next
    thing main() does, so the sentinel raising IS the pass signal."""
    monkeypatch.setenv("SPARK_GRAFT_START_QUIET_BUDGET", "0")
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.9, 9.9, 9.9))
    monkeypatch.setattr(bench.sys, "argv", ["bench.py"])
    _block_spark(monkeypatch)
    with pytest.raises(_SparkMustNotStart):
        bench.main()


def test_round_artifact_passes_on_quiet_box(monkeypatch):
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.5, 0.5, 0.5))
    monkeypatch.setattr(bench.sys, "argv", ["bench.py", "--round-artifact"])
    _block_spark(monkeypatch)
    with pytest.raises(_SparkMustNotStart):
        bench.main()
