"""bench.py's clock and artifact naming, and bench_diff.py's metric guard;
no Spark session needed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rank_steady_figure_is_the_min_warm_cpu_delta(monkeypatch):
    # tree CPU readings around the three runs: cold 1.0 s, then warm
    # 2.5 s and 1.5 s; the cold run is the cheapest but is not steady
    readings = iter([10.0, 11.0, 11.0, 13.5, 13.5, 15.0])
    monkeypatch.setattr(bench, "tree_cpu_s", lambda pid: next(readings))
    built = []
    monkeypatch.setattr(bench, "materialize", built.append)
    fig = bench.time_rank("spark", lambda spark, sf: (spark, sf))
    assert built == [("spark", bench.SF_DIR)] * 3
    assert (fig["cold_cpu"], fig["cpu"]) == (1.0, 1.5)
    assert 0 <= fig["wall"] and 0 <= fig["cold_wall"]
    assert next(readings, None) is None


def test_artifact_path_skips_existing_rounds(tmp_path):
    assert bench.artifact_path(str(tmp_path)) == str(tmp_path / "bench_local_r01.json")
    for name in (
        "bench_local_r09.json",
        "bench_local_r16.json",
        "bench_local_r17_scratch.json",
        "BENCH_r30.json",
        "bench_local_notes.json",
    ):
        (tmp_path / name).write_text("{}")
    assert bench.artifact_path(str(tmp_path)) == str(tmp_path / "bench_local_r18.json")


def _artifact(path, metric, queries):
    path.write_text(json.dumps({"metric": metric, "queries": queries}))
    return str(path)


def _bench_diff(old, new):
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "bench_diff.py"), old, new],
        capture_output=True, text=True, timeout=120,
    )


def test_bench_diff_refuses_artifacts_of_different_metrics(tmp_path):
    wall = _artifact(tmp_path / "w.json", "headline_queries_wall_clock_steady", {"a1_x": 1.0})
    cpu = _artifact(tmp_path / "c.json", "headline_queries_cpu_steady", {"a1_x": 2.0})
    cpu2 = _artifact(tmp_path / "c2.json", "headline_queries_cpu_steady", {"a1_x": 2.2})
    refused = _bench_diff(wall, cpu)
    assert refused.returncode != 0
    assert "compare two artifacts of the same metric" in refused.stderr
    assert refused.stdout == ""
    same = _bench_diff(cpu, cpu2)
    assert same.returncode == 0, same.stderr
    assert "shared ranks: 1" in same.stdout
