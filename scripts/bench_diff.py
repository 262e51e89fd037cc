"""Per-query bench comparison with fingerprint-aware triage.

Compares two bench_local_r*.json artifacts and classifies every
regression above the threshold:

- ``CODE``  — the query's closure fingerprint changed between the green
  record (FINGERPRINTS.json) and HEAD: a real bisect candidate.
- ``AMBIENT`` — the closure is bit-identical to the recorded green
  fingerprint: there is nothing to bisect (the r7→r8 v2b lesson —
  shared-box load moves untouched queries ±7% to +70% in wall time).
- ``NEW`` — no baseline figure to compare against.

Both artifacts must record the same ``metric``: up to
bench_local_r16.json they hold wall seconds
(``headline_queries_wall_clock_steady``), from r17 on CPU seconds
(``headline_queries_cpu_steady``).

Usage:
    python scripts/bench_diff.py bench_local_r08.json bench_local_r09.json
    python scripts/bench_diff.py --threshold 1.25 OLD NEW
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.3,
                    help="flag ratios above this (default 1.3)")
    ap.add_argument("--min-sec", type=float, default=0.5,
                    help="ignore queries under this baseline time "
                    "(sub-second jitter band, default 0.5)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, args.old)) as f:
        old_doc = json.load(f)
    with open(os.path.join(ROOT, args.new)) as f:
        new_doc = json.load(f)
    # a ratio of CPU seconds to wall seconds means nothing
    if old_doc.get("metric") != new_doc.get("metric"):
        sys.exit(
            f"bench_diff: {args.old} records {old_doc.get('metric')!r} but "
            f"{args.new} records {new_doc.get('metric')!r}; compare two "
            "artifacts of the same metric"
        )
    old, new = old_doc["queries"], new_doc["queries"]

    from pypgsync_spark.queries import REGISTRY, _recorded_fingerprints
    from pypgsync_spark.queries.fingerprint import spec_fingerprint

    rec = _recorded_fingerprints()

    shared = sorted(k for k in new if k in old)
    print(f"shared ranks: {len(shared)}  "
          f"old total {sum(old[k] for k in shared):.1f}s  "
          f"new total {sum(new[k] for k in shared):.1f}s")

    flagged = []
    for k in shared:
        # skip only when BOTH sides sit in the jitter band — a query
        # that LEAVES the band (0.45s -> 30s, the r7 HOF-trap shape)
        # is exactly what this tool must flag
        if old[k] < args.min_sec and new[k] < args.min_sec:
            continue
        ratio = new[k] / old[k] if old[k] else float("inf")
        if ratio < args.threshold:
            continue
        spec = REGISTRY.get(k)
        if spec is None:
            cls = "RETIRED"
        elif k not in rec:
            cls = "NEW"
        else:
            cur = spec_fingerprint(spec.fn, spec.oracle)
            cls = "AMBIENT" if cur == rec[k].get("fp") else "CODE"
        flagged.append((ratio, k, old[k], new[k], cls))

    for ratio, k, a, b, cls in sorted(flagged, reverse=True):
        print(f"  {cls:7s} {k}: {a:.2f} -> {b:.2f} ({ratio:.2f}x)")
    n_code = sum(1 for f in flagged if f[4] == "CODE")
    print(f"{len(flagged)} flagged, {n_code} closure-changed (bisect these); "
          "AMBIENT = fingerprint-identical to the recorded green round")


if __name__ == "__main__":
    main()
