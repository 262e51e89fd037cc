"""A/B a session-conf change over named catalog queries (guide §1).

Runs each query through the noop sink min-of-N in a DEFAULT session,
stops it, then repeats in a session with the extra confs applied.
Same-box, back-to-back, warm-within-session — the like-for-like
comparison CLAUDE.md's triage rules require for conf experiments.

Usage:
    python scripts/ab_conf.py --conf spark.x=y [--conf ...] [--n 3] q1 q2 ...
    (B-only re-run: --skip-a)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pypgsync_spark.queries import REGISTRY  # noqa: E402
from pypgsync_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_side(names: list[str], conf: dict[str, str], n: int, label: str) -> dict:
    spark = get_spark(app_name=f"ab_conf_{label}", extra_conf=conf or None)
    spark.sparkContext.setLogLevel("ERROR")
    REGISTRY["a6_count_star"].fn(spark, SF_DIR).count()  # warm
    out: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].fn
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()  # cold
        samples = []
        for _ in range(n):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        out[name] = min(samples)
        print(f"# {label} {name}: min {min(samples):.3f} of "
              f"{[round(s, 3) for s in samples]}", file=sys.stderr)
    spark.stop()
    return out


def main() -> None:
    args = sys.argv[1:]
    conf: dict[str, str] = {}
    n = 3
    skip_a = False
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--conf":
            k, v = args[i + 1].split("=", 1)
            conf[k] = v
            i += 2
        elif args[i] == "--n":
            n = int(args[i + 1])
            i += 2
        elif args[i] == "--skip-a":
            skip_a = True
            i += 1
        else:
            names.append(args[i])
            i += 1
    a = {} if skip_a else run_side(names, {}, n, "A(default)")
    b = run_side(names, conf, n, "B(conf)")
    print(f"\n{'query':40s} {'A':>8s} {'B':>8s} {'B/A':>6s}")
    for name in names:
        av = a.get(name)
        print(f"{name:40s} {av if av is not None else float('nan'):8.3f} "
              f"{b[name]:8.3f} "
              f"{(b[name] / av if av else float('nan')):6.2f}")
    if a:
        print(f"{'TOTAL':40s} {sum(a.values()):8.3f} {sum(b.values()):8.3f} "
              f"{sum(b.values()) / max(sum(a.values()), 1e-9):6.2f}")


if __name__ == "__main__":
    main()
