#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one closed-loop client on
``local[<cores>]``, two workloads, outputs checked on every run.

    python3 perfbench/run.py --workload sync_soak --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
same workload with spans and the Spark event log on and prints the
per-layer metrics instead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Workloads, metrics
and the layer -> end-to-end map are described in perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("sync_soak", "dedup_catalog")
# Input sizes: rows of the synced table, documents.
SCALES = {
    "full": {"sync_rows": 200_000, "docs": 3000},
    "tiny": {"sync_rows": 5_000, "docs": 40},
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", metavar="CHECK",
                    help="falsify one check's expected value (self-test)")
    return ap.parse_args(argv)


def _pin_env(work: str) -> None:
    """Everything the run writes stays under ``work``; Spark runs on
    every core this process may use; Python workers import the engine
    from this checkout whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    # Fixed JIT compiler threads: their CPU is left out of the CPU
    # metrics, which needs them to live as long as the JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    sys.path.insert(0, ROOT)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of every CPU so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (evidence
    of host load, like the load averages)."""
    return (end[0] - start[0]) / max(1, end[1] - start[1])


def _stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes)
    and wait for it and the Python worker daemon it started."""
    from pyspark import SparkContext

    from common import proc_stats

    workers = [p for p, (ppid, _) in proc_stats().items() if ppid == jvm_pid]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


def _workload(run, name: str, scale: dict) -> None:
    import catalog_ops
    import soak

    if name == "sync_soak":
        soak.run_sync_soak(run, scale["sync_rows"])
    else:
        catalog_ops.run_dedup(run, scale["docs"])


def _layer_metrics(run, workload: str, events: list[dict]) -> dict:
    """Per-layer figures of a traced run: times are per operation
    (means over the timed operations), counts likewise."""
    import spans

    ops = sorted(run.ops)
    per_op = spans.engine_metrics(events, [run.ops[o] for o in ops])
    n = max(1, len(ops))

    def mean(key):
        return sum(d[key] for d in per_op) / n

    out = {
        f"{name}_s": v / n for name, v in run.tracer.self_seconds(set(ops)).items()
    }
    for k in spans.SPARK_KEYS:
        out[f"spark.{k}"] = mean(k)
    if workload == "dedup_catalog":
        cand, ver = mean("candidate_pairs"), mean("verified_pairs")
        out.update(
            {
                "dedup.python_s": mean("python_s"),
                "dedup.candidate_pairs": cand,
                "dedup.verified_pairs": ver,
                "dedup.verified_ratio": ver / cand if cand else 0.0,
            }
        )
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "pypgsync_spark", "session.py")):
        print(f"perfbench: no pypgsync_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    load_start, steal_start = os.getloadavg()[0], _cpu_steal()
    t_import = time.perf_counter()
    _pin_env(work)
    try:
        result = _run(args, work, t_import)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(
        f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace} "
        f"error_rate={result['failed'] / result['attempted']:.4f} "
        f"load1_start={load_start:.2f} load1_end={os.getloadavg()[0]:.2f} "
        f"steal={_steal_share(steal_start, _cpu_steal()):.3f} "
        f"samples={result.pop('samples')} {result.pop('phases')}"
    )
    print(json.dumps(result))
    return 0


def _run(args, work: str, t_import: float) -> dict:
    from common import Run
    from pypgsync_spark.session import get_spark

    import_s = time.perf_counter() - t_import
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    tracer = None
    if args.trace:
        import soak
        import spans

        tracer = spans.Tracer()
        conf.update(spans.event_log_conf(os.path.join(work, "eventlog")))
        os.makedirs(os.path.join(work, "eventlog"))
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    run = Run(spark, args.seed, args.seconds, work, tracer, args.corrupt)
    try:
        if tracer:
            soak.trace_sync(run)
        _workload(run, args.workload, SCALES[args.scale])
    finally:
        if tracer:
            tracer.restore()
        jvm_hwm_kb = _vm_hwm_kb(jvm_pid)
        _stop_spark(spark, jvm_pid)

    setup_wall_s = import_s + get_spark_s + run.setup["stage_s"] + run.setup["first_call_s"]
    py_rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    round_s, n = run.e2e["round_s"]
    if args.trace:
        events = spans.read_event_log(os.path.join(work, "eventlog"))
        metrics = _layer_metrics(run, args.workload, events)
        metrics.update(run.layer)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["session.first_call_s"] = run.setup["first_call_s"]
        metrics["mem.peak_rss_mb"] = (jvm_hwm_kb + py_rss_kb) / 1024
        metrics["trace.round_s"] = round_s
        metrics["trace.round_cpu_s"] = run.e2e["round_cpu_s"]
    else:
        metrics = {"round_cpu_s": run.e2e["round_cpu_s"], "setup_s": run.setup["cpu_s"]}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        # a layer the workload never reaches reports 0
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared
        },
        "samples": n,
        "phases": f"round_s={round_s:.3f} setup_wall_s={setup_wall_s:.2f} "
        f"import_s={import_s:.2f} get_spark_s={get_spark_s:.2f} "
        f"stage_s={run.setup['stage_s']:.2f} first_call_s={run.setup['first_call_s']:.2f}",
    }


if __name__ == "__main__":
    sys.exit(main())
