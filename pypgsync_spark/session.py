"""SparkSession factory.

One place to set the knobs that matter for both the local test harness
and a real multi-executor cluster:

- UTC session timezone (oracle comparability: DuckDB timestamps are
  UTC-naive).
- AQE on (runtime coalescing, skew-join splitting) — the Spark-native
  replacement for the reference's hand-rolled EXPLAIN-based slice
  planning (reference session.py:201-240).
- shuffle partitions sized to cores locally; on a cluster AQE's
  coalescing makes the initial number far less critical.
- Arrow enabled for the Pandas-UDF paths (similarity/multimodal).
- Python workers forked by ``pyworker`` (skips the per-task re-read of
  ``pyspark.zip``); workers must be able to import ``pypgsync_spark``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# AQE coalesces post-shuffle partitions by BYTES (parallelismFirst
# packs ~minPartitionSize per partition, default 1 MB). That heuristic
# is wrong for this engine's compute-dense, byte-light operators: the
# PPJoin verify / prefix stages run ~2 s of CPU per shuffled MB
# (hashed-shingle arrays are tiny on the wire, array_intersect per
# candidate pair is not), so 1 MB packing coalesced them to 4-8 tasks
# and left 3/4 of the cores idle (r14 profile: pipe2's verify stage =
# 18 s CPU squeezed into 8 tasks). 128 KB keeps such stages at full
# parallelism while still folding genuinely tiny (<128 KB total)
# shuffles to one task. Scale note: this is a FLOOR, not a target —
# on a real cluster any data-proportional shuffle sits far above
# either value and coalescing behaves identically; override with
# SPARK_GRAFT_AQE_MIN_PARTITION if a deployment wants the 1 MB
# default back. Measured (quiet-box isolated A/B, min-of-4, sf0.1):
# 1 MB → 256 KB: d2 3.27→2.14 s, d5 4.55→3.02, d12 3.16→2.07,
# d13 2.94→2.00, pipe2 7.82→5.85, d9 4.90→3.52; join/TPC-H family
# neutral. 256 KB → 128 KB (the d2 verify stage still coalesced its
# 4.3 MB of candidate pairs to 15 of 32 cores): same-run A/B over
# {d2,d5,d8,d9,d13,pipe2,s6,q1,f1,j2} = 0.88× total (d2 −21%,
# d5 −26%, d9 −17%, nothing worse); 64 KB measured neutral-to-worse
# (task overhead eats the gain), so 128 KB is the floor's floor.
AQE_MIN_PARTITION = os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "131072")


def _resolve_master(master: str | None, cpus: int) -> str | None:
    """'auto' → local[cpus]; None → None (builder must not call
    .master(), deferring to spark-submit); anything else passes
    through verbatim."""
    if master == "auto":
        return f"local[{cpus}]"
    return master


def get_spark(
    app_name: str = "pypgsync_spark",
    master: str | None = "auto",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master="auto"`` (the default) runs ``local[$SPARK_GRAFT_CPUS]``.
    On a real cluster, pass ``master=None``: the builder then does NOT
    call ``.master()`` at all, so spark-submit's ``--master`` wins (r11
    review: the old ``master or local[...]`` fallback silently
    overrode an external cluster manager with local mode — builder
    options beat the submit-time ``spark.master`` property).
    """
    cpus = DEFAULT_CPUS
    master = _resolve_master(master, cpus)
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            AQE_MIN_PARTITION,
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "pypgsync_spark.pyworker")
        # Fixture files are small; don't let tiny files fragment scans.
        # At 100 TB this would be 128m+ and driven by the real file sizes.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
