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
- A driver JVM that ``get_spark`` launches itself maps a class-data-sharing
  archive (JDK dynamic CDS, JEP 350): the classes a session loads, already
  parsed and verified, so the JVM skips most class loading at start.

The archive lives in ``$XDG_CACHE_HOME/pypgsync_spark/cds`` (else
``~/.cache/pypgsync_spark/cds``), one file per key: the JDK, the jars
under ``$SPARK_HOME/jars`` (name, size, mtime) and the driver heap. The
first session after a JDK or Spark change finds no archive for its key
and builds one: its JVM writes ``<key>.<pid>.jsa`` as it exits (a few
seconds and ~150 MB), and the next start renames that file to
``<key>.jsa`` once the writing JVM has exited. Deleting the directory is
always safe; the next start rebuilds it. CDS refuses a non-empty
directory on the classpath, where Spark's launcher puts the conf dir, so
the archive is used only while the conf dir (``$SPARK_CONF_DIR``, else
``$SPARK_HOME/conf``) is missing or holds nothing but ``*.template``
files; the launch then points ``SPARK_CONF_DIR`` at an empty directory.
Any other case (``master=None``, a running gateway, no usable cache
directory) starts the JVM as before, and so does a retry after a launch
with the archive flags fails (an archive it mapped is deleted).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no sched_getaffinity on this platform
        return os.cpu_count() or 1


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _nproc())

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
# either value and coalescing behaves identically. Measured (quiet-box isolated A/B, min-of-4, sf0.1):
# 1 MB → 256 KB: d2 3.27→2.14 s, d5 4.55→3.02, d12 3.16→2.07,
# d13 2.94→2.00, pipe2 7.82→5.85, d9 4.90→3.52; join/TPC-H family
# neutral. 256 KB → 128 KB (the d2 verify stage still coalesced its
# 4.3 MB of candidate pairs to 15 of 32 cores): same-run A/B over
# {d2,d5,d8,d9,d13,pipe2,s6,q1,f1,j2} = 0.88× total (d2 −21%,
# d5 −26%, d9 −17%, nothing worse); 64 KB measured neutral-to-worse
# (task overhead eats the gain), so 128 KB is the floor's floor.
AQE_MIN_PARTITION = "131072"


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

    ``master="auto"`` (the default) runs ``local[$SPARK_GRAFT_CPUS]``,
    or one thread per core this process may use when that is unset.
    On a real cluster, pass ``master=None``: the builder then does NOT
    call ``.master()`` at all, so spark-submit's ``--master`` wins (r11
    review: the old ``master or local[...]`` fallback silently
    overrode an external cluster manager with local mode — builder
    options beat the submit-time ``spark.master`` property).
    """
    cpus = DEFAULT_CPUS
    master = _resolve_master(master, cpus)
    shuffle_partitions = shuffle_partitions or cpus
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": AQE_MIN_PARTITION,
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.daemon.module": "pypgsync_spark.pyworker",
        # Fixture files are small; don't let tiny files fragment scans.
        # At 100 TB this would be 128m+ and driven by the real file sizes.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    cds = _cds_launch(master, conf)
    try:
        return _session(app_name, master, conf, cds)
    except Exception:
        # The JVM did not come up with the archive flags (a truncated
        # archive whose header is intact crashes it with SIGBUS while
        # mapping): drop the archive so the next start rebuilds it, and
        # start plainly.
        if cds is None or SparkContext._gateway is not None:
            raise
        if not cds.building:
            _remove(cds.archive)
        return _session(app_name, master, conf, None)


def _session(
    app_name: str, master: str | None, conf: dict[str, str], cds: _Cds | None
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    for k, v in conf.items():
        b = b.config(k, v)
    if cds is None:
        return b.getOrCreate()
    b = b.config("spark.driver.extraJavaOptions", cds.java_opts)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = b.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = getattr(SparkContext._gateway, "proc", None)
    if cds.building and proc is not None:
        try:
            with open(cds.archive[: -len(".jsa")] + ".pid", "w") as f:
                f.write(str(proc.pid))
        except OSError:
            pass  # the unclaimed archive is deleted, not promoted
    return spark


# -- class-data-sharing archive of the driver JVM ---------------------------

# Keeps CDS log lines off stderr, e.g. the ~460 "Skipping ... Signed JAR"
# warnings (janino is signed) a dump prints.
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"


class _Cds(NamedTuple):
    """How ``get_spark`` launches the driver JVM with an archive."""

    java_opts: str  # spark.driver.extraJavaOptions
    conf_dir: str  # SPARK_CONF_DIR during the launch: an empty directory
    archive: str  # the archive mapped, or the one the JVM writes at exit
    building: bool


def _only_templates(conf_dir: str) -> bool:
    """True when ``conf_dir`` is missing or holds nothing but templates."""
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


def _archive_key(spark_home: str, driver_mem: str, extra_classpath: str = "") -> str:
    """Hash of what an archive depends on, taken without starting a
    process: the JDK spark-class runs (binary path and mtime, ``release``
    file), the name, size and mtime of each jar, the driver heap (above
    32 GB the JVM drops the compressed oops the archive needs), and the
    classpath entries added outside the jars directory
    (``$SPARK_DIST_CLASSPATH`` and ``spark.driver.extraClassPath``): the
    JVM refuses an archive dumped under another classpath, silently
    under ``-Xshare:auto``, so a different classpath needs its own."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    h = hashlib.sha256(f"{java}\0{os.stat(java).st_mtime_ns}\0{driver_mem}".encode())
    classpath = (os.environ.get("SPARK_DIST_CLASSPATH", ""), extra_classpath)
    if any(classpath):  # none: the key an archive of the jars alone has always had
        h.update("\0{}\0{}".format(*classpath).encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    with os.scandir(os.path.join(spark_home, "jars")) as it:
        for e in sorted(it, key=lambda e: e.name):
            st = e.stat()
            h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has exited and closed its files
    (an orphaned JVM can stay one for a while before it is reaped)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return True


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _settle(cache: str, key: str) -> str:
    """Promote a finished build of ``key`` to ``<key>.jsa``, delete the
    other leftovers and return that path (which may not exist).

    A build is ``<key>.<pid>.jsa``, written by the JVM as it exits
    (``pid`` is the launching Python process), and ``<key>.<pid>.pid``,
    the JVM's pid, written by the launcher once the JVM is up. A build is
    left alone while its JVM runs (before the ``.pid`` file exists: while
    its launcher runs), so a file still being written is never promoted.
    Once that process has exited, a build without a ``.pid`` file, or
    whose archive still has the zero header of a dump cut short (the JVM
    writes the header last), is deleted; unlinking a file a JVM still
    writes is harmless."""
    final = os.path.join(cache, f"{key}.jsa")
    prefix = os.path.join(cache, f"{key}.")
    tags = {p[len(prefix) :].split(".")[0] for p in glob.glob(glob.escape(prefix) + "*.*")}
    for tag in tags:
        if not tag.isdigit():
            continue
        part, pidfile = f"{prefix}{tag}.jsa", f"{prefix}{tag}.pid"
        try:
            with open(pidfile) as f:
                writer = int(f.read())
        except (OSError, ValueError):
            writer = None
        if _alive(int(tag) if writer is None else writer):
            continue
        if writer is not None and not os.path.exists(final):
            try:
                with open(part, "rb") as f:
                    complete = any(f.read(4))
            except FileNotFoundError:
                complete = False
            if complete:
                os.replace(part, final)
        _remove(part)
        _remove(pidfile)
    return final


def _cds_launch(master: str | None, conf: dict[str, str]) -> _Cds | None:
    """The archive flags for a driver JVM this process is about to
    launch, or None for a plain start."""
    if master is None or SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    try:
        spark_home = _find_spark_home()
        spark_conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if not _only_templates(spark_conf):
            return None
        base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
        cache = os.path.join(base, "pypgsync_spark", "cds")
        if any(c.isspace() for c in cache):  # extraJavaOptions splits on whitespace
            return None
        conf_dir = os.path.join(cache, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return None
        key = _archive_key(
            spark_home, conf["spark.driver.memory"], conf.get("spark.driver.extraClassPath", "")
        )
        archive = _settle(cache, key)
    except OSError:
        return None
    building = not os.path.exists(archive)
    if building:
        archive = os.path.join(cache, f"{key}.{os.getpid()}.jsa")
        flag = f"-XX:ArchiveClassesAtExit={archive}"
    else:
        flag = f"-XX:SharedArchiveFile={archive}"
    user_opts = conf.get("spark.driver.extraJavaOptions", "")
    return _Cds(f"{user_opts} {flag} {_CDS_QUIET}".strip(), conf_dir, archive, building)
