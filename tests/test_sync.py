"""End-to-end sync-pipeline tests over the events fixture: cold start,
incremental delta, idempotent re-run, convergence, continuous loop, and
the Structured-Streaming foreachBatch form (SURVEY §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pypgsync_spark.catalog import load_table
from pypgsync_spark.functions.time import to_millis
from pypgsync_spark.sync import (
    ParquetSyncedTable,
    low_watermark,
    sync_continuous,
    sync_once,
    sync_table,
)

KEYS = ["event_id"]
VER = "updated_ms"


def events_ms(spark, sf_small):
    return (
        load_table(spark, sf_small, "events")
        .withColumn(VER, to_millis("ts"))
        .select("event_id", VER, "user_id", "event_type", "value", "props")
    )


def test_low_watermark_cold_start(spark, sf_small):
    src = events_ms(spark, sf_small)
    wm = low_watermark(None, src, VER)
    assert wm == src.agg(F.min(VER)).first()[0]


def test_low_watermark_resume(spark, sf_small):
    src = events_ms(spark, sf_small)
    dst = src.filter(F.col(VER) < 1704844800000)
    wm = low_watermark(dst, src, VER)
    assert wm == dst.agg(F.max(VER)).first()[0]


def test_sync_once_cold_start_copies_all(spark, sf_small):
    src = events_ms(spark, sf_small)
    merged, stats = sync_once(src, None, KEYS, VER, high=2**62)
    assert merged.count() == src.count()
    assert stats.delta_rows == src.count()


def test_sync_once_noop_when_caught_up(spark, sf_small):
    src = events_ms(spark, sf_small)
    # destination already at src max; high watermark below it → no-op
    merged, stats = sync_once(src, src, KEYS, VER, high=0)
    assert stats.delta_rows == 0


def test_empty_keys_refused_before_any_write(spark, sf_small, tmp_path):
    """With no key column, a cold start used to collapse the whole delta
    through a latest-per-key window with no partition: one row landed."""
    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    with pytest.raises(ValueError, match="at least one key column"):
        sync_once(src, None, [], VER, high=2**62)
    with pytest.raises(ValueError, match="at least one key column"):
        sync_table(src, store, [], VER)
    with pytest.raises(ValueError, match="at least one key column"):
        next(sync_continuous(lambda: src, store, [], VER, iterations=1))
    assert store.read() is None


def test_sync_converges_and_is_idempotent(spark, sf_small, tmp_path):
    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    cutoff = 1704844800000  # Jan 10

    # run 1: only rows before cutoff visible
    s1 = sync_table(src.filter(F.col(VER) < cutoff), store, KEYS, VER)
    n1 = store.read().count()
    assert n1 == src.filter(F.col(VER) < cutoff).count() == s1.delta_rows

    # run 2: full source visible → destination converges to source
    s2 = sync_table(src, store, KEYS, VER)
    assert s2.low is not None and s2.low <= s1.high  # low re-read from the data
    got = {tuple(r) for r in store.read().collect()}
    want = {tuple(r) for r in src.collect()}
    assert got == want

    # run 3: nothing new → still converged (idempotent re-run)
    sync_table(src, store, KEYS, VER)
    assert {tuple(r) for r in store.read().collect()} == want


def test_sync_continuous_loop(spark, sf_small, tmp_path):
    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    stats = list(
        sync_continuous(
            lambda: src, store, KEYS, VER, iterations=3, delay_seconds=0, sleep=lambda _: None
        )
    )
    assert len(stats) == 3
    assert store.read().count() == src.count()


def test_stream_sync_foreachbatch(spark, sf_small, tmp_path):
    """Structured-Streaming continuous mode (T1/T4): drain the events
    file through foreachBatch merge, destination equals source."""
    import shutil

    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming.continuous import stream_sync

    # FileStreamSource needs a *directory* of arriving files — stage the
    # fixture file into one (the realistic landing-zone shape).
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    shutil.copy(table_path(sf_small, "events"), incoming / "events.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(str(incoming)).schema
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    q = stream_sync(
        spark,
        source_path=str(incoming),
        schema=raw_schema,
        store=store,
        keys=["event_id"],
        version_col="ts",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    src = load_table(spark, sf_small, "events")
    got = store.read()
    assert got.count() == src.count()
    # spot-check content equality on ids + values
    assert {(r["event_id"], r["value"]) for r in got.collect()} == {
        (r["event_id"], r["value"]) for r in src.collect()
    }


def test_stream_sync_applies_late_rows(spark, sf_small, tmp_path):
    """The reference silently misses rows whose ``updated`` lags the
    destination max (SURVEY §2.10 T3: low watermark = MAX(dst.updated)
    skips them forever). The streaming merge keys on file arrival, not
    the version column, so a late row — version OLDER than everything
    already synced — still lands. This is the documented semantic
    improvement, exercised end to end."""
    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming.continuous import stream_sync

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    incoming = tmp_path / "incoming"
    incoming.mkdir()

    full = spark.read.parquet(table_path(sf_small, "events"))
    raw_schema = full.schema
    cutoff = F.timestamp_millis(F.lit(1704844800000))  # Jan 10

    def land(df, name: str) -> None:
        """Write df and land its part files flat in the incoming dir
        (the file stream lists top-level files only)."""
        import glob
        import shutil

        staging = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(staging))
        for i, part in enumerate(sorted(glob.glob(str(staging / "part-*.parquet")))):
            shutil.copy(part, incoming / f"{name}_{i}.parquet")

    # batch 1: only recent rows (ts >= Jan 10) arrive first
    land(full.filter(F.col("ts") >= cutoff), "b1")

    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))

    def drain():
        q = stream_sync(
            spark,
            source_path=str(incoming),
            schema=raw_schema,
            store=store,
            keys=["event_id"],
            version_col="ts",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()

    drain()
    n_recent = store.read().count()
    assert n_recent == full.filter(F.col("ts") >= cutoff).count()

    # batch 2: LATE rows arrive — every version is older than dst max
    land(full.filter(F.col("ts") < cutoff), "b2")
    drain()
    assert store.read().count() == full.count()  # nothing lost


def test_synced_table_scheme_qualified_uri(spark, sf_small, tmp_path):
    """r6 verdict #6: the _CURRENT pointer goes through the Hadoop
    FileSystem resolved for the destination URI's SCHEME — a
    scheme-qualified file:// destination (the closest a sandbox gets
    to an object-store URI) must work end-to-end, including the
    pointer flip between alternating subdirectories. os.path/open
    plumbing would have produced paths like 'file:/...' that the
    local OS calls cannot resolve."""
    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, f"file://{tmp_path}/dst")
    assert store.read() is None  # no pointer yet

    sync_table(src, store, KEYS, VER)
    assert store.read().count() == src.count()
    assert store._current().endswith("/a")

    sync_table(src.union(src.limit(0)), store, KEYS, VER)  # idempotent re-run
    assert store.read().count() == src.count()


def test_unsupported_fs_classifier():
    """ADVICE r7 (sync.py pointer flip): the PUT fallback must fire ONLY
    for UnsupportedFileSystemException (no AbstractFileSystem binding —
    object stores); any other FileContext/rename failure propagates, so
    a transient rename error can never truncate the live pointer in
    place on a rename-capable filesystem."""
    from pypgsync_spark.sync import _exception_is

    def _is_unsupported_filesystem(exc):
        return _exception_is(exc, "UnsupportedFileSystemException")

    class _JExc:
        def __init__(self, name, cause=None):
            self._name, self._cause = name, cause

        def getClass(self):
            outer = self

            class _C:
                def getName(self):
                    return outer._name

            return _C()

        def getCause(self):
            return self._cause

    class _Py4JError(Exception):
        def __init__(self, java_exception):
            super().__init__("py4j wrapped")
            self.java_exception = java_exception

    unsupported = _JExc(
        "org.apache.hadoop.fs.UnsupportedFileSystemException"
    )
    assert _is_unsupported_filesystem(_Py4JError(unsupported))
    # ... including when buried in a cause chain
    assert _is_unsupported_filesystem(
        _Py4JError(_JExc("java.io.IOException", cause=unsupported))
    )
    # transient rename failures are NOT fallback-eligible
    assert not _is_unsupported_filesystem(
        _Py4JError(_JExc("java.io.IOException"))
    )
    assert not _is_unsupported_filesystem(
        _Py4JError(_JExc("org.apache.hadoop.fs.ParentNotDirectoryException"))
    )
    # plain Python exceptions: string-level conservative match only
    assert not _is_unsupported_filesystem(RuntimeError("boom"))
    assert _is_unsupported_filesystem(
        RuntimeError("x UnsupportedFileSystemException: no AFS for scheme")
    )
    # a FULLY walked Java chain with no USFE is authoritative: a stack
    # text that merely QUOTES the class name must not re-enable the
    # in-place pointer-truncate fallback
    quoted = _Py4JError(_JExc("java.io.IOException"))
    quoted.args = ("rename failed; earlier: UnsupportedFileSystemException",)
    assert not _is_unsupported_filesystem(quoted)


def test_pointer_flip_rename_failure_propagates(spark, sf_small, tmp_path, monkeypatch):
    """On a rename-capable filesystem, a FileContext failure that is NOT
    UnsupportedFileSystemException must propagate out of write() and
    leave the previous pointer intact (never an in-place truncate)."""
    import pytest

    from pypgsync_spark import sync as sync_mod

    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(src, store, KEYS, VER)
    assert store._current().endswith("/a")

    # Simulate a transient (non-USFE) failure inside the rename block.
    real_exception_is = sync_mod._exception_is
    monkeypatch.setattr(
        sync_mod,
        "_exception_is",
        lambda exc, name: (
            name != "UnsupportedFileSystemException" and real_exception_is(exc, name)
        ),
    )
    real_jpath = store._jpath

    def boom_on_ptr(uri):
        if uri == store._ptr:  # the rename destination
            raise RuntimeError("transient rename failure")
        return real_jpath(uri)

    monkeypatch.setattr(store, "_jpath", boom_on_ptr)
    with pytest.raises(RuntimeError, match="transient rename failure"):
        store.write(src.limit(5))
    # live pointer untouched: still 'a', still readable
    monkeypatch.setattr(store, "_jpath", real_jpath)
    assert store._current().endswith("/a")
    assert store.read().count() == src.count()


def _parquet_files(store):
    cur = store._current()
    p = store._jpath(cur)
    return [
        s.getPath().getName()
        for s in store._fs(p).listStatus(p)
        if s.getPath().getName().endswith(".parquet")
    ]


def test_compact_reduces_files_and_preserves_rows(spark, sf_small, tmp_path):
    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.sync import ParquetSyncedTable, compact_store

    src = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    store.write(src.repartition(16))
    assert len(_parquet_files(store)) >= 16
    before = sorted(map(tuple, store.read().collect()))
    stats = compact_store(store, target_file_bytes=256 << 20)
    assert stats["compacted"] is True
    assert stats["files_before"] >= 16
    assert stats["files_after"] < stats["files_before"]
    assert len(_parquet_files(store)) == stats["files_after"]
    assert sorted(map(tuple, store.read().collect())) == before


def test_compact_noop_when_already_compact(spark, sf_small, tmp_path):
    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.sync import ParquetSyncedTable, compact_store

    src = load_table(spark, sf_small, "events").select("event_id", "value")
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    store.write(src.coalesce(1))
    cur_before = store._current()
    stats = compact_store(store, target_file_bytes=256 << 20)
    assert stats["compacted"] is False
    assert stats["files_before"] == stats["files_after"]
    # no-op must not rewrite or flip the pointer
    assert store._current() == cur_before


def _backdate_superseded_generation(store, dst_dir) -> None:
    """Make the superseded generation STRICTLY older than the current
    one regardless of filesystem mtime granularity (ADVICE r9: on a 1s
    granularity fs, back-to-back write/compact can land both
    generations on the same mtime, which makes vacuum's safe strict-<
    comparison a no-op and the test flaky). Explicit ``os.utime``
    backdating beats sleeping: deterministic and free."""
    import os

    cur_name = store._current().rsplit("/", 1)[-1]
    old_name = "a" if cur_name == "b" else "b"
    cur_mtime = (dst_dir / cur_name).stat().st_mtime
    past = cur_mtime - 5
    os.utime(dst_dir / old_name, (past, past))


def test_vacuum_deletes_only_superseded_generation(spark, sf_small, tmp_path):
    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.sync import (
        ParquetSyncedTable,
        compact_store,
        vacuum_store,
    )

    src = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    store.write(src.repartition(8))   # generation a
    compact_store(store, target_file_bytes=256 << 20)  # flips to b
    _backdate_superseded_generation(store, tmp_path / "dst")
    rows = sorted(map(tuple, store.read().collect()))
    root = store._jpath(store.path)
    fs = store._fs(root)
    names = {s.getPath().getName() for s in fs.listStatus(root)}
    assert {"a", "b"} <= names
    deleted = vacuum_store(store)
    cur_name = store._current().rsplit("/", 1)[-1]
    assert deleted == [n for n in ("a", "b") if n != cur_name]
    assert sorted(map(tuple, store.read().collect())) == rows
    # empty store: vacuum is a no-op
    empty = ParquetSyncedTable(spark, str(tmp_path / "empty"))
    assert vacuum_store(empty) == []


def test_vacuum_spares_interrupted_writer_generation(spark, sf_small, tmp_path):
    """r9 advisor fix: a writer that produced a generation but crashed
    before flipping _CURRENT leaves a directory NEWER than the current
    generation. vacuum_store must never reclaim it (it may hold the
    only copy of in-flight data); only generations the pointer has
    durably superseded — strictly older than current — are deleted."""
    import os
    import time

    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.sync import (
        ParquetSyncedTable,
        compact_store,
        vacuum_store,
    )

    src = load_table(spark, sf_small, "events").select(
        "event_id", "event_type", "value"
    )
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    store.write(src.repartition(4))                    # generation a
    compact_store(store, target_file_bytes=256 << 20)  # flips to b
    cur_name = store._current().rsplit("/", 1)[-1]
    old_name = "a" if cur_name == "b" else "b"
    # ADVICE r9: don't rely on write->compact landing on distinct
    # mtimes (1s-granularity filesystems make that a coin flip) —
    # explicitly backdate the superseded generation
    _backdate_superseded_generation(store, tmp_path / "dst")

    # simulate an interrupted writer: a generation directory newer than
    # the current one, pointer never flipped (mtime granularity on
    # local fs is fine, but sleep past 1s to be filesystem-agnostic)
    time.sleep(1.1)
    crashed = tmp_path / "dst" / "zz_inflight"
    crashed.mkdir()
    (crashed / "part-00000.parquet").write_bytes(b"in-flight bytes")

    deleted = vacuum_store(store)
    assert deleted == [old_name]
    assert crashed.exists() and (crashed / "part-00000.parquet").exists()
    # idempotent: a second vacuum with nothing older deletes nothing
    assert vacuum_store(store) == []


def test_vacuum_dangling_pointer_is_noop(spark, sf_small, tmp_path):
    """_CURRENT naming a missing generation (crash between delete and
    pointer write under a buggy external cleaner) must be a quiet no-op:
    nothing is provably superseded, so vacuum deletes nothing."""
    import shutil

    from pypgsync_spark.sync import ParquetSyncedTable, vacuum_store

    src = load_table(spark, sf_small, "events").select("event_id", "value")
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    store.write(src)
    cur_name = store._current().rsplit("/", 1)[-1]
    shutil.rmtree(tmp_path / "dst" / cur_name)
    assert vacuum_store(store) == []


def test_vacuum_propagates_non_fnf_errors(spark, sf_small, tmp_path):
    """ADVICE r9: only the dangling-pointer FileNotFoundException is a
    legitimate no-op. Any other filesystem failure (auth, transient IO)
    must propagate — a silent no-op hides unbounded storage growth."""
    import pytest

    from pypgsync_spark.sync import ParquetSyncedTable, vacuum_store

    src = load_table(spark, sf_small, "events").select("event_id", "value")
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    store.write(src)

    class _FailingFS:
        def __init__(self, real):
            self._real = real

        def getFileStatus(self, p):  # the probe vacuum makes
            raise RuntimeError("simulated auth failure")

        def __getattr__(self, name):  # everything else passes through
            return getattr(self._real, name)

    real_fs = store._fs
    store._fs = lambda jpath: _FailingFS(real_fs(jpath))
    with pytest.raises(RuntimeError, match="simulated auth failure"):
        vacuum_store(store)


def test_is_file_not_found_string_probe():
    """Python-side fallback classification (no java_exception chain)."""
    from pypgsync_spark.sync import _exception_is

    assert _exception_is(
        Exception("java.io.FileNotFoundException: File dst/a does not exist"),
        "FileNotFoundException",
    )
    assert not _exception_is(
        Exception("org.apache.hadoop.security.AccessControlException: denied"),
        "FileNotFoundException",
    )


def _tree(root) -> dict:
    """Every file under ``root`` with its size and mtime."""
    import os

    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            st = os.stat(os.path.join(d, fn))
            out[os.path.join(d, fn)] = (st.st_size, st.st_mtime_ns)
    return out


def test_idle_pass_writes_nothing(spark, sf_small, tmp_path):
    """A pass whose delta is only the re-read boundary rows leaves
    _CURRENT and both generation directories untouched."""
    src = events_ms(spark, sf_small)
    early = src.filter(F.col(VER) < 1704844800000)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    first = sync_table(early, store, KEYS, VER)
    assert first.wrote and first.rows_changed == early.count()
    assert sync_table(src, store, KEYS, VER).wrote  # second generation
    before = _tree(tmp_path / "dst")
    assert {p.rsplit("/", 2)[-2] for p in before} >= {"a", "b"}
    stats = sync_table(src, store, KEYS, VER)
    assert stats.delta_rows > 0  # the boundary rows are re-read ...
    assert stats.rows_changed == 0 and not stats.wrote  # ... and change nothing
    assert _tree(tmp_path / "dst") == before


def test_boundary_rows_at_watermark_still_apply(spark, sf_small, tmp_path):
    """Rows sharing the watermark's version are applied when they carry
    a new key, and when an existing row's content changed in place."""
    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(src, store, KEYS, VER)
    wm = store.head()[1]["max_version"]
    assert wm == src.agg(F.max(VER)).first()[0]
    at_wm = src.filter(F.col(VER) == wm).limit(1)
    old_id = at_wm.first()["event_id"]
    new_id = src.agg(F.max("event_id")).first()[0] + 1

    # a new key at exactly the watermark version
    src1 = src.unionByName(at_wm.withColumn("event_id", F.lit(new_id).cast("long")))
    s1 = sync_table(src1, store, KEYS, VER)
    assert s1.wrote and s1.rows_changed == 1 and s1.delta_max == wm
    assert store.read().filter(F.col("event_id") == new_id).count() == 1

    # an existing watermark row whose content changed, version unchanged
    src2 = src1.withColumn(
        "value",
        F.when(F.col("event_id") == old_id, F.lit(-1.0)).otherwise(F.col("value")),
    )
    s2 = sync_table(src2, store, KEYS, VER)
    assert s2.wrote and s2.rows_changed == 1
    assert store.read().filter(F.col("event_id") == old_id).first()["value"] == -1.0
    assert {tuple(r) for r in store.read().collect()} == {tuple(r) for r in src2.collect()}
    assert not sync_table(src2, store, KEYS, VER).wrote


def test_store_read_schema_matches_inference(spark, sf_small, tmp_path):
    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(src, store, KEYS, VER)
    assert store.head()[1]["version_col"] == VER
    assert store.read().schema == spark.read.parquet(store._current()).schema


def test_generation_without_commit_file_reads_and_syncs(spark, sf_small, tmp_path):
    """A generation with no commit file (older stores, other writers)
    falls back to schema inference and a watermark scan."""
    import os

    from pypgsync_spark.sync import COMMIT_FILE

    src = events_ms(spark, sf_small)
    cutoff = 1704844800000
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(src.filter(F.col(VER) < cutoff), store, KEYS, VER)
    gen = store._current()
    os.remove(os.path.join(gen, COMMIT_FILE))
    assert store.head()[1] is None
    assert store.read().schema == spark.read.parquet(gen).schema
    stats = sync_table(src, store, KEYS, VER)
    assert stats.low == src.filter(F.col(VER) < cutoff).agg(F.max(VER)).first()[0]
    assert stats.wrote
    assert {tuple(r) for r in store.read().collect()} == {tuple(r) for r in src.collect()}
    assert store.head()[1]["max_version"] == src.agg(F.max(VER)).first()[0]


def test_crash_before_pointer_flip_keeps_old_generation(spark, sf_small, tmp_path, monkeypatch):
    """A write that dies after its parquet files and commit file but
    before the pointer flip leaves the old generation current, readable
    and with its own commit file."""
    import pytest

    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(src, store, KEYS, VER)
    cur, meta = store._current(), store.head()[1]
    rows = sorted(map(tuple, store.read().collect()))

    real_jpath = store._jpath

    def crash_on_pointer(uri):
        if uri == store._ptr + ".tmp":
            raise RuntimeError("crash before pointer flip")
        return real_jpath(uri)

    monkeypatch.setattr(store, "_jpath", crash_on_pointer)
    newer = src.limit(3).withColumn(VER, F.col(VER) + 10**9)
    with pytest.raises(RuntimeError, match="crash before pointer flip"):
        store.write(newer, VER, 1)
    monkeypatch.setattr(store, "_jpath", real_jpath)
    assert store._current() == cur
    assert store.head()[1] == meta
    assert sorted(map(tuple, store.read().collect())) == rows


def test_compact_carries_watermark(spark, sf_small, tmp_path):
    from pypgsync_spark.sync import compact_store

    src = events_ms(spark, sf_small)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    listing = {"file:/landing/part-0.parquet": [1024, 1700000000000]}
    store.write(src.repartition(8), VER, src.agg(F.max(VER)).first()[0], listing)
    meta = store.head()[1]
    assert meta["source_files"] == listing
    assert compact_store(store, target_file_bytes=256 << 20)["compacted"]
    assert store.head()[1] == meta
    assert store.head()[1]["max_version"] == src.agg(F.max(VER)).first()[0]


def test_cold_start_keeps_latest_version_per_key(spark, sf_small, tmp_path):
    """A source holding several versions of one key (an append log)
    loads as one row per key, the latest: later delta-wins passes only
    replace the keys they carry, so no duplicate may enter at the start."""
    src = events_ms(spark, sf_small)
    older = src.filter(F.col("event_id") % 3 == 0).withColumn(VER, F.col(VER) - 1)
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    stats = sync_table(src.unionByName(older), store, KEYS, VER)
    assert stats.delta_rows == src.count() + older.count()
    assert stats.rows_changed == src.count()
    assert {tuple(r) for r in store.read().collect()} == {tuple(r) for r in src.collect()}
    assert store.read().count() == src.count()


def test_boundary_check_handles_map_columns(spark, tmp_path):
    """Spark has no equality on maps: the boundary check compares a
    map-bearing column by its JSON text, so an idle pass over a table
    with a map column still writes nothing, and a changed map still
    applies."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(VER, T.LongType()),
            T.StructField("tags", T.MapType(T.StringType(), T.TimestampType())),
        ]
    )
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, 0, 0, 0, 1)
    rows = [(1, 10, {"a": ts}), (2, 20, {"b": ts}), (3, 20, None)]
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(spark.createDataFrame(rows, schema), store, KEYS, VER)
    idle = sync_table(spark.createDataFrame(rows, schema), store, KEYS, VER)
    assert idle.delta_rows == 2 and not idle.wrote
    # a sub-millisecond change inside the map is still a change
    moved = rows[:1] + [(2, 20, {"b": ts + dt.timedelta(microseconds=1)}), rows[2]]
    s = sync_table(spark.createDataFrame(moved, schema), store, KEYS, VER)
    assert s.wrote and s.rows_changed == 1
    got = {r["event_id"]: r["tags"] for r in store.read().collect()}
    assert got[2] == {"b": ts + dt.timedelta(microseconds=1)}


# --- the consumed-source listing: unchanged, added-only and full passes

LSCHEMA = "id long, v long, val string"


def _job_ids(spark) -> set[int]:
    """Every job id the status tracker holds, once the listener bus has
    delivered the events posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def _land(spark, src_dir, rows) -> str:
    """Append ``rows`` to the source directory as one new parquet file;
    returns its path."""
    import glob

    before = set(glob.glob(f"{src_dir}/*.parquet"))
    spark.createDataFrame(rows, LSCHEMA).coalesce(1).write.mode("append").parquet(str(src_dir))
    (new,) = set(glob.glob(f"{src_dir}/*.parquet")) - before
    return new


def _rows(store) -> set:
    return {tuple(r) for r in store.read().collect()}


def _spy_sync_once(monkeypatch) -> list:
    """The ``src`` each ``sync_once`` call receives, in order."""
    from pypgsync_spark import sync as sync_mod

    seen, real = [], sync_mod.sync_once

    def spy(src, *a, **k):
        seen.append(src)
        return real(src, *a, **k)

    monkeypatch.setattr(sync_mod, "sync_once", spy)
    return seen


def test_cold_start_pass_reads_the_source_once_before_writing(spark, tmp_path):
    """A cold-start pass runs the jobs of one distinct-key count and of
    its write, nothing more: the aggregate that counts the delta's keys
    also reads its MIN version (the low watermark), so no separate MIN
    scan runs."""
    d = tmp_path / "src"
    _land(spark, d, [(1, 3, "a"), (2, 7, "b"), (3, 5, "c")])
    src = spark.read.parquet(str(d))

    def jobs(action):
        """(jobs ``action`` ran, its result)"""
        before = _job_ids(spark)
        out = action()
        return len(_job_ids(spark) - before), out

    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_jobs, stats = jobs(lambda: sync_table(src, store, ["id"], "v"))
    assert (stats.low, stats.delta_max, stats.delta_rows, stats.rows_changed) == (3, 7, 3, 3)
    assert stats.wrote and stats.rows_above_high == 0
    count_keys, _ = jobs(lambda: src.agg(F.count_distinct(F.struct("id"))).first())
    write, _ = jobs(lambda: ParquetSyncedTable(spark, str(tmp_path / "plain")).write(src, "v", 7))
    assert sync_jobs == count_keys + write


def test_unchanged_listing_runs_no_job(spark, tmp_path):
    d = tmp_path / "src"
    _land(spark, d, [(1, 1, "a"), (2, 2, "b")])
    _land(spark, d, [(3, 2, "c")])
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    assert sync_table(spark.read.parquet(str(d)), store, ["id"], "v").wrote
    assert len(store.head()[1]["source_files"]) == 2
    src = spark.read.parquet(str(d))
    before = _job_ids(spark)
    stats = sync_table(src, store, ["id"], "v")
    assert _job_ids(spark) - before == set()
    assert stats.delta_rows == 0 and stats.rows_changed == 0 and not stats.wrote
    assert stats.low == 2


def test_added_files_read_only_the_new_rows(spark, tmp_path, monkeypatch):
    d = tmp_path / "src"
    _land(spark, d, [(i, 5, "old") for i in range(20)])
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    new = [_land(spark, d, [(3, 6, "upd"), (100, 7, "ins")]), _land(spark, d, [(101, 6, "ins")])]
    seen = _spy_sync_once(monkeypatch)
    stats = sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    (scan,) = seen
    assert sorted(p.rsplit("/", 1)[1] for p in scan.inputFiles()) == sorted(
        p.rsplit("/", 1)[1] for p in new
    )
    assert scan.count() == stats.delta_rows == 3
    assert stats.wrote and stats.rows_changed == 3 and store.head()[1]["max_version"] == 7
    want = {(i, 5, "old") for i in range(20) if i != 3} | {
        (3, 6, "upd"), (100, 7, "ins"), (101, 6, "ins")
    }
    assert _rows(store) == want
    assert len(store.head()[1]["source_files"]) == 3


def test_file_rewritten_in_place_takes_the_full_path(spark, tmp_path, monkeypatch):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "src"
    first = _land(spark, d, [(1, 1, "a"), (2, 2, "b")])
    _land(spark, d, [(3, 2, "c")])
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    table = pa.table({"id": [1, 2, 4], "v": [9, 2, 9], "val": ["a2", "b", "new"]})
    pq.write_table(table, first)
    os.remove(os.path.join(os.path.dirname(first), f".{os.path.basename(first)}.crc"))
    seen = _spy_sync_once(monkeypatch)
    src = spark.read.parquet(str(d))
    stats = sync_table(src, store, ["id"], "v")
    assert seen == [src]
    assert stats.wrote and stats.rows_changed == 2
    assert _rows(store) == {(1, 9, "a2"), (2, 2, "b"), (3, 2, "c"), (4, 9, "new")}


def test_removed_file_takes_the_full_path(spark, tmp_path, monkeypatch):
    import os

    d = tmp_path / "src"
    gone = _land(spark, d, [(1, 1, "a")])
    _land(spark, d, [(2, 2, "b")])
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    os.remove(gone)
    _land(spark, d, [(3, 3, "c")])
    seen = _spy_sync_once(monkeypatch)
    src = spark.read.parquet(str(d))
    stats = sync_table(src, store, ["id"], "v")
    assert seen == [src]
    assert stats.wrote and stats.delta_rows == 2  # the boundary row and the new one
    assert _rows(store) == {(1, 1, "a"), (2, 2, "b"), (3, 3, "c")}


def test_boundary_version_row_in_a_new_file_applies(spark, tmp_path):
    """A new file whose rows all sit at the committed MAX: a new key and
    a changed row, both at the watermark version, are applied; the
    unchanged boundary row in the old file is not read again."""
    d = tmp_path / "src"
    _land(spark, d, [(1, 4, "a"), (2, 5, "b"), (3, 5, "c")])
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    _land(spark, d, [(9, 5, "new"), (3, 5, "c2")])
    stats = sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    assert stats.delta_rows == 2 and stats.delta_max == 5
    assert stats.wrote and stats.rows_changed == 2
    assert _rows(store) == {(1, 4, "a"), (2, 5, "b"), (3, 5, "c2"), (9, 5, "new")}


def test_row_above_high_in_a_consumed_file_applies_later(spark, tmp_path):
    """A pass that leaves rows above its ``high`` unread records no
    listing, so a later pass over the same files still reads them."""
    d = tmp_path / "src"
    _land(spark, d, [(1, 1, "a"), (2, 100, "future")])
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    first = sync_table(spark.read.parquet(str(d)), store, ["id"], "v", high=50)
    assert first.rows_above_high == 1 and "source_files" not in store.head()[1]
    assert _rows(store) == {(1, 1, "a")}
    later = sync_table(spark.read.parquet(str(d)), store, ["id"], "v", high=200)
    assert later.wrote and later.rows_above_high == 0
    assert _rows(store) == {(1, 1, "a"), (2, 100, "future")}
    assert len(store.head()[1]["source_files"]) == 1


def test_no_change_pass_records_its_new_files(spark, tmp_path):
    """A pass over a new file whose only row is late (under the
    watermark) changes nothing and writes no generation, but records the
    file in the current commit, so the next pass runs no job."""
    import glob
    import os

    d = tmp_path / "src"
    _land(spark, d, [(1, 10, "a")])
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    _land(spark, d, [(2, 11, "b")])
    assert sync_table(spark.read.parquet(str(d)), store, ["id"], "v").wrote
    gen, meta = store.head()
    _land(spark, d, [(3, 5, "late")])
    late = sync_table(spark.read.parquet(str(d)), store, ["id"], "v")
    assert not late.wrote and late.rows_changed == 0
    assert store._current() == gen
    src = spark.read.parquet(str(d))
    before = _job_ids(spark)
    stats = sync_table(src, store, ["id"], "v")
    assert _job_ids(spark) - before == set()
    assert stats.delta_rows == 0 and not stats.wrote
    after = store.head()[1]
    assert sorted(os.path.basename(p) for p in after["source_files"]) == sorted(
        os.path.basename(p) for p in glob.glob(f"{d}/*.parquet")
    )
    assert {k: v for k, v in after.items() if k != "source_files"} == {
        k: v for k, v in meta.items() if k != "source_files"
    }
    assert _rows(store) == {(1, 10, "a"), (2, 11, "b")}


def test_non_plain_sources_take_the_full_path(spark, tmp_path, monkeypatch):
    """A filtered scan, an in-memory frame, a partitioned directory and
    an empty listing record no listing and read the whole source on
    every pass."""
    import shutil

    d = tmp_path / "src"
    _land(spark, d, [(1, 1, "a"), (2, 2, "b")])
    parted = tmp_path / "parted"
    spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], LSCHEMA).withColumn(
        "p", F.col("id") % 2
    ).write.partitionBy("p").parquet(str(parted))
    empty = tmp_path / "empty"
    sources = {
        "filtered": lambda: spark.read.parquet(str(d)).filter(F.col("id") > 0),
        "in_memory": lambda: spark.createDataFrame([(1, 1, "a"), (2, 2, "b")], LSCHEMA),
        "partitioned": lambda: spark.read.parquet(str(parted)),
    }
    for name, make in sources.items():
        store = ParquetSyncedTable(spark, str(tmp_path / f"dst_{name}"))
        sync_table(make(), store, ["id"], "v")
        assert "source_files" not in store.head()[1], name
        seen = _spy_sync_once(monkeypatch)
        src = make()
        assert sync_table(src, store, ["id"], "v").delta_rows == 1, name
        assert seen == [src], name
        monkeypatch.undo()

    # a listing that empties after a recorded pass
    store = ParquetSyncedTable(spark, str(tmp_path / "dst_empty"))
    shutil.copytree(d, empty)
    sync_table(spark.read.parquet(str(empty)), store, ["id"], "v")
    assert store.head()[1]["source_files"]
    for f in empty.glob("*.parquet"):
        f.unlink()
    seen = _spy_sync_once(monkeypatch)
    src = spark.read.schema(LSCHEMA).parquet(str(empty))
    stats = sync_table(src, store, ["id"], "v")
    assert seen == [src] and stats.delta_rows == 0 and not stats.wrote
    assert _rows(store) == {(1, 1, "a"), (2, 2, "b")}


def test_stream_sync_commits_its_watermark(spark, tmp_path):
    """Each drain's write records the merged MAX in the commit, observed
    during the write: a drain runs as many jobs as writing its batch
    with no watermark does."""
    from pypgsync_spark.operators.merge import latest_per_key
    from pypgsync_spark.streaming.continuous import stream_sync

    d = tmp_path / "landing"
    first = _land(spark, d, [(1, 3, "a"), (2, 7, "b")])
    schema = spark.read.parquet(str(d)).schema
    sc = spark.sparkContext

    def drain(name: str) -> int:
        """Drain the landing directory into store ``name``; the number
        of jobs the stream ran."""
        q = stream_sync(
            spark, str(d), schema, ParquetSyncedTable(spark, str(tmp_path / name)),
            ["id"], "v", str(tmp_path / f"ckpt_{name}"),
        )
        q.awaitTermination()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    first_jobs = drain("dst")
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    assert store.head()[1]["max_version"] == 7
    _land(spark, d, [(1, 9, "a2")])
    drain("dst")
    assert store.head()[1]["max_version"] == 9
    assert _rows(store) == {(1, 9, "a2"), (2, 7, "b")}

    # the first drain's one batch, merged and written by hand with no
    # watermark: the same number of jobs
    by_hand = latest_per_key(spark.read.schema(schema).parquet(first), ["id"], "v")
    before = _job_ids(spark)
    ParquetSyncedTable(spark, str(tmp_path / "plain")).write(by_hand)
    assert first_jobs == len(_job_ids(spark) - before) > 0
