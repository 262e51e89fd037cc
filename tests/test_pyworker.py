"""The engine's Python worker daemon (``pypgsync_spark.pyworker``):
the stamp-checked ``zipimporter.invalidate_caches`` it installs, and
that sessions built by ``get_spark`` really fork their workers from it."""

from __future__ import annotations

import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

from pypgsync_spark import pyworker


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_stamped_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    # a private directory cache and a counting reader: nothing global
    # is installed or left behind
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"graft_zmod_a.py": "A = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    # no stamp yet: the original method reads once and stamps
    pyworker.stamped_invalidate_caches(imp)
    assert len(reads) == 1
    # unchanged archive: never re-read
    for _ in range(5):
        pyworker.stamped_invalidate_caches(imp)
    assert len(reads) == 1
    assert imp.find_spec("graft_zmod_b") is None

    # rewritten archive (new content, new mtime): re-read once
    st = os.stat(archive)
    _write_zip(archive, {"graft_zmod_a.py": "A = 1\n", "graft_zmod_b.py": "B = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    pyworker.stamped_invalidate_caches(imp)
    assert len(reads) == 2
    pyworker.stamped_invalidate_caches(imp)
    assert len(reads) == 2
    spec = imp.find_spec("graft_zmod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.B == 2

    # deleted archive: stat fails, the original method runs (and finds
    # nothing), exactly as without the daemon
    os.remove(archive)
    pyworker.stamped_invalidate_caches(imp)
    assert len(reads) == 3
    assert imp.find_spec("graft_zmod_a") is None


def test_import_installs_nothing_and_install_is_version_gated(monkeypatch):
    original = pyworker._original_invalidate_caches
    assert zipimport.zipimporter.invalidate_caches is original
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original
    monkeypatch.setattr(sys, "version_info", (3, 11, 7))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is pyworker.stamped_invalidate_caches


def test_session_workers_run_the_engine_daemon(spark):
    import pyarrow as pa

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "pypgsync_spark.pyworker"

    def probe(batches):
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {
                    "minor": [sys.version_info[1]] * b.num_rows,
                    "src": [fn.__code__.co_filename] * b.num_rows,
                }
            )

    rows = (
        spark.range(0, 8, numPartitions=4)
        .mapInArrow(probe, "minor long, src string")
        .distinct()
        .collect()
    )
    assert rows
    for r in rows:
        if r["minor"] < 13:
            assert r["src"].endswith(os.path.join("pypgsync_spark", "pyworker.py"))


def test_add_py_file_after_start_is_importable_in_udf(spark, tmp_path):
    from pyspark.sql import functions as F

    # warm the worker pool first, so the import below runs in workers
    # that already stamped their importers
    assert spark.range(0, 4, numPartitions=4).select(
        F.udf(lambda x: x + 1, "long")("id").alias("y")
    ).count() == 4
    name = f"graft_addpy_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {f"{name}.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("long")
    def value(x):
        import importlib

        return importlib.import_module(name).VALUE + x

    got = [r[0] for r in spark.range(0, 4, numPartitions=4).select(value("id")).collect()]
    assert sorted(got) == [42, 43, 44, 45]

