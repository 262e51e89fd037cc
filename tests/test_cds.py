"""The class-data-sharing archive ``session.get_spark`` gives the driver
JVM: when it is used, how a build is promoted, and that a damaged or
mismatched archive still yields a working session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from pypgsync_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONF = {"spark.driver.memory": "1g"}


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A private cache, a templates-only conf dir and no running gateway
    (the test session's JVM is hidden, not touched)."""
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return tmp_path


def _cache(tmp_path) -> str:
    return str(tmp_path / "xdg" / "pypgsync_spark" / "cds")


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_first_start_builds_and_keeps_user_java_options(cds_env):
    conf = {**CONF, "spark.driver.extraJavaOptions": "-Dgraft.user=1 -XX:+UseG1GC"}
    cds = session._cds_launch("local[1]", conf)
    assert cds.building
    assert cds.java_opts.startswith("-Dgraft.user=1 -XX:+UseG1GC ")
    assert f"-XX:ArchiveClassesAtExit={cds.archive}" in cds.java_opts
    assert cds.archive.endswith(f".{os.getpid()}.jsa")
    assert cds.conf_dir == os.path.join(_cache(cds_env), "conf") and not os.listdir(cds.conf_dir)


def test_master_none_or_running_gateway_get_nothing(cds_env, monkeypatch):
    assert session._cds_launch(None, CONF) is None
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._cds_launch("local[1]", CONF) is None


def test_conf_dir_with_a_real_file_gets_no_archive(cds_env):
    conf_dir = str(cds_env / "conf")
    (cds_env / "conf" / "spark-defaults.conf").write_text("spark.foo bar\n")
    assert session._cds_launch("local[1]", CONF) is None
    assert os.environ["SPARK_CONF_DIR"] == conf_dir


def test_unusable_cache_dir_gives_plain_start(cds_env, monkeypatch):
    blocker = cds_env / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert session._cds_launch("local[1]", CONF) is None
    monkeypatch.setenv("XDG_CACHE_HOME", str(cds_env / "with space"))
    assert session._cds_launch("local[1]", CONF) is None


def test_key_covers_jars_and_heap(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    key = session._archive_key(str(tmp_path), "8g")
    assert session._archive_key(str(tmp_path), "8g") == key
    assert session._archive_key(str(tmp_path), "48g") != key
    (jars / "a.jar").write_bytes(b"ab")
    assert session._archive_key(str(tmp_path), "8g") != key


def test_key_covers_classpath_outside_the_jars(cds_env, monkeypatch):
    """An archive dumped under another classpath is refused by the JVM,
    so ``$SPARK_DIST_CLASSPATH`` and ``spark.driver.extraClassPath`` are
    part of the key; with neither set the key is the jars-only one."""
    (cds_env / "jars").mkdir()
    monkeypatch.delenv("SPARK_DIST_CLASSPATH", raising=False)
    key = session._archive_key(str(cds_env), "8g")
    assert session._archive_key(str(cds_env), "8g", "") == key
    extra = session._archive_key(str(cds_env), "8g", "/opt/extra.jar")
    monkeypatch.setenv("SPARK_DIST_CLASSPATH", "/opt/hadoop/lib/*")
    dist = session._archive_key(str(cds_env), "8g")
    assert len({key, extra, dist}) == 3
    # the launch keys on the session's own extraClassPath
    plain = session._cds_launch("local[1]", CONF).archive
    with_cp = session._cds_launch(
        "local[1]", {**CONF, "spark.driver.extraClassPath": "/opt/extra.jar"}
    ).archive
    assert os.path.basename(plain).split(".")[0] != os.path.basename(with_cp).split(".")[0]


def test_build_is_promoted_only_once_its_writer_exited(tmp_path):
    cache, key = str(tmp_path), "k"
    final = os.path.join(cache, "k.jsa")
    part, pidfile = os.path.join(cache, "k.11.jsa"), os.path.join(cache, "k.11.pid")
    with open(part, "wb") as f:
        f.write(b"\xa8\xab\x0b\xf0" + bytes(100))
    with open(pidfile, "w") as f:
        f.write(str(os.getpid()))  # a live writer
    assert session._settle(cache, key) == final
    assert not os.path.exists(final) and os.path.exists(part)
    with open(pidfile, "w") as f:
        f.write(str(_dead_pid()))
    session._settle(cache, key)
    assert os.path.exists(final) and sorted(os.listdir(cache)) == ["k.jsa"]


def test_unfinished_or_unclaimed_builds_are_deleted(tmp_path):
    cache, dead = str(tmp_path), _dead_pid()
    # zero header: the dump was cut short
    with open(os.path.join(cache, "k.12.jsa"), "wb") as f:
        f.write(bytes(100))
    with open(os.path.join(cache, "k.12.pid"), "w") as f:
        f.write(str(dead))
    # no .pid file and the launcher is gone
    with open(os.path.join(cache, f"k.{dead}.jsa"), "wb") as f:
        f.write(b"\xa8\xab\x0b\xf0")
    # no .pid file yet, launcher alive: left alone
    with open(os.path.join(cache, f"k.{os.getpid()}.jsa"), "wb") as f:
        f.write(b"\xa8\xab\x0b\xf0")
    session._settle(cache, "k")
    assert os.listdir(cache) == [f"k.{os.getpid()}.jsa"]


def test_launch_env_is_restored_and_failed_launch_retries_plainly(cds_env, monkeypatch):
    conf_dir = os.environ["SPARK_CONF_DIR"]
    cache = _cache(cds_env)
    os.makedirs(cache)
    archive = os.path.join(cache, session._archive_key(_find_spark_home(), "1g") + ".jsa")
    with open(archive, "wb") as f:
        f.write(b"\xa8\xab\x0b\xf0")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    launches = []

    def get_or_create(builder):
        opts = builder._options.get("spark.driver.extraJavaOptions", "")
        launches.append((opts, os.environ.get("SPARK_CONF_DIR")))
        if "SharedArchiveFile" in opts:
            raise RuntimeError("JVM crashed while mapping the archive")
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    assert session.get_spark(master="local[1]") == "session"
    (opts, launch_conf), (plain_opts, plain_conf) = launches
    assert f"-XX:SharedArchiveFile={archive}" in opts
    assert launch_conf == os.path.join(cache, "conf")
    assert plain_opts == "" and plain_conf == conf_dir
    assert os.environ["SPARK_CONF_DIR"] == conf_dir
    assert not os.path.exists(archive)


# One process, one JVM per session: a session with the given file copied
# to the archive path first ("-": leave it as it is) runs one query, then
# its JVM is stopped and waited for, so an archive it builds is complete.
_SESSIONS = r"""
import json, os, shutil, sys
from pyspark import SparkContext
from pypgsync_spark.session import get_spark

archive = sys.argv[1]
for src in sys.argv[2:]:
    if src != "-":
        if os.path.exists(archive):
            os.remove(archive)
        shutil.copyfile(src, archive)
    spark = get_spark(app_name="cds_test", master="local[1]", shuffle_partitions=1)
    rows = spark.range(10).selectExpr("sum(id) AS s").collect()[0].s
    print(json.dumps({
        "rows": rows,
        "opts": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", ""),
        "conf_dir": os.environ.get("SPARK_CONF_DIR"),
        "classpath": spark._jvm.System.getProperty("java.class.path"),
        "archive_left": os.path.exists(archive),
    }), flush=True)
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None
"""


def test_archive_is_built_mapped_and_damage_falls_back(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "xdg"),
        "SPARK_CONF_DIR": str(conf_dir),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    env.pop("PYSPARK_GATEWAY_PORT", None)
    cache = _cache(tmp_path)
    key = session._archive_key(_find_spark_home(), "1g")
    archive = os.path.join(cache, key + ".jsa")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"

    def sessions(*srcs):
        # cwd: a JVM that crashes writes hs_err_pid*.log there
        p = subprocess.run(
            [sys.executable, "-c", _SESSIONS, archive, *srcs],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        # a JVM crash report also goes to stdout
        out = [json.loads(line) for line in p.stdout.splitlines() if line.startswith("{")]
        return out, p.stderr

    # first start: builds, quietly, and restores the caller's conf dir
    (built,), err = sessions("-")
    assert built["rows"] == 45 and built["conf_dir"] == str(conf_dir)
    assert "-XX:ArchiveClassesAtExit=" in built["opts"]
    assert "[cds" not in err
    assert built["classpath"].startswith(os.path.join(cache, "conf"))
    assert not os.path.exists(archive)

    # promoted as the next start would; it maps with that classpath
    assert session._settle(cache, key) == archive and os.path.exists(archive)
    check = subprocess.run(
        [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}", "-cp", built["classpath"],
         "-version"],
        capture_output=True, text=True,
    )
    assert check.returncode == 0, check.stderr
    truncated = tmp_path / "truncated.jsa"  # header intact, data cut off
    with open(archive, "rb") as f:
        truncated.write_bytes(f.read(1 << 20))
    garbage = tmp_path / "garbage.jsa"
    garbage.write_bytes(bytes(range(256)) * 64)
    # a classpath other than the dump's (another conf dir) is a mismatch
    # the JVM refuses under -Xshare:on; under the default -Xshare:auto it
    # starts quietly without the archive (the JVM decides at start, so
    # this stands for a session)
    other = tmp_path / "other-conf"
    other.mkdir()
    other_cp = built["classpath"].replace(os.path.join(cache, "conf"), str(other), 1)
    for share, ok in (("-Xshare:on", False), ("-Xshare:auto", True)):
        check = subprocess.run(
            [java, share, f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off,cds+dynamic=off",
             "-cp", other_cp, "-version"],
            capture_output=True, text=True,
        )
        assert (check.returncode == 0) == ok and "[cds" not in check.stderr, check.stderr

    mapped, damaged, cut = sessions("-", garbage, truncated)[0]
    for s in (mapped, damaged, cut):
        assert s["rows"] == 45 and s["conf_dir"] == str(conf_dir)
    for s in (mapped, damaged):
        assert f"-XX:SharedArchiveFile={archive}" in s["opts"]
    # the truncated archive crashed the JVM: retried without it, and deleted
    assert "SharedArchiveFile" not in cut["opts"] and not cut["archive_left"]
