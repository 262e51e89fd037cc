"""Transition-gated incremental aggregate (the reference's trigger
semantics, README.md:157-198): each event id contributes exactly once —
on its first QUALIFYING version — across batches and restarts. This is
the case t5's first-seen dedup cannot express (v1 blocked, v2 ok)."""

from __future__ import annotations

from pyspark.sql import types as T

from pypgsync_spark.streaming.gated import gated_balance

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # raw nanos, as the fixture stores
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

NS = 1_000_000_000


def _land(spark, incoming, name, rows):
    import glob
    import shutil

    staging = incoming.parent / f"_stage_{name}"
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(str(staging))
    for i, part in enumerate(sorted(glob.glob(str(staging / "part-*.parquet")))):
        shutil.copy(part, incoming / f"{name}_{i}.parquet")


def test_gated_balance_transition_semantics(spark, tmp_path):
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    ckpt = str(tmp_path / "ckpt")
    contrib = str(tmp_path / "contrib")

    # batch 1: id1 v1 BLOCKED (must not contribute yet);
    #          id2 v1 ok value=10 (contributes 10);
    #          id3 v1 ok value=7, v2 ok value=99 SAME BATCH → first
    #          qualifying version (ts order) contributes: 7
    _land(spark, incoming, "b1", [
        (1, 100 * NS, 1, "error", 50.0, "{}"),
        (2, 100 * NS, 1, "click", 10.0, "{}"),
        (3, 100 * NS, 2, "click", 7.0, "{}"),
        (3, 200 * NS, 2, "view", 99.0, "{}"),
    ])
    bal1 = gated_balance(spark, str(incoming), SCHEMA, contrib, ckpt)
    got1 = {(r["user_id"], r["balance"], r["n_events"]) for r in bal1.collect()}
    assert got1 == {(1, 10.0, 1), (2, 7.0, 1)}

    # batch 2: id1 v2 becomes qualifying value=5 → contributes NOW;
    #          id2 v2 qualifying value=999 → must NOT re-contribute;
    #          id3 v3 BLOCKED → no effect
    _land(spark, incoming, "b2", [
        (1, 300 * NS, 1, "click", 5.0, "{}"),
        (2, 300 * NS, 1, "view", 999.0, "{}"),
        (3, 300 * NS, 2, "error", 1.0, "{}"),
    ])
    bal2 = gated_balance(spark, str(incoming), SCHEMA, contrib, ckpt)
    got2 = {(r["user_id"], r["balance"], r["n_events"]) for r in bal2.collect()}
    # cumulative balances: id1's late transition adds 5 for user 1;
    # id2 does NOT re-contribute despite a newer qualifying version
    assert got2 == {(1, 15.0, 2), (2, 7.0, 1)}


def test_gated_state_ttl_expires_ids(spark, tmp_path):
    """With ttl_ms=0 every contributed id ages out of state after its
    batch — a later qualifying version re-contributes (the documented
    bounded-state trade, same retention model as
    dropDuplicatesWithinWatermark)."""
    from pypgsync_spark.streaming.gated import gated_balance

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    ckpt = str(tmp_path / "ckpt")
    contrib = str(tmp_path / "contrib")

    _land(spark, incoming, "b1", [(7, 100 * NS, 1, "click", 10.0, "{}")])
    bal1 = gated_balance(spark, str(incoming), SCHEMA, contrib, ckpt, ttl_ms=0)
    assert {(r["user_id"], r["balance"]) for r in bal1.collect()} == {(1, 10.0)}

    _land(spark, incoming, "b2", [(7, 200 * NS, 1, "view", 5.0, "{}")])
    bal2 = gated_balance(spark, str(incoming), SCHEMA, contrib, ckpt, ttl_ms=0)
    # id7 expired from the contributed set → its later version re-adds
    assert {(r["user_id"], r["balance"], r["n_events"]) for r in bal2.collect()} == {
        (1, 15.0, 2)
    }


def test_num_buckets_pinned_across_restarts(spark, tmp_path):
    """The bucket count is part of the checkpoint's state keyspace:
    first start persists it; later starts reuse the pinned value even
    when "auto" would now resolve differently, and a conflicting
    explicit value is an error, not silent state-key remapping."""
    import pytest

    from pypgsync_spark.streaming.gated import pin_num_buckets

    ckpt = str(tmp_path / "ckpt")
    first = pin_num_buckets(spark, ckpt, "auto", default_parallelism=8)
    assert first == 32
    # restart on a "bigger cluster": auto must return the PINNED value
    assert pin_num_buckets(spark, ckpt, "auto", default_parallelism=64) == 32
    # explicit matching value is fine; conflicting value errors
    assert pin_num_buckets(spark, ckpt, 32, default_parallelism=64) == 32
    with pytest.raises(ValueError, match="pinned"):
        pin_num_buckets(spark, ckpt, 16, default_parallelism=64)


def test_num_buckets_pin_on_non_local_fs_uri(spark, tmp_path):
    """The pin must survive an object-store checkpoint (round-4/5
    advisor carry): all marker IO goes through the Hadoop FileSystem
    for the URI's scheme. Exercised with an explicit ``file:`` scheme
    URI — plain open()/os.path would treat the URI string as a weird
    relative path and fail, so a green run proves the marker went
    through Hadoop's scheme-based FileSystem lookup (the same code
    path an s3a:// checkpoint takes)."""
    import pytest

    from pypgsync_spark.streaming.gated import pin_num_buckets

    ckpt = f"file:{tmp_path}/ckpt"
    assert pin_num_buckets(spark, ckpt, "auto", default_parallelism=8) == 32
    assert pin_num_buckets(spark, ckpt, "auto", default_parallelism=64) == 32
    with pytest.raises(ValueError, match="pinned"):
        pin_num_buckets(spark, ckpt, 16, default_parallelism=64)


def test_gated_balance_pin_file_written(spark, tmp_path):
    """gated_balance writes the pin marker on first run and a rerun of
    the same checkpoint keeps answers stable (the restart path)."""
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    ckpt = tmp_path / "ckpt"
    _land(spark, incoming, "b1", [(2, 100 * NS, 1, "click", 10.0, "{}")])
    gated_balance(
        spark, str(incoming), SCHEMA, str(tmp_path / "contrib"), str(ckpt)
    ).collect()
    marker = ckpt / "_pypgsync_num_buckets"
    assert marker.is_file()
    assert int(marker.read_text()) >= 1


def test_gated_balance_rocksdb_provider(spark, tmp_path):
    """The RocksDB state-store knob: same answers, different backend.
    Skips if the provider class is absent from this Spark build."""
    import pytest

    from pypgsync_spark.streaming.balance import ROCKSDB_PROVIDER
    from pypgsync_spark.streaming.gated import gated_balance

    try:
        spark.sparkContext._jvm.java.lang.Class.forName(ROCKSDB_PROVIDER)
    except Exception:
        pytest.skip("RocksDB state store provider not in this Spark build")

    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _land(spark, incoming, "b1", [
        (1, 100 * NS, 1, "error", 50.0, "{}"),
        (2, 100 * NS, 1, "click", 10.0, "{}"),
        (3, 100 * NS, 2, "click", 7.0, "{}"),
    ])
    bal = gated_balance(
        spark,
        str(incoming),
        SCHEMA,
        str(tmp_path / "contrib"),
        str(tmp_path / "ckpt"),
        store_provider="rocksdb",
    )
    got = {(r["user_id"], r["balance"], r["n_events"]) for r in bal.collect()}
    assert got == {(1, 10.0, 1), (2, 7.0, 1)}
    # knob restored after the run
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        != ROCKSDB_PROVIDER
    )


def test_gated_balance_scheme_qualified_uris(spark, tmp_path):
    """r10 review: the contrib-dir existence probe and _file_stream's
    single-file probe go through the Hadoop FileSystem for the URI's
    scheme. With os.path probes, an explicit file: URI (the closest a
    sandbox gets to hdfs://s3a://) silently produced an EMPTY balance
    (contrib dir 'missing') and skipped the single-file pathGlobFilter
    workaround."""
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    _land(spark, incoming, "b1", [
        (1, 100 * NS, 1, "error", 50.0, "{}"),
        (2, 100 * NS, 1, "click", 10.0, "{}"),
    ])
    src_file = next(incoming.glob("*.parquet"))
    bal = gated_balance(
        spark,
        f"file:{src_file}",                 # single FILE, scheme-qualified
        SCHEMA,
        f"file:{tmp_path}/contrib",         # scheme-qualified contrib dir
        f"file:{tmp_path}/ckpt",
    )
    got = {(r["user_id"], r["balance"], r["n_events"]) for r in bal.collect()}
    assert got == {(1, 10.0, 1)}


def test_compact_store_dangling_pointer_noop(spark, sf_small, tmp_path):
    """r10 review: _CURRENT naming a missing generation must be a
    compacted=False no-op like its siblings (read() -> None,
    vacuum_store -> []), not a FileNotFoundException crash."""
    import shutil

    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.sync import ParquetSyncedTable, compact_store

    src = load_table(spark, sf_small, "events").select("event_id", "value")
    store = ParquetSyncedTable(spark, str(tmp_path / "dst"))
    store.write(src)
    cur_name = store._current().rsplit("/", 1)[-1]
    shutil.rmtree(tmp_path / "dst" / cur_name)
    stats = compact_store(store)
    assert stats == {"files_before": 0, "files_after": 0, "bytes": 0, "compacted": False}
