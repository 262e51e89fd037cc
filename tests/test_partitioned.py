"""Date-partitioned sink: dynamic overwrite must replace only the
partitions the delta touches, and date predicates must prune
partitions at the scan."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pypgsync_spark.catalog import load_table
from pypgsync_spark.sources.partitioned import (
    DATE_COL,
    read_date_partitioned,
    with_event_date,
    write_date_partitioned,
)


def _events(spark, sf_small):
    df = load_table(spark, sf_small, "events")
    return with_event_date(
        df.select("event_id", "ts", "user_id", "event_type", "value")
    )


def _part_files(path):
    out = {}
    for d in os.listdir(path):
        if not d.startswith(f"{DATE_COL}="):
            continue
        full = os.path.join(path, d)
        out[d] = {
            f: os.stat(os.path.join(full, f)).st_mtime_ns
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_dynamic_overwrite_touches_only_delta_partitions(spark, sf_small, tmp_path):
    df = _events(spark, sf_small)
    path = str(tmp_path / "dst")
    write_date_partitioned(df, path)
    before = _part_files(path)
    assert len(before) > 2, "fixture should span several dates"

    # delta: only the two newest dates, values bumped
    dates = sorted(d for d in before)
    touched = {dates[-1], dates[-2]}
    delta = df.filter(
        F.col(DATE_COL).isin([d.split("=")[1] for d in touched])
    ).withColumn("value", F.col("value") + 1)
    write_date_partitioned(delta, path)

    after = _part_files(path)
    assert set(after) == set(before)
    for d in before:
        if d in touched:
            assert after[d] != before[d], f"{d} should have been rewritten"
        else:
            assert after[d] == before[d], f"{d} must be physically untouched"

    # read-back: untouched dates original, touched dates bumped
    back = read_date_partitioned(spark, path)
    orig_sum = df.filter(~F.col(DATE_COL).isin([d.split("=")[1] for d in touched])).agg(
        F.sum("value")
    ).first()[0]
    bumped = df.filter(F.col(DATE_COL).isin([d.split("=")[1] for d in touched]))
    expect = float(orig_sum) + float(
        bumped.agg(F.sum("value")).first()[0]
    ) + bumped.count()
    got = float(back.agg(F.sum("value")).first()[0])
    assert abs(got - expect) < 1e-6


def test_date_predicate_prunes_partitions(spark, sf_small, tmp_path):
    df = _events(spark, sf_small)
    path = str(tmp_path / "pruned")
    write_date_partitioned(df, path)
    one_date = df.select(F.max(DATE_COL)).first()[0]
    q = read_date_partitioned(spark, path).filter(F.col(DATE_COL) == F.lit(one_date))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    assert q.count() == df.filter(F.col(DATE_COL) == F.lit(one_date)).count()


def test_streaming_ingest_into_partitioned_layout(spark, sf_small, tmp_path):
    """Structured Streaming file sink writes straight into the same
    event_date layout (writeStream.partitionBy); the batch reader
    operates on its output unchanged."""
    df = _events(spark, sf_small)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df.drop(DATE_COL).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        with_event_date(stream)
        .writeStream.format("parquet")
        .partitionBy(DATE_COL)
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert read_date_partitioned(spark, out).count() == df.count()
