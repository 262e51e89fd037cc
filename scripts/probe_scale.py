"""Linear-scaling probes for the headline operator families (SCALE.md
evidence).

The bench measures at sf0.1 — ~10⁵ rows, small enough that fixed
per-job costs are a visible fraction of every figure. These probes
stage the SAME fixture tables at larger multipliers (id-shifted
copies) and time the SAME operators the bench runs, so the scaling
claims in SCALE.md are measured, not asserted. Throughput that holds
or grows with input is the fixed-cost-amortization signature; the
data-proportional part of each plan is what a 1000-executor cluster
actually pays.

Ops:
  merge  — the headline upsert merge (stale dst + fresh delta →
           last-writer-wins; queries/syncq.py::s3_upsert_merge shape).
           Copies shift event_id; timestamps unchanged, so stale/delta
           selectivity is exact.
  dedup  — exact dedup (min-id keeper per content fingerprint,
           operators/dedup.py::dedup_exact). Copies share text, so
           group size GROWS with the multiplier — the dup-heavy-corpus
           case, one keeper per content across all copies.
  pack   — token-budget prefix sum (operators/packing.py::pack_chunks)
           over pre-counted tokens: times the two-level scan machinery
           itself, not tokenization.
  gate   — the transition-gated streaming drain (streaming/gated.py::
           gated_balance), each run a full from-scratch availableNow
           drain with a fresh checkpoint.
  cellpairs — SemDeDup's cell-bucketed GEMM (similarity.py::
           cell_cosine_pairs) over ×mult vectors assigned to the same
           8 fixed centroids. Intrinsic work is Σ n_cell²·d (×mult²),
           so the recorded verdict is gemm_mults_per_sec: wall must
           track the work metric, which is what proves the block-split
           machinery adds only linear overhead.
  knn    — the exact k-NN graph self-join (similarity.py::knn_join),
           intrinsic work N²·d; same work-normalized verdict.
  decode — the media decode stage (multimodal.py::audio_decode_stats)
           over REAL RIFF/WAVE bytes staged to a parquet binary
           column: parquet scan → Arrow batch → chunk-walking decode →
           stats. Map-only; rows/sec verdict.
  curate — the streaming ingest-curation drain (streaming/dedupe.py::
           stream_ingest_curation): corpus screen + watermarked
           fingerprint dedup over a ×mult dup-heavy crawl. Copies
           share text, so the dedup STATE stays fixed while arrivals
           grow ×mult. Each run a from-scratch availableNow drain.
  ssjoin — the t10 stream-stream interval join at ×mult arrivals with
           DISJOINT user copies (fixed per-key window overlap), staged
           as 8 time-ordered single-file waves drained with
           maxFilesPerTrigger=1 so the watermark evicts mid-drain;
           emits per-batch state rows (state_evidence). Verdict is
           join_pairs_per_sec; pairs must equal the batch join.
  semscreen — pipe6's stateless streaming semantic screen
           (streaming/dedupe.py::semantic_screen_stream) at ×mult
           incoming vectors against a fixed corpus; copies carry the
           same vectors, so candidate volume grows exactly ×mult.
           Verdict is cand_rows_per_sec (no state to measure — the
           plan is stateless by construction, plan-asserted in
           tests/test_streaming.py).

Staged inputs live under a tempdir and are deleted afterwards.

Usage:
    python scripts/probe_scale.py                 # merge at 1x, 10x
    python scripts/probe_scale.py --op dedup 1 10 30
    python scripts/probe_scale.py --op gate 1 10

Prints one JSON line per multiplier plus a scaling summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from pypgsync_spark.catalog import load_table
from pypgsync_spark.functions.time import to_millis
from pypgsync_spark.operators.merge import upsert_merge
from pypgsync_spark.queries.syncq import MS_JAN10, MS_JAN20
from pypgsync_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _multiply(df, mult: int, id_col: str, shift: int):
    """mult id-shifted copies of df (one staging job; not timed)."""
    if mult == 1:
        return df
    return (
        df.withColumn("__c", F.explode(F.array(*[F.lit(i) for i in range(mult)])))
        .withColumn(id_col, F.col(id_col) + F.col("__c").cast("long") * F.lit(shift))
        .drop("__c")
    )


def stage_events(spark, mult: int, base: str) -> str:
    ev = (
        load_table(spark, SF_DIR, "events")
        .withColumn("updated_ms", to_millis("ts"))
        .select("event_id", "updated_ms", "user_id", "event_type", "value", "props")
    )
    path = f"{base}/events_x{mult}"
    _multiply(ev, mult, "event_id", 10**9).repartition(32).write.parquet(path)
    return path


def run_merge(spark, path: str) -> None:
    df = spark.read.parquet(path)
    stale = df.filter(F.col("updated_ms") < MS_JAN20).select(
        "event_id",
        (F.col("updated_ms") - 1000).alias("updated_ms"),
        "user_id",
        "event_type",
        (F.col("value") - 1).alias("value"),
        "props",
    )
    fresh = df.filter(F.col("updated_ms") >= MS_JAN10)
    upsert_merge(
        stale, fresh, keys=["event_id"], version_col="updated_ms"
    ).write.format("noop").mode("overwrite").save()


def stage_docs(spark, mult: int, base: str) -> str:
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    path = f"{base}/docs_x{mult}"
    _multiply(d, mult, "doc_id", 10**7).repartition(32).write.parquet(path)
    return path


def run_dedup(spark, path: str) -> None:
    from pypgsync_spark.operators.dedup import dedup_exact

    dedup_exact(spark.read.parquet(path)).write.format("noop").mode(
        "overwrite"
    ).save()


def run_paradedup(spark, path: str) -> None:
    from pypgsync_spark.operators.dedup import paragraph_dedup

    paragraph_dedup(spark.read.parquet(path)).write.format("noop").mode(
        "overwrite"
    ).save()


def stage_tokens(spark, mult: int, base: str) -> str:
    from pypgsync_spark.functions.text import token_count

    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    path = f"{base}/tokens_x{mult}"
    _multiply(d, mult, "doc_id", 10**7).repartition(32).write.parquet(path)
    return path


def run_pack(spark, path: str) -> None:
    from pypgsync_spark.operators.packing import pack_chunks

    pack_chunks(
        spark.read.parquet(path), "source", "doc_id", "n_tokens", budget=2048
    ).write.format("noop").mode("overwrite").save()


def stage_gate(spark, mult: int, base: str) -> str:
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    path = f"{base}/gate_events_x{mult}"
    _multiply(ev, mult, "event_id", 10**9).repartition(32).write.parquet(path)
    return path


def make_run_gate(base: str):
    from pypgsync_spark.streaming.gated import gated_balance

    counter = {"n": 0}

    def run(spark, path: str) -> None:
        # fresh checkpoint + contrib per run: every sample is a full
        # from-scratch drain (the bench's RocksDB-runner convention)
        counter["n"] += 1
        work = f"{base}/gate_work_{counter['n']}"
        schema = spark.read.parquet(path).schema
        gated_balance(
            spark,
            source_path=path,
            schema=schema,
            contrib_dir=f"{work}/contrib",
            checkpoint_dir=f"{work}/ckpt",
        ).write.format("noop").mode("overwrite").save()

    return run


def stage_cellpairs(spark, mult: int, base: str) -> str:
    """Embeddings × mult, assigned to the SAME 8 fixed centroids at
    every multiplier (r10 verdict #6: fixed cell count, id-shifted
    copies) — cells grow ×mult, so the intrinsic GEMM work Σ n_cell²·d
    grows ×mult², and the thing under test is whether wall tracks THAT
    (the block-split machinery staying linear in its work), not row
    count. Copies are identical vectors: the dup-heavy-corpus case,
    same convention as the dedup probe."""
    from pypgsync_spark.operators.similarity import ivf_assign

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    path = f"{base}/cells_x{mult}"
    ivf_assign(_multiply(e, mult, "vec_id", 10**7), cents).repartition(
        32
    ).write.parquet(path)
    return path


def run_cellpairs(spark, path: str) -> None:
    from pypgsync_spark.operators.similarity import cell_cosine_pairs

    cell_cosine_pairs(spark.read.parquet(path), threshold=0.4).write.format(
        "noop"
    ).mode("overwrite").save()


def work_cellpairs(spark, path: str) -> int:
    """Σ n_cell² · d — the SemDeDup kernel's intrinsic multiply count."""
    cells = spark.read.parquet(path).groupBy("cell").count().collect()
    return sum(int(r["count"]) ** 2 for r in cells) * 64


def stage_knn(spark, mult: int, base: str) -> str:
    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = f"{base}/knn_x{mult}"
    _multiply(e, mult, "vec_id", 10**7).repartition(32).write.parquet(path)
    return path


def run_knn(spark, path: str) -> None:
    from pypgsync_spark.operators.similarity import knn_join

    knn_join(spark.read.parquet(path), k=3).write.format("noop").mode(
        "overwrite"
    ).save()


def work_knn(spark, path: str) -> int:
    """N² · d — the exact k-NN self-join's intrinsic multiply count."""
    n = spark.read.parquet(path).count()
    return n * n * 64


def stage_decode(spark, mult: int, base: str) -> str:
    """REAL RIFF/WAVE container bytes at ×mult rows, written to parquet
    — the at-rest shape the media pipeline reads (binary column next
    to typed metadata). Payload bytes are generated by the same
    mapInPandas encoder mm5 uses, so the decode probe times the full
    deploy path: parquet scan of the binary column → Arrow batch →
    chunk-walking decode → per-channel stats."""
    from pypgsync_spark.operators.multimodal import with_audio_payload

    d = load_table(spark, SF_DIR, "documents").select("doc_id")
    path = f"{base}/wav_x{mult}"
    with_audio_payload(_multiply(d, mult, "doc_id", 10**7)).repartition(
        32
    ).write.parquet(path)
    return path


def run_decode(spark, path: str) -> None:
    from pypgsync_spark.operators.multimodal import audio_decode_stats

    audio_decode_stats(spark.read.parquet(path)).write.format("noop").mode(
        "overwrite"
    ).save()


def stage_curate(spark, mult: int, base: str) -> str:
    """Incoming crawl at ×mult: id-shifted copies SHARE text, so the
    fingerprint-group size grows with the multiplier while the distinct-
    fingerprint count (= the dedup state and the emitted rows) stays
    FIXED — the claim under test is pipe5's: state bounded by novel
    content, not arrival volume."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = f"{base}/curate_x{mult}"
    _multiply(d, mult, "doc_id", 10**7).repartition(32).write.parquet(path)
    return path


def run_curate(spark, path: str) -> None:
    from pypgsync_spark.streaming.dedupe import stream_ingest_curation

    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(path)
        .withColumn(
            "crawl_ts",
            F.timestamp_millis(
                F.lit(86400000) + (F.col("doc_id") % 97) * F.lit(3600000)
            ),
        )
    )
    corpus = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    # fresh (temporary) checkpoint per drain — every sample is a full
    # from-scratch availableNow pass, the gate probe's convention
    stream_ingest_curation(
        spark, stream, corpus, query_name="probe_curate_mem"
    ).write.format("noop").mode("overwrite").save()


def stage_ssjoin(spark, mult: int, base: str) -> str:
    """Events at ×mult with BOTH ids shifted per copy: each copy is a
    disjoint user population, so the per-user join-window overlap is
    FIXED while arrivals and novel pairs grow exactly ×mult — the t10
    linear scale path (per-key state bounded by the watermark horizon,
    keys spread across shuffle partitions). The staged directory holds
    8 time-ordered wave files (ntile over event time — a one-time
    staging sort, not the measured path) with ascending mtimes, so the
    file stream's micro-batches advance event time like a real ingest
    and the watermark provably evicts BOTH sides mid-drain (a single
    all-files batch would hold every arrival in state and prove
    nothing about boundedness)."""
    from pyspark.sql import Window

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    if mult > 1:
        ev = (
            ev.withColumn(
                "__c", F.explode(F.array(*[F.lit(i) for i in range(mult)]))
            )
            .withColumn(
                "event_id",
                F.col("event_id") + F.col("__c").cast("long") * F.lit(10**9),
            )
            .withColumn(
                "user_id",
                F.col("user_id") + F.col("__c").cast("long") * F.lit(10**7),
            )
            .drop("__c")
        )
    n_waves = 8
    waves_dir = f"{base}/ssjoin_waves_x{mult}"
    # ONE file per wave: each micro-batch must be a CONTIGUOUS time
    # slice, or rows in a wave's later part-files arrive behind a
    # watermark their earlier siblings already advanced past the
    # wave's max (wave span ~3.6 days > the 2-day delay) and are
    # silently dropped as late — observed as lost pairs on the first
    # cut of this probe
    ev.withColumn(
        "__wave", F.ntile(n_waves).over(Window.orderBy("ts", "event_id"))
    ).repartition(n_waves, "__wave").write.partitionBy("__wave").parquet(waves_dir)
    path = f"{base}/ssjoin_x{mult}"
    os.makedirs(path)
    t0 = time.time() - 3600
    i = 0
    for w in range(1, n_waves + 1):
        wave_dir = f"{waves_dir}/__wave={w}"
        for part in sorted(os.listdir(wave_dir)):
            if not part.endswith(".parquet"):
                continue
            dst = f"{path}/w{w:02d}_{part}"
            shutil.copy(f"{wave_dir}/{part}", dst)
            os.utime(dst, (t0 + i, t0 + i))  # file-source order = arrival order
            i += 1
    return path


SSJOIN_EVIDENCE: list[dict] = []


def run_ssjoin(spark, path: str) -> None:
    """interval_join_events' composition (streaming/joins.py:48-70),
    wired here with maxFilesPerTrigger=1 so the availableNow drain is
    ~8 micro-batches with an advancing watermark, and with the query
    handle kept so per-batch state-store rows are captured — the
    boundedness evidence the drain itself cannot expose."""
    import json as _json

    from pypgsync_spark.streaming.balance import stream_shuffle_partitions

    schema = spark.read.parquet(path).schema

    def side(event_type, id_alias, ts_alias, user_alias):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )
        return (
            src.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                # staged parquet reads back TIMESTAMP_NTZ; watermarks
                # need TIMESTAMP (session tz is pinned UTC, so the
                # cast is the identity — the functions/time convention)
                F.col("ts").cast("timestamp").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 days")
        )

    left = side("error", "error_id", "error_ts", "user_id")
    right = side("click", "click_id", "click_ts", "r_user_id")
    joined = left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("click_ts") <= F.col("error_ts")),
        "inner",
    ).select("error_id", "click_id")
    # t10's state_partitions=8 rationale (streamq.py:244-250)
    with stream_shuffle_partitions(spark, 8):
        q = (
            joined.writeStream.outputMode("append")
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    progress = []
    for p in q.recentProgress:
        progress.append(p if isinstance(p, dict) else _json.loads(p.json))
    state_rows = [
        sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
        for p in progress
    ]
    SSJOIN_EVIDENCE.append(
        {
            "op": "ssjoin_state",
            "path": os.path.basename(path),
            "batches": len(progress),
            "max_state_rows": max(state_rows, default=0),
            "end_state_rows": state_rows[-1] if state_rows else 0,
            "pairs_emitted": sum(
                p.get("sink", {}).get("numOutputRows", 0) for p in progress
            ),
        }
    )


def work_ssjoin(spark, path: str) -> int:
    """Novel pair count — the join's intrinsic output work (wall must
    track pairs, which grow exactly ×mult under disjoint-user copies)."""
    ev = spark.read.parquet(path)
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("error_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user_id"), F.col("ts").alias("click_ts")
    )
    return e.join(
        c,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("click_ts") >= F.col("error_ts") - F.expr("INTERVAL 6 HOURS"))
        & (F.col("click_ts") <= F.col("error_ts")),
        "inner",
    ).count()


def stage_semscreen(spark, mult: int, base: str) -> str:
    """Incoming embedding stream at ×mult: id-shifted copies carry the
    SAME vectors, so each copy probes the same corpus buckets and the
    candidate volume grows exactly ×mult — the linear scale path for
    pipe6's stateless screen (no state to grow; the knob is candidate
    throughput)."""
    e = load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") % 10 == 0
    ).select("vec_id", "embedding")
    path = f"{base}/semscreen_x{mult}"
    _multiply(e, mult, "vec_id", 10**7).repartition(32).write.parquet(path)
    return path


def run_semscreen(spark, path: str) -> None:
    from pypgsync_spark.streaming.balance import stream_shuffle_partitions
    from pypgsync_spark.streaming.dedupe import semantic_screen_stream

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    corpus = load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") % 10 != 0
    )
    with stream_shuffle_partitions(spark, "auto"):
        q = (
            semantic_screen_stream(stream, corpus)
            .writeStream.outputMode("append")
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def work_semscreen(spark, path: str) -> int:
    """Candidate-row count (the screen's intrinsic output work) —
    computed by running the PRODUCT operator itself on the staged
    batch frames (semantic_screen_stream works on batch and streaming
    inputs alike), so there is exactly one copy of the banding logic
    and a geometry change can never silently diverge the probe's
    work metric from what the screen actually does."""
    from pypgsync_spark.streaming.dedupe import semantic_screen_stream

    corpus = load_table(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") % 10 != 0
    )
    return semantic_screen_stream(spark.read.parquet(path), corpus).count()


def stage_phash(spark, mult: int, base: str) -> str:
    """Document ids at ×mult for the image near-dup chain: shifted
    copies (shift a multiple of PH_GROUP) keep the roles-of-5 group
    structure, and the md5 content key includes the shifted group id,
    so copies are mutually unrelated — near-dup pairs grow exactly
    ×mult (0.6/doc at every scale, the mm9 fixture invariant)."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id")
    path = f"{base}/phash_x{mult}"
    _multiply(d, mult, "doc_id", 10**7).repartition(32).write.parquet(path)
    return path


def run_phash(spark, path: str) -> None:
    from pypgsync_spark.operators.multimodal import (
        dhash_near_pairs,
        image_dhash_bands,
        with_neardup_image_payload,
    )

    dhash_near_pairs(
        image_dhash_bands(with_neardup_image_payload(spark.read.parquet(path))),
        max_hamming=3,
    ).write.format("noop").mode("overwrite").save()



def run_afp(spark, path: str) -> None:
    # mm11's audio chain on phash's staging (same roles-of-5 group
    # geometry, same shift argument — pairs grow exactly ×mult)
    from pypgsync_spark.operators.multimodal import (
        audio_fingerprint_bands,
        audio_near_pairs,
        with_neardup_audio_payload,
    )

    audio_near_pairs(
        audio_fingerprint_bands(with_neardup_audio_payload(spark.read.parquet(path))),
        max_hamming=3,
    ).write.format("noop").mode("overwrite").save()


def stage_mmscreen(spark, mult: int, base: str) -> str:
    """Incoming image-doc ids at ×mult for mm10's streaming screen:
    id-shifted copies (shift a multiple of 10 preserves the %10
    incoming split and the roles-of-5 group structure) carry NEW md5
    content groups, so each copy probes the corpus buckets with fresh
    signatures — incoming work grows exactly ×mult while the standing
    corpus stays fixed, the live-ingest scale axis. Copy 0 keeps the
    original ids, so the matched pairs (exact dup at id+1, near-dup at
    id+2) are present at every multiplier."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id").filter(
        F.col("doc_id") % 10 == 0
    )
    path = f"{base}/mmscreen_x{mult}"
    _multiply(d, mult, "doc_id", 10**7).repartition(32).write.parquet(path)
    return path


def run_mmscreen(spark, path: str) -> None:
    from pypgsync_spark.streaming.balance import stream_shuffle_partitions
    from pypgsync_spark.streaming.dedupe import image_screen_stream

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    corpus = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    with stream_shuffle_partitions(spark, "auto"):
        q = (
            image_screen_stream(stream, corpus)
            .writeStream.outputMode("append")
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def work_mmscreen(spark, path: str) -> int:
    """Screen-row count (the probe's intrinsic output work) — computed
    by the PRODUCT operator itself on the staged batch frame (the
    work_semscreen discipline: one copy of the banding logic, so a
    geometry change cannot silently diverge probe work from screen
    work)."""
    from pypgsync_spark.streaming.dedupe import image_screen_stream

    corpus = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    return image_screen_stream(spark.read.parquet(path), corpus).count()


def run_sq8(spark, path: str) -> None:
    # v13's quantized-scan ANN: kernel scores + top-50 heap + exact
    # re-rank, against the ORIGINAL corpus's vec 0 as the query
    from pypgsync_spark.operators.similarity import (
        brute_force_topk,
        sq8_approx_scores,
    )

    q = list(
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    )
    emb = spark.read.parquet(path)
    cand = (
        sq8_approx_scores(emb, q)
        .select(
            "vec_id", "embedding", F.round(F.col("acos_sim"), 6).alias("acos_r")
        )
        .orderBy(F.col("acos_r").desc(), "vec_id")
        .limit(50)
    )
    brute_force_topk(cand, q, k=10).write.format("noop").mode(
        "overwrite"
    ).save()


def run_dsir(spark, path: str) -> None:
    # tx17's chain over the staged corpus (the same dsir_weights the
    # query runs — one copy of the logic)
    from pypgsync_spark.queries.textops import dsir_weights

    dsir_weights(
        spark.read.parquet(path), view="pypgsync_probe_dsir_bg"
    ).write.format("noop").mode("overwrite").save()


def run_audscreen(spark, path: str) -> None:
    from pypgsync_spark.streaming.balance import stream_shuffle_partitions
    from pypgsync_spark.streaming.dedupe import audio_screen_stream

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    corpus = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    with stream_shuffle_partitions(spark, "auto"):
        q = (
            audio_screen_stream(stream, corpus)
            .writeStream.outputMode("append")
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def work_audscreen(spark, path: str) -> int:
    """Screen-row count by the PRODUCT operator itself on the staged
    batch frame (the work_mmscreen discipline)."""
    from pypgsync_spark.streaming.dedupe import audio_screen_stream

    corpus = load_table(spark, SF_DIR, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    return audio_screen_stream(spark.read.parquet(path), corpus).count()


def stage_delta_docs(spark, mult: int, base: str) -> str:
    """d17's ingest-delta fixture (fresh %10==0 docs + re-crawls of
    %7==3 under shifted ids), multiplied with id shifts; copies share
    text, so candidate volume against the FIXED corpus grows exactly
    ×mult while the corpus-side cost must stay flat."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    fresh = d.filter(F.col("doc_id") % 10 == 0)
    recrawl = d.filter(F.col("doc_id") % 7 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    delta = fresh.unionByName(recrawl)
    path = f"{base}/delta_x{mult}"
    _multiply(delta, mult, "doc_id", 10**7).repartition(32).write.parquet(path)
    return path


def make_run_lshscreen(base: str):
    """d17's probe half against a corpus index built ONCE (on the
    first — cold — run, so the steady figures time exactly what a
    recurring ingest batch pays: delta signing + Bloom-gated index
    scan + bucket join + candidate-only verify)."""
    built: list[str] = []

    def run(spark, path: str) -> None:
        from pypgsync_spark.operators.dedup import lsh_band_index_write
        from pypgsync_spark.operators.incremental import lsh_index_screen

        corpus = load_table(spark, SF_DIR, "documents").filter(
            F.col("doc_id") % 10 != 0
        ).select("doc_id", "text")
        idx = f"{base}/lsh_idx"
        if not built:
            lsh_band_index_write(corpus, idx)
            built.append(idx)
        lsh_index_screen(spark, idx, corpus, spark.read.parquet(path)).write.format(
            "noop"
        ).mode("overwrite").save()

    return run


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--op",
        default="merge",
        choices=[
            "merge",
            "dedup",
            "paradedup",
            "pack",
            "gate",
            "cellpairs",
            "knn",
            "decode",
            "curate",
            "ssjoin",
            "semscreen",
            "phash",
            "afp",
            "mmscreen",
            "sq8",
            "dsir",
            "audscreen",
            "lshscreen",
        ],
    )
    ap.add_argument("multipliers", nargs="*", type=int, default=[1, 10])
    args = ap.parse_args()
    mults = args.multipliers or [1, 10]

    spark = get_spark(app_name=f"pypgsync_spark_probe_{args.op}")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix=f"probe_{args.op}_")
    # (stage, run, n_warm, work_fn, work_key): work_fn makes the
    # verdict work-normalized — wall must track the op's INTRINSIC
    # work metric, named by work_key in the output
    stage, run, n_warm, work_fn, work_key = {
        "merge": (stage_events, run_merge, 3, None, None),
        "dedup": (stage_docs, run_dedup, 3, None, None),
        # d15's paragraph-level pass: same doc staging, linear family
        # (two hash shuffles, both keyed on high-cardinality values)
        "paradedup": (stage_docs, run_paradedup, 3, None, None),
        "pack": (stage_tokens, run_pack, 3, None, None),
        "gate": (stage_gate, make_run_gate(base), 2, None, None),  # drains are slow
        # the GEMM family's intrinsic work is quadratic in cell/corpus
        # size; their scaling verdict is work-normalized (mults/sec),
        # not rows/sec
        "cellpairs": (stage_cellpairs, run_cellpairs, 2, work_cellpairs, "gemm_mults"),
        "knn": (stage_knn, run_knn, 2, work_knn, "gemm_mults"),
        "decode": (stage_decode, run_decode, 3, None, None),
        "curate": (stage_curate, run_curate, 2, None, None),  # drains are slow
        # the stream-stream join's intrinsic work is its novel-pair
        # output (×mult under disjoint-user copies); its extra
        # evidence line is per-batch state rows (ssjoin_state)
        "ssjoin": (stage_ssjoin, run_ssjoin, 2, work_ssjoin, "join_pairs"),
        # pipe6's stateless screen: intrinsic work = candidate rows
        "semscreen": (stage_semscreen, run_semscreen, 2, work_semscreen, "cand_rows"),
        # mm9's encode->decode->hash->band-join chain; linear family
        "phash": (stage_phash, run_phash, 3, None, None),
        # mm11's audio decode->fingerprint->band-join chain; linear
        "afp": (stage_phash, run_afp, 3, None, None),
        # mm10's stateless image screen: intrinsic work = screen rows
        "mmscreen": (stage_mmscreen, run_mmscreen, 2, work_mmscreen, "screen_rows"),
        # v13's SQ8 quantized scan: linear in corpus rows (kernel map
        # + per-partition candidate heaps, zero shuffles)
        "sq8": (stage_knn, run_sq8, 3, None, None),
        # tx17's DSIR chain: linear in bigram occurrences (explode +
        # three map-side-combined aggregates off one checkpoint)
        "dsir": (stage_docs, run_dsir, 3, None, None),
        # mm12's stateless audio screen: intrinsic work = screen rows
        "audscreen": (stage_mmscreen, run_audscreen, 2, work_audscreen, "screen_rows"),
        # d17's index probe: delta-proportional by design (index built
        # once on the cold run; steadies time the recurring batch)
        "lshscreen": (stage_delta_docs, make_run_lshscreen(base), 3, None, None),
    }[args.op]

    results = []
    try:
        for m in mults:
            path = stage(spark, m, base)
            n = spark.read.parquet(path).count()
            work = work_fn(spark, path) if work_fn else None
            t0 = time.time()
            run(spark, path)  # cold: codegen + footer reads (+ JNI for gate)
            cold = time.time() - t0
            warm = []
            for _ in range(n_warm):
                t0 = time.time()
                run(spark, path)
                warm.append(time.time() - t0)
            sec = min(warm)
            r = {
                "op": args.op,
                "multiplier": m,
                "rows": n,
                "cold_sec": round(cold, 3),
                "steady_sec": round(sec, 3),
                "rows_per_sec": round(n / max(sec, 1e-9)),
            }
            if work is not None:
                r[work_key] = work
                r[f"{work_key}_per_sec"] = round(work / max(sec, 1e-9))
            if args.op == "ssjoin" and SSJOIN_EVIDENCE:
                ev = dict(SSJOIN_EVIDENCE[-1])  # the last (steady) drain
                ev["multiplier"] = m
                # ADVICE r12: the docstring's 'pairs must equal the
                # batch join' claim is now ASSERTED, not left to a
                # manual two-field comparison — a staging/watermark
                # regression (the silent late-row drop that
                # one-file-per-wave staging exists to prevent) fails
                # the probe loudly instead of shipping a quiet lie.
                ev["pairs_lossless"] = ev["pairs_emitted"] == work
                if not ev["pairs_lossless"]:
                    raise AssertionError(
                        f"ssjoin x{m}: streaming drain emitted "
                        f"{ev['pairs_emitted']} pairs but the batch "
                        f"join counts {work} — late rows dropped "
                        "behind the watermark (check wave staging)"
                    )
                r["state_evidence"] = ev
            results.append(r)
            print(json.dumps(r))
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()
    if len(results) >= 2:
        # compare smallest vs largest MULTIPLIER, not argument order —
        # `--op merge 10 1` must not report an inverted ratio
        by_mult = sorted(results, key=lambda r: r["multiplier"])
        a, b = by_mult[0], by_mult[-1]
        key = f"{work_key}_per_sec" if work_fn else "rows_per_sec"
        ratio = (b[key] / a[key]) if a.get(key) else 0
        print(
            json.dumps(
                {
                    "op": args.op,
                    "summary": f"{b['multiplier']}x/{a['multiplier']}x "
                    f"throughput ratio ({key})",
                    "ratio": round(ratio, 3),
                    "linear_or_better": ratio >= 0.9,
                }
            )
        )


if __name__ == "__main__":
    main()
