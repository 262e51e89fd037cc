"""Incremental dedup — dedup a DELTA against an existing corpus.

At 100 TB nobody re-deduplicates the whole corpus per ingest batch: the
operational contract is "collapse the incoming batch internally, then
drop everything the corpus already has". That is two relational steps,
both fingerprint-keyed:

1. intra-delta collapse: one keeper per normalized-content fingerprint,
   min id wins (same deterministic rule as operators/dedup.dedup_exact);
2. corpus screen: LEFT ANTI join of the keepers against the corpus's
   fingerprint set.

Plan shape: the anti join shuffles both sides on the fingerprint — the
corpus side ships ONLY (fingerprint) after column pruning, and when the
delta is small relative to the corpus (the normal case) Spark/AQE can
instead broadcast the delta-side build. No pass ever touches corpus
text; the fingerprint column is the only thing read (at deploy scale it
would be a precomputed, bucketed column of the corpus table, making the
screen a no-shuffle bucket join — the same layout trick as
sources/bucketed.py).

The near-dup analogue composes the same screen with signature buckets:
minhash-band keys (operators/dedup.minhash_lsh_pairs' banding) replace
the fingerprint, delta bands semi-join corpus bands, and only colliding
pairs get verified — still delta-proportional work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypgsync_spark.functions.text import content_fingerprint
from pypgsync_spark.operators.dedup import (
    LSH_BANDS,
    LSH_N,
    LSH_NUM_PERM,
    band_bucket_keys,
    hashed_shingles,
    jaccard_verify,
    minhash_signatures,
    ppjoin_pairs,
    with_shingles,
)


def incremental_dedup_exact(corpus: DataFrame, delta: DataFrame) -> DataFrame:
    """Rows of ``delta`` that survive exact dedup of ``text`` against
    ``corpus`` (and against the rest of the delta — min ``doc_id``
    keeps).

    Output: the surviving delta rows, original columns.
    """
    fp = content_fingerprint(F.col("text"))
    d = delta.withColumn("__fp", fp)
    w = Window.partitionBy("__fp").orderBy(F.col("doc_id").asc())
    keepers = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    corpus_fps = corpus.select(fp.alias("__fp"))
    return keepers.join(corpus_fps, on="__fp", how="left_anti").drop("__fp")


def cross_jaccard_pairs(
    corpus: DataFrame, delta: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Exact cross-collection near-dup pairs: every (delta doc, corpus
    doc) pair with word-3-gram Jaccard > ``threshold`` — the NEAR-dup
    counterpart of :func:`incremental_dedup_exact`'s corpus screen,
    complete (no candidate loss) and delta-proportional: the candidate
    join is delta-prefix ⋈ corpus-prefix, never delta × corpus.

    The cross form of operators/dedup.ppjoin_pairs (the PPJoin lemmas
    and plan live there) over operators/dedup.hashed_shingles tables,
    each computed once behind a lazy localCheckpoint.

    Output: (delta_id, corpus_id, jaccard). The test is on the
    unrounded Jaccard; the reported ``jaccard`` is rounded to 6
    decimals. ``threshold`` must lie in (0, 1).
    """
    sd = hashed_shingles(delta).localCheckpoint(eager=False)
    sc = hashed_shingles(corpus).localCheckpoint(eager=False)
    return ppjoin_pairs(sd, sc, threshold).select(
        F.col("id_a").alias("delta_id"), F.col("id_b").alias("corpus_id"), "jaccard"
    )


def incremental_dedup_bloom(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_per_key: int = 16,
    n_hashes: int = 5,
    max_bloom_keys: int = 2_000_000,
) -> DataFrame:
    """:func:`incremental_dedup_exact` with a DELTA-side Bloom filter
    pushed into the CORPUS fingerprint scan — same exact answer (the
    Bloom only prunes anti-join INPUT; the anti join still decides),
    scale-path plan. The corpus is the 100 TB side: the plain screen
    ships every corpus fingerprint into the anti-join shuffle, but a
    corpus row whose fingerprint cannot be in the delta can never
    affect a LEFT ANTI result, so a delta-keyed Bloom test at the scan
    drops ~all of the corpus before any shuffle — Spark's runtime
    row-level filtering (InjectRuntimeFilter) made explicit and
    deterministic.

    Construction: the collapsed delta's fingerprints set k seeded
    ``xxhash64`` bit positions in an m-bit bitset (m = next power of
    two ≥ bits_per_key·n → false-positive rate ~0.1% at the defaults;
    false NEGATIVES are impossible — corpus rows matching a delta
    fingerprint hash to the same positions by construction, pinned by
    test). The distinct positions are collected ONCE to the driver —
    k·|delta| values, the bounded driver-scalar class (centroid seeds,
    CC counters) — and the bitset rides the plan as an array<long>
    literal; the per-row corpus test is k codegen'd shift/AND
    expressions, no UDF, no per-row subquery.

    Cost envelope of the pushed-down gate (measured, r14): predicate
    pushdown substitutes the fingerprint alias into the scan filter,
    and filter codegen does NOT common-subexpression-eliminate across
    conjuncts — but the conjunction SHORT-CIRCUITS, so a corpus row
    usually exits at its first bit test (~73% reject there at the
    defaults: set-bit density 1 − e^(−k/bits_per_key) ≈ 0.27),
    costing ~2–3 fingerprint evaluations per rejected row; only rows
    passing every test (≈ true matches + ~0.1% false positives) pay
    all k. All of it is map-side CPU at the scan, traded against
    shipping every corpus fingerprint into the anti-join shuffle.
    Driver boundedness is delta-proportional, so the constructor
    falls back to the plain screen past ``max_bloom_keys`` (a ~10⁶-key
    delta is ~MBs of positions; a delta at CORPUS scale is not an
    ingest batch and the plain anti join is already the right plan).
    """
    fp = content_fingerprint(F.col(text_col))
    d = delta.withColumn("__fp", fp)
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    keepers = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # consumed twice (bloom build + anti join): checkpoint lazily,
        # bloom_prune's key count materializes it
        .localCheckpoint(eager=False)
    )
    pruned = bloom_prune(
        corpus.select(fp.alias("__fp")),
        keepers.select("__fp"),
        "__fp",
        bits_per_key=bits_per_key,
        n_hashes=n_hashes,
        max_keys=max_bloom_keys,
    )
    return keepers.join(pruned, on="__fp", how="left_anti").drop("__fp")


def bloom_prune(
    probe: DataFrame,
    keys: DataFrame,
    key_col: str,
    bits_per_key: int = 16,
    n_hashes: int = 5,
    max_keys: int = 2_000_000,
) -> DataFrame:
    """Filter ``probe`` to rows whose ``key_col`` MAY appear in
    ``keys[key_col]`` — no false negatives by construction (both sides
    hash the key through the same seeded ``xxhash64`` positions), false
    positives only pass extra rows to whatever exact operator follows.

    THE generic Bloom gate (extracted from d16's exact-dedup screen so
    the LSH index probe shares one pinned implementation): the key
    side's distinct bit positions are collected ONCE to the driver —
    k·|keys| values, the bounded driver-scalar class — and the bitset
    rides the plan as an ``array<long>`` literal; the per-row probe
    test is k codegen'd shift/AND conjuncts that short-circuit on the
    first clear bit. Past ``max_keys`` the gate degrades to a no-op
    (returns ``probe`` unchanged): a key side at probe scale is not a
    delta and the ungated plan is already right.

    ``key_col`` must be a concrete column on BOTH inputs (hash
    composite keys into one column first, e.g. ``xxhash64(band,
    bucket)``).

    Physical shape (r14 optimization round, guide §1.2/§7.2): ONE
    driver action — the distinct keys' k raw ``xxhash64`` values come
    back in a single Arrow ``toPandas`` transfer (the old shape was
    two jobs over the same checkpointed key side — a count, then a
    py4j row-by-row collect of ~5·|keys| exploded positions, the
    row conversion alone ~1 s at 80k positions), and the bitset is
    folded in numpy. The mask still rides the plan as an
    ``array(...)`` SQL literal: CreateArray over foldable children
    constant-folds to ONE Literal in the first optimizer pass, and
    the parse is ~100 ms — while the py4j converters (``F.lit`` of a
    list OR of a numpy array) ship 8k elements one JVM call each,
    measured slower than the whole old path. The sizing count is now
    the DISTINCT key count (it rides the same transfer); distinct ≤
    raw count, so the degrade cap triggers no earlier, and either
    sizing only moves the false-positive rate, never correctness.
    """
    import math

    import numpy as np

    seeds = list(range(1, n_hashes + 1))
    hash_cols = [
        F.xxhash64(F.col(key_col), F.lit(s)).alias(f"__h{s}") for s in seeds
    ]
    hpdf = keys.distinct().select(*hash_cols).toPandas()
    n = len(hpdf)
    if n > max_keys:
        return probe
    m = max(64, 1 << math.ceil(math.log2(max(1, n * bits_per_key))))
    mask_np = np.zeros(m // 64, dtype=np.uint64)
    if n:
        hs = hpdf.to_numpy(dtype=np.int64)
        p = (hs & np.int64(m - 1)).ravel()
        np.bitwise_or.at(
            mask_np,
            p >> 6,
            np.left_shift(np.uint64(1), (p & 63).astype(np.uint64)),
        )
    # two's-complement view into signed BIGINT literals
    mask = mask_np.view(np.int64).tolist()
    mask_sql = "array(" + ",".join(f"{x}L" for x in mask) + ")"

    def bit_set(s: int) -> str:
        h = f"(xxhash64(`{key_col}`, {s}) & {m - 1}L)"
        return (
            f"((element_at(__bloom, cast(shiftright({h}, 6) AS INT) + 1)"
            f" & shiftleft(1L, cast({h} & 63L AS INT))) != 0L)"
        )

    cond = " AND ".join(bit_set(s) for s in seeds)
    return (
        probe.withColumn("__bloom", F.expr(mask_sql))
        .filter(F.expr(cond))
        .drop("__bloom")
    )


def lsh_index_screen(
    spark, index_path: str, corpus: DataFrame, delta: DataFrame, bands: int = LSH_BANDS
) -> DataFrame:
    """Near-dup pairs (delta_id, corpus_id, jaccard), Jaccard > 0.3,
    between an ingest DELTA and a standing corpus, probed through the
    corpus's MATERIALIZED LSH band index
    (operators/dedup.lsh_band_index_write) — the near-dup analogue this
    module's header promises, composed with the v15 materialized-index
    and d16 Bloom-gate precedents.

    The verify is hashed, as in d2/d8: the candidate corpus documents
    are shingled straight to xxhash64 arrays
    (operators/dedup.hashed_shingles), while the delta's STRING shingles
    must still feed the md5 minhash signer (the oracle-shared base
    hash), so only its verify-side projection hashes them — Jaccard
    depends on set sizes alone, which 64-bit hashing preserves
    (collision odds ~|sh|²/2⁶⁴), long-array intersects run ~2× faster
    than string-array ones, and the verify joins ship 8-byte elements
    instead of n-gram strings. Equality against the string-verify reference chain is
    pinned by
    tests/test_r14_queries.py::test_d17_matches_indexless_screen_and_recrawl_hits.

    Work is delta-proportional end to end:

    1. the delta (only) is shingled and signed — the corpus's signature
       cost was paid once, at index build;
    2. the delta's (band, bucket) keys build a Bloom gate
       (:func:`bloom_prune` on ``xxhash64(band, bucket)``) that drops
       ~all index rows at the scan, before the bucket join shuffles
       anything;
    3. surviving index rows equi-join the delta keys on (band, bucket)
       — identical candidate geometry to the batch self-join, so recall
       properties carry over unchanged;
    4. ONLY candidate corpus documents are shingled again for the exact
       Jaccard verify (left-semi join first, so corpus text is read for
       |candidates| documents, not |corpus|).

    False positives from the Bloom gate only widen the join input;
    false negatives are impossible (same-key rows hash to the same bit
    positions), so the result is bit-identical to the index-less,
    gate-less screen — pinned against exactly that formulation by
    tests/test_r14_queries.py::test_d17_matches_indexless_screen_and_recrawl_hits.

    Two documented degrade edges: (1) the Bloom gate is a no-op past
    ``bloom_prune``'s ``max_keys`` cap (|delta| × bands keys — ~125k
    docs at the defaults): the probe stays CORRECT but becomes an
    ungated index scan + join, a step-function cost change an operator
    sizing batches should know about; (2) the index must have been
    built with the SAME geometry (``LSH_N``, ``LSH_NUM_PERM`` and
    ``bands``) — mismatched band keys can never match and would
    silently drop every true pair, so the probe asserts against the
    geometry sidecar the writer records and refuses loudly instead.
    """
    import json
    import os

    meta_path = os.path.join(index_path, "_lsh_geometry.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        want = {"n": LSH_N, "num_perm": LSH_NUM_PERM, "bands": bands}
        if meta != want:
            raise ValueError(
                f"LSH index at {index_path} was built with geometry "
                f"{meta}, probe requested {want} — mismatched band "
                "keys silently match nothing; rebuild the index or "
                "probe with its geometry"
            )

    s_d = with_shingles(delta.select("doc_id", "text"), n=LSH_N)
    # feeds both the signature build and the exact verify: lazy
    # checkpoint, materialized by bloom_prune's key count
    s_d = s_d.localCheckpoint(eager=False)
    sig_d = minhash_signatures(s_d, "doc_id", "shingles", LSH_NUM_PERM)
    keys_d = band_bucket_keys(sig_d, LSH_NUM_PERM, bands).localCheckpoint(
        eager=False
    )
    # partition-directory inference must not widen the band column:
    # the Bloom gate hashes (band, bucket) SEPARATELY on each side, and
    # xxhash64(int) != xxhash64(long) for the same value — a silent
    # type drift would turn "no false negatives" into "all negatives".
    bk = F.xxhash64(F.col("band").cast("int"), F.col("bucket"))
    idx = spark.read.parquet(index_path).withColumn(
        "band", F.col("band").cast("int")
    )
    gated = bloom_prune(
        idx.withColumn("__bk", bk), keys_d.select(bk.alias("__bk")), "__bk"
    ).drop("__bk")
    cand = (
        gated.select(F.col("id").alias("corpus_id"), "band", "bucket")
        .join(
            keys_d.select(F.col("id").alias("delta_id"), "band", "bucket"),
            on=["band", "bucket"],
        )
        .select("delta_id", "corpus_id")
        .dropDuplicates(["delta_id", "corpus_id"])
        # consumed twice (the corpus-text semi join and the final pair
        # join): lazy checkpoint so the gated index scan runs once
        .localCheckpoint(eager=False)
    )
    corpus_cand = corpus.join(
        cand.select(F.col("corpus_id").alias("doc_id")).dropDuplicates(),
        on="doc_id",
        how="left_semi",
    )

    sh_c = hashed_shingles(corpus_cand, LSH_N).select(
        F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_c")
    )
    sh_d = s_d.select(
        F.col("doc_id").alias("delta_id"),
        F.array_distinct(F.transform("shingles", lambda x: F.xxhash64(x))).alias("sh_d"),
    )
    joined = cand.join(sh_d, on="delta_id").join(sh_c, on="corpus_id")
    return jaccard_verify(joined, "sh_d", "sh_c", 0.3).select(
        "delta_id", "corpus_id", "jaccard"
    )
