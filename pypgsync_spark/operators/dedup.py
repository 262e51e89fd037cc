"""Deduplication operators for the documents pipeline.

Five dedup families, each a first-class operator designed for 100 TB:

- exact: hash-groupBy on the normalized content's md5 fingerprint —
  one shuffle on the fingerprint, min-id wins (deterministic).
- n-gram Jaccard: the AllPairs/PPJoin prefix-filter join
  (:func:`ppjoin_pairs`, self or cross) — candidates share a prefix
  shingle under one rarest-first order, then exact Jaccard verifies
  them; complete, and never a cross join.
- MinHash + LSH: shingle → k minhashes → b bands of r rows →
  bucket-join candidates → verify with exact Jaccard. The scale path:
  cost is ~(docs × k) hashing + a shuffle per band union, never a
  cross join.
- SimHash: 64-bit weighted token-hash signature; candidates share at
  least one of four 16-bit chunks (pigeonhole: hamming distance ≤ 3
  guarantees a shared chunk), verified by exact hamming distance.
- embedding cosine: near-dup by vector similarity (see similarity.py
  for the kernel).

The n-gram/PPJoin family hashes each shingle string once with Spark's
``xxhash64`` (:func:`hashed_shingles`) — deterministic across
runs/partitionings, JVM-side: shingling, prefix build and verify run
no Python UDF. The one Python kernel is the MinHash signer
(:func:`minhash_signatures`, a ``mapInPandas``): one md5 per shingle
(the hash DuckDB shares bit-for-bit), then a universal hash mod 2^31−1
per permutation.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pypgsync_spark.functions.text import (
    content_fingerprint,
    let_bound,
    tokens,
    word_shingles,
)

# Minhash universe: Mersenne-31. The universal-hash mix multiplies two
# values < 2^31, keeping every intermediate product < 2^62 — inside
# signed-64 range, so the arithmetic is exact (and ANSI-safe; a 2^61
# prime would overflow the multiply). Collision probability per pair
# per permutation is |shingles|/2^31 ≈ 1e-5 — noise next to the 1/64
# signature resolution.
_MERSENNE_31 = (1 << 31) - 1

# At most one live persisted shingle DataFrame (see minhash_lsh_pairs).
_SHINGLE_CACHE: list[DataFrame] = []

# Float slack of the Jaccard bound tests (ppjoin_positional_filter,
# jaccard_verify): it rounds toward keeping a pair, which the exact test
# then drops, never toward losing one.
_EPS = 1e-9

# MinHash-LSH geometry of the batch self-join (minhash_lsh_pairs), the
# band index (lsh_band_index_write) and its probe
# (incremental.lsh_index_screen): word n-gram length, permutations, and
# the default band count. 16 bands of r=4 rows put the S-curve midpoint
# near j≈(1/16)^(1/4)≈0.5; candidates well below the threshold are
# dropped by the exact verify.
LSH_N = 3
LSH_NUM_PERM = 64
LSH_BANDS = 16


def _perm_coeffs(num_perm: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) pairs for the universal hash family
    h_i(x) = (a_i·x + b_i) mod 2^31-1."""
    import random

    rng = random.Random(42)
    a = [rng.randrange(1, _MERSENNE_31) for _ in range(num_perm)]
    b = [rng.randrange(0, _MERSENNE_31) for _ in range(num_perm)]
    return a, b


def dedup_exact(df: DataFrame) -> DataFrame:
    """Keep one row per distinct normalized ``text``: the row with the
    minimum ``doc_id`` (deterministic, oracle-friendly —
    ``dropDuplicates`` would keep an arbitrary row). Shuffles once on
    the fingerprint, not the full text."""
    w = Window.partitionBy(content_fingerprint(F.col("text"))).orderBy(F.col("doc_id"))
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_words: int = 12,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup — the C4/RefinedWeb
    curation pass: explode every document into paragraphs, keep the
    FIRST occurrence of each distinct paragraph corpus-wide (min
    ``(id, para_idx)`` wins — the same deterministic keep-first-by-key
    merge semantic as document-level dedup, reference
    session.py:135-151, applied at sub-document grain), and reassemble
    each document from its surviving paragraphs.

    The fixture corpus has no newlines, so "paragraph" is synthesized
    deterministically: consecutive ``para_words``-token chunks of the
    lower-cased whitespace tokenization (last chunk short; a document
    always yields at least one paragraph). Real corpora would swap the
    chunker for ``split(text, '\\n')`` — every downstream stage is
    chunker-agnostic.

    Returns one row per input document: ``(id, n_paras, kept_paras,
    removed_frac, clean_text)`` where ``clean_text`` is the surviving
    paragraphs re-joined in document order (empty string when every
    paragraph first occurred in an earlier document).

    Scale shape — exactly two shuffles, both on high-cardinality keys:
    (1) the keep-first window partitions by the paragraph string
    itself (hash-partitioned by Spark; paragraph text must ride this
    shuffle anyway because reassembly needs it on the far side, so a
    separate fingerprint column would only widen the row), and (2) the
    per-document reassembly groupBy on ``id``. Paragraph groups are
    tiny (duplicate multiplicity) and document groups are bounded by
    document length, so neither shuffle skews. Everything else is
    map-side: tokenize → chunk-index explode → slice/join, all
    whole-stage-codegen builtins, no HOF lambda captures anything
    beyond bound variables (the reassembly ``transform`` only projects
    a struct field).
    """
    k = para_words
    toks = df.select(id_col, tokens(F.col(text_col)).alias("__ws"))
    chunked = toks.select(
        id_col,
        "__ws",
        F.greatest(F.ceil(F.size("__ws") / F.lit(k)), F.lit(1))
        .cast("int")
        .alias("__np"),
    )
    paras = chunked.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.col("__np") - 1)).alias("__para_idx"),
        "__ws",
    ).select(
        id_col,
        "__para_idx",
        F.array_join(F.slice("__ws", F.col("__para_idx") * k + 1, k), " ").alias(
            "__para"
        ),
    )
    w = Window.partitionBy("__para").orderBy(id_col, "__para_idx")
    flagged = paras.withColumn("__rn", F.row_number().over(w))
    kept = F.col("__rn") == 1
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(kept.cast("int")).cast("bigint").alias("kept_paras"),
            F.sort_array(
                F.collect_list(F.when(kept, F.struct("__para_idx", "__para")))
            ).alias("__kp"),
        )
        .select(
            id_col,
            "n_paras",
            "kept_paras",
            F.round(F.lit(1.0) - F.col("kept_paras") / F.col("n_paras"), 6).alias(
                "removed_frac"
            ),
            F.array_join(
                F.transform("__kp", lambda x: x["__para"]), " "
            ).alias("clean_text"),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles"
) -> DataFrame:
    """Attach the distinct-shingle array column.

    Spreads the input across the session's default parallelism first
    IF it arrives under-split: shingle construction is interpreted
    higher-order-function work (the expensive part of every downstream
    dedup), and a small parquet input is a single split — without the
    shuffle it runs on one core. A many-split input (any real corpus)
    skips the repartition entirely: an explicit repartition() is a
    full round-robin shuffle of the raw text that AQE does NOT elide,
    and at 100 TB that is an avoidable extra pass over the corpus.
    """
    return spread_if_underpartitioned(df).withColumn(
        out, word_shingles(tokens(F.col(text_col)), n)
    )


def hashed_shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """``(doc_id, shingles)``: the distinct xxhash64 of every n-word
    shingle string :func:`with_shingles` builds, in one higher-order
    function pass over the :func:`let_bound` tokens — each shingle
    string is hashed where it is joined, so no string array is built,
    distincted and walked again. NULL ``text`` gives NULL shingles.

    The hashes are exactly those of ``with_shingles`` followed by
    ``array_distinct(transform(shingles, xxhash64))`` (same strings,
    same seed), so every prefix, candidate and verified pair of the
    exact joins built on it is unchanged. The input is spread first by
    the same :func:`spread_if_underpartitioned` rule."""

    def of(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(1)))
        hashes = F.transform(
            idx, lambda i: F.xxhash64(F.array_join(F.slice(t, i, n), " "))
        )
        return F.when(t.isNotNull(), F.array_distinct(hashes))

    return spread_if_underpartitioned(df.select("doc_id", "text")).select(
        "doc_id", let_bound(tokens(F.col("text")), of).alias("shingles")
    )


def spread_if_underpartitioned(df: DataFrame) -> DataFrame:
    """``df.repartition(defaultParallelism)`` only when the input has
    fewer splits than cores — the single-file fixture case. Checking
    costs one plan→RDD conversion (no job)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def ppjoin_prefixes(
    ex: DataFrame, freq: DataFrame, threshold: float
) -> DataFrame:
    """AllPairs/PPJoin prefix build of :func:`ppjoin_pairs`.

    Given the exploded ``(id, sz, sh)`` stream and a ``(sh, __freq)``
    canonical-frequency table, keep each doc's
    ``(size − ⌈θ·size⌉ + 1)``-prefix under the one total order
    (ascending frequency, ties by shingle value — rarest first, so
    distinct documents rarely collide on their prefixes).

    Prefix-filter lemma: J(A,B) > θ ⟹ |A∩B| > θ·max(|A|,|B|), so
    overlap t ≥ ⌈θ·|A|⌉ — and two sets sorted by one total order with
    overlap ≥ t must collide within their (size − t + 1)-prefixes.
    Partitioning the rank window by doc id is skew-free (per-doc
    shingle counts are bounded by doc length).

    Output carries ``__rk`` — the shingle's 1-based rank within the
    doc's FULL set under the canonical order — so the candidate join
    can apply :func:`ppjoin_positional_filter`.
    """
    w = Window.partitionBy("id").orderBy(F.col("__freq").asc(), F.col("sh").asc())
    return (
        ex.join(freq, on="sh")
        .withColumn("__rk", F.row_number().over(w))
        .filter(
            F.col("__rk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("id", "sz", "sh", "__rk")
    )


def ppjoin_positional_filter(
    sz_a: str, sz_b: str, rk_a: str, rk_b: str, threshold: float
) -> Column:
    """PPJoin positional filter (Xiao et al., WWW'08), applied to each
    matching prefix ROW of a candidate join, with that row's own
    full-set ranks ``(rk_a, rk_b)`` of the shingle it matched on.

    A row at ranks (i, j) bounds the overlap of any pair it belongs to
    from the shingle onward: at most ``o_ub = 1 + min(|A| − i, |B| − j)``
    common shingles rank at or after it on both sides. Per row this is
    weaker than per pair, but a pair keeps at least one row exactly when
    the bound holds at the pair's first common prefix shingle w: both
    documents rank by one shared total order, so w has the smallest rank
    on BOTH sides among the pair's matching rows, hence the largest
    bound, and no common shingle precedes it (an earlier one would sit
    inside both prefixes, since prefixes are rank-prefixes). At w the
    bound covers the whole overlap, so a pair whose every row fails
    cannot reach jaccard > θ, which needs ``o·(1+θ) > θ·(|A|+|B|)``
    (from J = o/(|A|+|B|−o)); and a pair that passes at w keeps that
    row. The candidate step therefore needs no per-pair aggregate: a
    ``distinct()`` over the surviving rows' ids gives exactly the pairs
    whose bound holds at w. The ε guards float rounding toward
    UNDER-pruning: a kept non-qualifying candidate just gets vetoed by
    the exact verify, while over-pruning would lose a true pair.
    """
    o_ub = F.lit(1) + F.least(F.col(sz_a) - F.col(rk_a), F.col(sz_b) - F.col(rk_b))
    return o_ub * F.lit(1.0 + threshold) > F.lit(threshold) * (
        F.col(sz_a) + F.col(sz_b)
    ) - F.lit(_EPS)


def ppjoin_length_filter(sz_a: str, sz_b: str, threshold: float) -> Column:
    """PPJoin length filter: J ≤ min/max ⟹ any qualifying pair has
    θ·|A| < |B| AND θ·|B| < |A| — applied inside the candidate
    equi-join to prune cross-size collisions."""
    return (F.col(sz_a) * threshold < F.col(sz_b)) & (
        F.col(sz_b) * threshold < F.col(sz_a)
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays.

    The union size is arithmetic — |a| + |b| − |a∩b| — which is exact
    precisely because the inputs are distinct-element arrays (the
    documented precondition), so no union array is built. The
    expression names ``array_intersect`` twice. A projection's
    generated code can share the two (common-subexpression
    elimination); a join condition's cannot, and a ``jaccard(...) > θ``
    filter after a candidate join is pushed into that join's condition,
    where it intersects twice per row. Filter candidates with
    :func:`jaccard_verify`."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / F.greatest(union, F.lit(1))


def jaccard_verify(pairs: DataFrame, a: str, b: str, threshold: float) -> DataFrame:
    """The rows of ``pairs`` whose distinct-element arrays ``a`` and
    ``b`` have Jaccard > ``threshold``, plus a ``jaccard`` column
    holding it rounded to 6 decimals — the exact verify of every
    candidate-based Jaccard join here.

    Two filters, in this order. The first is a necessary condition that
    names ``I = size(array_intersect(a, b))`` once: from
    J = I/(|a|+|b|−I), ``J > θ ⟺ I·(1+θ) > θ·(|a|+|b|)`` whenever the
    union is non-empty (two empty arrays pass it, and the second filter
    drops them); ε rounds toward keeping. The second is the exact
    ``J > θ`` on the unrounded value — the condition the PPJoin bounds
    are derived for and the DuckDB oracles apply; filtering on the
    rounded value would keep pairs a hair under θ that the prefix path
    has already pruned.

    Both filters land in the verify join's condition, as one
    short-circuiting conjunction: nearly every candidate stops at the
    first conjunct after one intersection, and only the few that pass
    pay :func:`jaccard`'s two. The first conjunct is a codegen'd
    expression; binding ``I`` through a higher-order function instead
    would run interpreted."""
    sa, sb = F.col(a), F.col(b)
    inter = F.size(F.array_intersect(sa, sb))
    bound = inter * F.lit(1.0 + threshold) > F.lit(threshold) * (
        F.size(sa) + F.size(sb)
    ) - F.lit(_EPS)
    return (
        pairs.filter(bound)
        .filter(jaccard(sa, sb) > threshold)
        .withColumn("jaccard", F.round(jaccard(sa, sb), 6))
    )


def ppjoin_pairs(a: DataFrame, b: DataFrame | None, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)``: every pair of an ``a`` document and a
    ``b`` document whose shingle sets have Jaccard > ``threshold`` —
    exact AND complete. ``a`` and ``b`` are :func:`hashed_shingles`
    tables ``(doc_id, shingles)``; ``b=None`` is the self-join of
    ``a``, with ``id_a < id_b``. The test is on the unrounded Jaccard;
    the reported ``jaccard`` is rounded to 6 decimals
    (:func:`jaccard_verify`).

    The one AllPairs/PPJoin prefix filter (Bayardo et al. WWW'07; Xiao
    et al. WWW'08; Vernica et al. SIGMOD'10) of the exact near-dup
    joins: every doc keeps its rarest-first prefix
    (:func:`ppjoin_prefixes`, which holds the lemma), prefixes equi-join
    on the shingle under the length and positional filters
    (:func:`ppjoin_length_filter`, :func:`ppjoin_positional_filter`), a
    ``distinct()`` over the pair ids leaves the candidates, and the
    exact Jaccard verify does the rest. Candidates are driven by
    *content* (shared rare shingles), not by the length histogram, and
    a NULL document (no exploded row) never becomes one.

    Self-join: the frequency order counts ``a`` alone, and one prefix
    table feeds both sides of the candidate join. Cross join: the
    frequency table counts both collections (the lemma needs ONE total
    order) and feeds one prefix build per collection. The table read
    twice — the self-join's prefixes, the cross join's frequencies —
    sits behind a lazy ``localCheckpoint``: without it Spark plans its
    chain twice, with no ReusedExchange. Lazy, because the first branch
    of the main action stores the blocks anyway (MEMORY_AND_DISK, so at
    scale they spill rather than OOM); the trade is lineage truncation.
    Callers checkpoint ``a`` and ``b`` the same way: each is read by a
    prefix build and by the verify join.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("PPJoin needs 0 < threshold < 1")

    def exploded(s: DataFrame) -> DataFrame:
        return s.select(
            F.col("doc_id").alias("id"),
            F.size("shingles").alias("sz"),
            F.explode("shingles").alias("sh"),
        )

    ex_a = exploded(a)
    if b is None:
        b = a
        freq = ex_a.groupBy("sh").agg(F.count(F.lit(1)).alias("__freq"))
        pref_a = pref_b = ppjoin_prefixes(ex_a, freq, threshold).localCheckpoint(
            eager=False
        )
        keep = (F.col("id_a") < F.col("id_b")) & ppjoin_length_filter(
            "sz_a", "sz_b", threshold
        )
    else:
        ex_b = exploded(b)
        freq = (
            ex_a.select("sh")
            .unionByName(ex_b.select("sh"))
            .groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__freq"))
            .localCheckpoint(eager=False)
        )
        pref_a = ppjoin_prefixes(ex_a, freq, threshold)
        pref_b = ppjoin_prefixes(ex_b, freq, threshold)
        keep = ppjoin_length_filter("sz_a", "sz_b", threshold)

    def side(pref: DataFrame, x: str) -> DataFrame:
        return pref.select(
            F.col("id").alias(f"id_{x}"),
            F.col("sz").alias(f"sz_{x}"),
            F.col("__rk").alias(f"__rk_{x}"),
            "sh",
        )

    cand = (
        side(pref_a, "a")
        .join(side(pref_b, "b"), on="sh")
        .filter(
            keep
            & ppjoin_positional_filter("sz_a", "sz_b", "__rk_a", "__rk_b", threshold)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    joined = cand.join(
        a.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")),
        on="id_a",
    ).join(
        b.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")),
        on="id_b",
    )
    return jaccard_verify(joined, "sh_a", "sh_b", threshold).select(
        "id_a", "id_b", "jaccard"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.3,
    blocking: str | None = "prefix",
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) of ``doc_id``s whose ``text`` n-gram
    sets have Jaccard > ``threshold`` — exact AND complete: every
    qualifying pair is returned. The test is on the unrounded Jaccard;
    the reported ``jaccard`` is rounded to 6 decimals
    (:func:`jaccard_verify`).

    ``blocking="prefix"`` (default — the 100 TB path) is the
    AllPairs/PPJoin self-join :func:`ppjoin_pairs`. ``blocking=None``
    does the raw triangular cross join (tests/tiny inputs only).

    Shingles are the xxhash64 of the shingle strings
    (:func:`hashed_shingles`): Jaccard depends only on set sizes, which
    64-bit hashing preserves (collision odds ~|sh|²/2⁶⁴), and long-array
    intersects run ~2× faster than string-array ones. The shingle table
    (read by the prefix build and by both sides of the verify join) is
    computed once, behind a lazy ``localCheckpoint`` — without it every
    branch re-runs the shingling (2× end to end on the fixture).
    """
    s = hashed_shingles(df, n).localCheckpoint(eager=False)
    if blocking == "prefix":
        return ppjoin_pairs(s, None, threshold)
    if blocking is not None:
        raise ValueError(f"unknown blocking mode: {blocking!r}")
    a = s.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = a.join(b, F.col("id_a") < F.col("id_b"))
    return jaccard_verify(joined, "sh_a", "sh_b", threshold).select(
        "id_a", "id_b", "jaccard"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, shingle_col: str, num_perm: int
) -> DataFrame:
    """(id, sig: array<long>) — minhash signature per document.

    Permutation i = min over shingles of the universal hash
    ``(a_i · h(shingle) + b_i) mod 2^31-1`` — ONE string hash per
    shingle, then ``num_perm`` multiply-adds (the classic Broder-style
    permutation family). Hashing the string once instead of
    per-permutation cuts the dominant cost 64×.

    The base hash is the top 60 bits of md5 (hex-parsed), not
    xxhash64: md5 is the one deterministic hash BOTH engines share
    bit-for-bit, which is what lets d3 carry an exact DuckDB oracle
    (r11; DuckDB side: ``CAST('0x' || substr(md5(s),1,15) AS
    BIGINT)``). md5 costs ~2-3× xxhash64 per shingle, still one hash
    per shingle — verifiability across engines is worth the constant.

    Physical shape (r14 optimization round): one Arrow-batched
    ``mapInPandas`` kernel — per document, hash each shingle once
    (``hashlib.md5`` top-60-bits, BIT-IDENTICAL to the previous
    ``conv(substring(md5(s),1,15),16,10)`` expression and to the
    DuckDB oracle's ``CAST('0x'||substr(md5(s),1,15) AS BIGINT)``),
    then one numpy broadcast computes all ``num_perm`` universal
    hashes and their column-mins (every intermediate ``a·h + b`` is
    < 2^62 — exact in int64, same arithmetic as the old codegen
    columns). This replaces the r11 explode → 64 expression columns →
    groupBy(64 mins) shape: the explode inflated the corpus
    |shingles|-fold through 64-column rows and paid a (map-combined)
    shuffle for the per-doc mins, measured ~1.0 s of the 1.4 s
    signature stage at sf0.1 — the kernel is map-only (no shuffle at
    all), ships only (id, shingles) across the Arrow boundary, and
    runs the fold at C speed (guide §4.2; the r13 ivf_assign kernel
    precedent). Docs with NULL/empty shingle sets produce no row,
    exactly as explode did. Bit-equality against the legacy
    formulation is pinned by
    tests/test_dedup.py::test_minhash_signature_kernel_matches_legacy_columns.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    a, b = _perm_coeffs(num_perm)
    a_arr = np.asarray(a, dtype=np.int64).reshape(1, -1)
    b_arr = np.asarray(b, dtype=np.int64).reshape(1, -1)
    id_field = T.StructField(
        "id", df.schema[id_col].dataType, df.schema[id_col].nullable
    )
    schema = T.StructType(
        [id_field, T.StructField("sig", T.ArrayType(T.LongType()))]
    )

    def sign(batches):
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            ids, sigs = [], []
            for i, sh in zip(pdf["id"], pdf["__sh"]):
                if sh is None or len(sh) == 0:
                    continue
                h = np.fromiter(
                    (
                        int(md5(s.encode("utf-8")).hexdigest()[:15], 16)
                        % _MERSENNE_31
                        for s in sh
                    ),
                    dtype=np.int64,
                    count=len(sh),
                )
                m = ((h.reshape(-1, 1) * a_arr + b_arr) % _MERSENNE_31).min(
                    axis=0
                )
                ids.append(i)
                sigs.append(m.tolist())
            if ids:  # an all-filtered batch has no typed columns to emit
                yield pd.DataFrame({"id": ids, "sig": sigs})

    return df.select(
        F.col(id_col).alias("id"), F.col(shingle_col).alias("__sh")
    ).mapInPandas(sign, schema)


def band_bucket_keys(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bucket) — one lean LSH key row per (document, band).

    THE one copy of the minhash band geometry (the mm9/mm10
    ``dhash_band_explode`` precedent): each of ``bands`` bands hashes
    its ``num_perm // bands`` signature slots through ``xxhash64`` into
    a bucket key, and the key rows carry ONLY (band, bucket, id) —
    signature arrays must not ride the ×bands explode or any downstream
    bucket shuffle. Shared by the batch self-join
    (:func:`minhash_lsh_pairs`) and the materialized index
    (:func:`lsh_band_index_write` / the incremental screen), so the
    index a corpus build writes is bit-compatible with the keys a later
    delta probe computes.
    """
    if num_perm % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_perm ({num_perm})")
    r = num_perm // bands
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(
                *[F.element_at(F.col("sig"), bi * r + j + 1) for j in range(r)]
            ).alias("bucket"),
        )
        for bi in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def lsh_band_index_write(df: DataFrame, path: str, bands: int = LSH_BANDS) -> None:
    """Materialize the corpus's MinHash-LSH band index: shingle →
    signature → :func:`band_bucket_keys`, written ``partitionBy(band)``
    with rows range-clustered and sorted on (band, bucket) so parquet
    row-group min/max statistics can skip bucket ranges a probe never
    touches.

    This is the write-once half of the incremental near-dup contract
    (the v15 materialized-ANN-index precedent applied to dedup): the
    expensive part of LSH screening — one md5 per shingle plus
    :data:`LSH_NUM_PERM` multiply-adds over the WHOLE corpus — runs
    once per corpus version here, and every subsequent ingest batch pays only
    its own delta-proportional signature cost before probing these
    lean (id, band, bucket) rows. At 100 TB the index is ~bands rows
    of three integers per document — orders of magnitude under the
    corpus. The (band, bucket) clustering keeps each bucket's rows in
    contiguous row groups; the IMPLEMENTED probe path gates rows with
    a Bloom expression evaluated at the scan (no band/bucket predicate
    is pushed, so no partition or row-group is skipped today — the
    sorted layout is what a future IN-list/DPP probe would need, and
    what keeps the bucket join's shuffle input clustered).
    """
    import json
    import os

    s = with_shingles(df.select("doc_id", "text"), n=LSH_N)
    sig = minhash_signatures(s, "doc_id", "shingles", LSH_NUM_PERM)
    # lazy checkpoint: repartitionByRange SAMPLES its input in a
    # separate job before the write — without this the whole
    # shingle+signature pipeline (the expensive pass the index exists
    # to amortize) runs twice per build
    keys = band_bucket_keys(sig, LSH_NUM_PERM, bands).localCheckpoint(
        eager=False
    )
    (
        keys.repartitionByRange(2 * bands, "band", "bucket")
        .sortWithinPartitions("band", "bucket")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(path)
    )
    # geometry sidecar: a probe built with different (n, num_perm,
    # bands) would join band keys that can never match and silently
    # return ~nothing — the probe asserts against this file instead
    with open(os.path.join(path, "_lsh_geometry.json"), "w") as f:
        json.dump({"n": LSH_N, "num_perm": LSH_NUM_PERM, "bands": bands}, f)


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.3) -> DataFrame:
    """MinHash-LSH near-dup pairs of ``doc_id``s over their ``text``,
    verified with exact Jaccard.

    Pipeline: shingle → signature (:data:`LSH_NUM_PERM`) → for each of
    :data:`LSH_BANDS` bands hash the band's rows into a bucket key →
    union band tables → self-join on (band, bucket) → distinct
    candidate pairs → exact Jaccard filter; candidates well below
    threshold are discarded by the exact check.

    Scale: every stage is a narrow map except the bucket self-join,
    which shuffles on (band, bucket) — skew-safe because identical
    buckets are near-dup groups, bounded by AQE skew splitting.
    """
    from pypgsync_spark.operators.multimodal import single_slot_persist

    s = with_shingles(df.select("doc_id", "text"), n=LSH_N)
    # Cache the (id, shingles) side: it feeds both the signature build
    # and the final exact-Jaccard verification (single-slot convention:
    # bench runs every query twice; at most ONE shingle cache lives).
    s = single_slot_persist(_SHINGLE_CACHE, s)
    sig = minhash_signatures(s, "doc_id", "shingles", LSH_NUM_PERM)
    buckets = band_bucket_keys(sig, LSH_NUM_PERM, LSH_BANDS)
    cand = (
        buckets.alias("l")
        .join(buckets.alias("r"), on=["band", "bucket"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify candidates (few) with exact Jaccard: join shingles back in
    sh = s.select(F.col("doc_id").alias("id"), F.col("shingles"))
    joined = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a")), on="id_a"
    ).join(sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b")), on="id_b")
    return jaccard_verify(joined, "sh_a", "sh_b", threshold).select(
        "id_a", "id_b", "jaccard"
    )


def connected_components(
    edges: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 50
) -> DataFrame:
    """(id, component) for every node in ``edges``; component = the
    minimum node id reachable through the pair graph.

    The dedup-pipeline closer: near-dup PAIRS (from MinHash-LSH /
    SimHash / n-gram Jaccard) become near-dup CLUSTERS, from which one
    canonical document per cluster survives (min id, deterministic).

    Pregel-style min-label propagation: each iteration every node takes
    the min of its own and its neighbors' labels — one shuffle-on-id
    per iteration, converging in O(cluster diameter) rounds (near-dup
    clusters are shallow; the pathological-chain-graph O(log n)
    alternative is Kiveris et al.'s large-star/small-star, same join
    shape). ``localCheckpoint`` truncates lineage each round so plan
    depth stays O(1) instead of O(iterations); convergence is detected
    by the labels' :func:`_fixpoint_signature`.
    """
    sym = _sym_edges(edges, id_a, id_b)
    labels = _self_labels(sym)
    labels, _converged, _rounds = _min_label_rounds(sym, labels, max_iter)
    return labels


def _sym_edges(edges: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Symmetrized, deduped edge list, materialized ONCE: it is joined
    every round, and without the checkpoint each iteration re-runs the
    (possibly expensive) upstream pair-finding pipeline that produced
    the edges."""
    e = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    return (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _self_labels(sym: DataFrame) -> DataFrame:
    return sym.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )


def _fixpoint_signature(df: DataFrame) -> tuple:
    """``(row count, sum of the rows' xxhash64)`` — the convergence
    probe of the CC loops: a round that leaves it unchanged left the
    table unchanged (up to a hash-sum collision). It hashes the ids,
    so it takes ids of any type; a label sum would have to cast them
    to a number. decimal(38,0) accumulator: summing 64-bit hashes
    overflows BIGINT (an ANSI-mode error, a silent wrap otherwise)."""
    return tuple(
        df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
        ).collect()[0]
    )


def _min_label_rounds(
    sym: DataFrame, labels: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool, int]:
    """Up to ``max_rounds`` of min-label propagation; returns
    (labels, converged, rounds_run). One shuffle-on-id per round;
    convergence when a round leaves the labels'
    :func:`_fixpoint_signature` unchanged.

    One Spark JOB per round, not two (r8): the checkpoint is LAZY and
    the convergence aggregate — a full scan — is the action that
    materializes it, so the round's shuffle runs once and its blocks
    are cached for the next round's join. With eager=True each round
    paid a second driver-barrier job just to persist what the very
    next action would read anyway; at O(log n) star rounds on a deep
    graph that is O(log n) saved barriers."""
    prev = None
    converged = False
    rounds = 0
    for _ in range(max_rounds):
        nbr = sym.join(
            labels.select(F.col("id").alias("b"), "component"), on="b"
        ).select(F.col("a").alias("id"), "component")
        labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        rounds += 1
        sig = _fixpoint_signature(labels)
        if sig == prev:
            converged = True
            break
        prev = sig
    return labels, converged, rounds


# Below this many edges the component closure runs as a driver-side
# union-find instead of distributed label-propagation rounds (r14
# optimization round; guide §1.2 "the distributed algorithm" + §5 "the
# driver should do almost no data work" — bounded metadata-scale work
# is the exception that proves the rule). Rationale: every distributed
# CC round is a full job (shuffle + convergence-sum collect), and on a
# near-dup graph of a few hundred edges those rounds are pure
# scheduling overhead — measured 1.3 s (Pregel, d5) to ~4 s
# (star fallback, d6) per query on the sf0.1 fixture for <1k edges.
# 500k edges ≈ 8 MB collected — the same order a broadcast-join build
# side ships to the driver anyway; past the cutoff the distributed
# path runs unchanged.
#
# The byte intuition behind the count assumes FIXED-WIDTH ids (two
# 8-byte longs per edge). The driver path is therefore gated on both
# id columns being integral types (r14 verdict #4 hardening): a
# string-id graph at the same edge count could be an order of
# magnitude more driver bytes, so non-integral ids always take the
# distributed path, whatever the edge count. Pinned by
# tests/test_dedup.py::test_cc_hybrid_string_ids_skip_driver_path.
CC_DRIVER_MAX_EDGES = 500_000

# Hybrid CC: min-label rounds before contracting to the star phase, and
# the star phase's round cap.
CC_PREGEL_ROUNDS = 3
CC_MAX_ITER = 50

_CC_INTEGRAL_TYPES = ("byte", "short", "integer", "long")


def _driver_union_find_labels(spark, rows, id_type: str) -> DataFrame:
    """(id, component), both of type ``id_type``, via driver-side
    union-find over a SMALL, already-collected edge list — bit-identical
    to the distributed variants: component = min reachable node id,
    every endpoint (self-loop-only nodes included) gets a row."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        # larger root attaches under smaller → the final root of every
        # tree is the component-wide min id, matching min-label Pregel
        parent[rb] = ra
    out = sorted((x, find(x)) for x in parent)
    return spark.createDataFrame(out, schema=f"id {id_type}, component {id_type}")


def connected_components_hybrid(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """Adaptive CC — the 100 TB default. Same output contract as
    :func:`connected_components` / :func:`connected_components_star`
    over the ``(id_a, id_b)`` edges. Ids may be of any orderable type;
    the output id type is the same on every path: the wider of the two
    input types.

    Near-dup graphs are almost always shallow (clusters of mutual
    near-duplicates, diameter 1–2), where min-label Pregel converges in
    2–3 rounds of ONE cheap shuffle each and the star machinery's extra
    per-round shuffles are pure overhead. But chain-shaped graphs
    (boilerplate-heavy web text) blow Pregel up to O(diameter) rounds.
    So: run up to :data:`CC_PREGEL_ROUNDS` of min-label propagation; if the
    fixpoint is reached, done. Otherwise CONTRACT the graph through the
    partial labels (endpoints → current label, drop intra-group edges —
    the quotient graph is ≥(2·CC_PREGEL_ROUNDS+1)× smaller in diameter)
    and finish with large-star/small-star in O(log n) rounds. The
    global min id of each component survives contraction as its own
    label (it is the min of its closed neighborhood), so the quotient
    roots are exactly the original component minima and the composed
    labeling matches the other variants bit-for-bit.

    ``stats`` (optional dict) reports ``pregel_rounds`` and
    ``star_rounds`` actually run (plus ``driver_edges`` when the
    small-graph driver path fired).

    Small graphs (≤ :data:`CC_DRIVER_MAX_EDGES` raw edges, read at
    call time) skip the distributed
    rounds entirely: the edge list — materialized exactly once either
    way — is collected and closed with a driver-side union-find. Every
    distributed round is a full Spark job whose cost on a small graph
    is pure scheduling overhead; the cutoff bounds the collect at
    broadcast-build-side scale. The cutoff's byte budget assumes
    fixed-width ids, so the driver path additionally requires both id
    columns to be integral — string-id graphs always run distributed
    (see the :data:`CC_DRIVER_MAX_EDGES` comment).
    """
    # materialize the (possibly expensive) pair-finding pipeline ONCE;
    # both paths reuse this checkpoint. LAZY as of r15: the count probe
    # below is a full scan, so it stores the blocks as a side effect —
    # the eager variant paid a separate barrier job first (a
    # limit-collect probe was considered and rejected: CollectLimit's
    # incremental execution can spend MORE jobs than the count, and a
    # partially-computed lazy checkpoint triggers a missing-partitions
    # cleanup job on top).
    raw = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).localCheckpoint(
        eager=False
    )
    n_edges = raw.count()
    id_types = [f.dataType for f in raw.schema.fields]
    if (
        all(t.typeName() in _CC_INTEGRAL_TYPES for t in id_types)
        and n_edges <= CC_DRIVER_MAX_EDGES
    ):
        if stats is not None:
            stats["pregel_rounds"] = 0
            stats["star_rounds"] = 0
            stats["driver_edges"] = n_edges
        # the wider of the two types, as the distributed path's union gives
        id_type = max(id_types, key=lambda t: _CC_INTEGRAL_TYPES.index(t.typeName()))
        return _driver_union_find_labels(
            raw.sparkSession, raw.collect(), id_type.simpleString()
        )
    sym = _sym_edges(raw, "a", "b")
    labels = _self_labels(sym)
    labels, converged, rounds = _min_label_rounds(sym, labels, CC_PREGEL_ROUNDS)
    if stats is not None:
        stats["pregel_rounds"] = rounds
        stats["star_rounds"] = 0
    if converged:
        return labels
    la = labels.select(F.col("id").alias("a"), F.col("component").alias("ca"))
    lb = labels.select(F.col("id").alias("b"), F.col("component").alias("cb"))
    contracted = (
        sym.join(la, on="a")
        .join(lb, on="b")
        .filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("id_a"), F.col("cb").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # The sum-fixpoint detector needs one round AFTER stabilization to
    # fire, so a graph that converges at exactly CC_PREGEL_ROUNDS
    # reports converged=False (round-5 advisor). The quotient graph is
    # the cheap tiebreak: labels are a fixpoint iff every edge joins
    # two same-label nodes, i.e. the contracted graph is EMPTY — and a
    # uniform label is necessarily the component min (the min node's
    # label can never decrease below itself). The emptiness probe is a
    # limit-1 scan of the just-materialized checkpoint; the whole star
    # stage (2+ shuffle rounds on an empty edge list, plus the compose
    # join) is skipped.
    if contracted.isEmpty():
        return labels
    star_stats: dict = {}
    roots = connected_components_star(
        contracted, max_iter=CC_MAX_ITER, stats=star_stats
    )
    if stats is not None:
        stats["star_rounds"] = star_stats.get("rounds", 0)
    return (
        labels.join(
            roots.select(
                F.col("id").alias("component"), F.col("component").alias("root")
            ),
            on="component",
            how="left",
        )
        .select("id", F.coalesce("root", "component").alias("component"))
    )


def connected_components_star(
    edges: DataFrame, max_iter: int = 50, stats: dict | None = None
) -> DataFrame:
    """(id, component) over the ``(id_a, id_b)`` edges via Kiveris et
    al.'s large-star/small-star (two-phase hashing, SoCC'14) — same
    output contract as :func:`connected_components`, but the round
    count is O(log n) on ANY graph, including the pathological long-chain case where
    min-label Pregel needs O(diameter) rounds.

    Each round rewrites the edge list with two local operations:

    - *large-star*: every node ``u`` attaches each strictly-larger
      neighbor ``v > u`` to ``m = min(Γ(u) ∪ {u})`` — emit ``(v, m)``.
    - *small-star*: on the larger→smaller-oriented list, every node
      ``u`` takes ``m = min(Γ⁻(u))`` of its not-larger neighbors and
      attaches ``u`` and the rest of ``Γ⁻(u)`` to ``m``.

    Both are one groupBy-shuffle on the node id plus one equi-join —
    the same shuffle shape as a Pregel round, no driver data. Edge
    endpoints only ever decrease, so the edge list's
    :func:`_fixpoint_signature` is a fixpoint detector: when a round
    leaves it unchanged, the graph is a forest of stars and every
    remaining edge is ``(node, component-min)``. One scalar collect per
    round, like the Pregel loop. ``stats["rounds"]``, when a dict is
    passed, reports the converged round count (the chain-fixture test
    asserts the O(log n) bound holds).
    """
    # materialize the upstream edge pipeline exactly ONCE — nodes and
    # the working edge list both derive from this checkpoint (two eager
    # checkpoints here would run the possibly-expensive pair-finding
    # pipeline twice)
    raw = edges.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).localCheckpoint(eager=True)
    # node set from the UNFILTERED edges: a node appearing only in
    # self-loop edges (u,u) must still self-label, matching the Pregel
    # variant's output contract
    nodes = (
        raw.select(F.col("a").alias("id"))
        .unionByName(raw.select(F.col("b").alias("id")))
        .distinct()
    )
    e = raw.filter(F.col("a") != F.col("b"))

    def _large_star(ed: DataFrame) -> DataFrame:
        sym = ed.unionByName(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("mnb")).select(
            "a", F.least("a", "mnb").alias("m")
        )
        return (
            sym.join(mins, on="a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # orient larger → smaller (large-star output already is, but
        # re-orienting keeps the op self-contained)
        o = ed.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).filter(F.col("a") != F.col("b"))
        mins = o.groupBy("a").agg(F.min("b").alias("m"))
        return (
            o.join(mins, on="a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(mins.select("a", F.col("m").alias("b")))
            .distinct()
        )

    prev = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        # lazy checkpoint: the signature aggregate below is a full scan
        # and materializes it — one job per round instead of two (the
        # Pregel loop's r8 pattern)
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        cur = _fixpoint_signature(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        # the star fixpoint was not reached: a node may still carry
        # several surviving edges. min(component) below keeps the
        # labeling one-row-per-id (possibly coarser than the true CC),
        # mirroring the Pregel variant's silent-nonconvergence shape.
        warnings.warn(
            f"connected_components_star: no fixpoint after {max_iter} "
            "rounds; labeling may be incomplete",
            RuntimeWarning,
            stacklevel=2,
        )
    # stars: every edge is (member, root). Roots and isolated original
    # nodes label themselves. min() guards the max_iter-exhausted case
    # where an id could appear with multiple surviving edges.
    return (
        nodes.join(
            e.select(F.col("a").alias("id"), F.col("b").alias("component")),
            on="id",
            how="left",
        )
        .groupBy("id")
        .agg(F.min(F.coalesce("component", "id")).alias("component"))
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, sig: long) — 64-bit SimHash per document.

    For each bit position j, sum +1/-1 votes of each distinct token's
    64-bit hash bit j; bit j of the signature is 1 iff the vote is
    positive. Same explode + codegen'd-columns + partial-agg shape as
    :func:`minhash_signatures` (array-lambda aggregates run
    interpreted and are ~10× slower).

    The 64 hash bits come from md5's top 16 hex chars, parsed as two
    non-negative 32-bit halves (hex→int of >15 chars can overflow
    signed BIGINT; two halves avoid ever touching the sign bit, and
    every bit extraction stays on non-negative longs whose ``>>``
    semantics Spark and DuckDB share). md5, not xxhash64, for the same
    reason as :func:`minhash_signatures`: it is the hash both engines
    compute identically, making d4 exactly oracle-checkable (r11).
    """
    toks = (
        spread_if_underpartitioned(df)  # single-file inputs otherwise run one-core
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"),
        )
        .withColumn("__md5", F.md5(F.col("t")))
        # hhi carries hash bits 32..63, hlo bits 0..31
        .withColumn("hhi", F.conv(F.substring("__md5", 1, 8), 16, 10).cast("long"))
        .withColumn("hlo", F.conv(F.substring("__md5", 9, 8), 16, 10).cast("long"))
    )
    votes = toks.groupBy("id").agg(
        *[
            F.sum(
                (
                    F.shiftright(F.col("hlo" if j < 32 else "hhi"), j % 32)
                    .bitwiseAND(F.lit(1))
                    * 2
                    - 1
                ).cast("int")
            ).alias(f"v{j}")
            for j in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(64):
        bit = F.lit(1 << j).cast("long") if j < 63 else F.lit(-(1 << 63)).cast("long")
        sig = sig + F.when(F.col(f"v{j}") > 0, bit).otherwise(F.lit(0).cast("long"))
    return votes.select("id", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 7,
    n_chunks: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash with chunk-LSH candidate generation.

    Signature split into ``n_chunks`` equal chunks; by pigeonhole, any
    pair within hamming distance ``n_chunks - 1`` shares at least one
    exact chunk, so the join on (chunk_index, chunk_value) finds all
    such pairs without a cross join; exact hamming verification
    filters the rest. Defaults (8 × 8-bit chunks, radius 7) match the
    observed hamming spread of high-Jaccard fixture pairs; narrower
    chunks widen the guaranteed radius but admit more random
    collisions (~N²·chunks/2^width candidates).
    """
    if 64 % n_chunks:
        raise ValueError("n_chunks must divide 64")
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"chunk-LSH only guarantees radius {n_chunks - 1} with {n_chunks} chunks"
        )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    s = simhash_signatures(df, id_col, text_col)
    chunks = s.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col("sig"), width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("id", "sig", F.col("ch.ci").alias("ci"), F.col("ch.cv").alias("cv"))
    left = chunks.select("ci", "cv", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    right = chunks.select("ci", "cv", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        left.join(right, on=["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
