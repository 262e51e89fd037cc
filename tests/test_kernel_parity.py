"""Parity of the fused Arrow dedup kernels with the Spark-expression
formulations they replaced, over the edge documents a tokenizer gets
wrong first: NULL, empty, whitespace-only and shorter-than-n texts.

- ``hashed_shingles`` vs ``with_shingles`` + ``xxhash64``: the same
  distinct-set size per document and the same pairwise Jaccard (the
  hashes differ, the set identity must not).
- ``minhash_signatures_text`` vs ``minhash_signatures(with_shingles)``:
  bit-identical signatures.
- ``ppjoin_prefixes_bcast`` vs ``ppjoin_prefixes``: identical
  ``(id, sz, sh, __rk)`` rows under one frequency table.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pypgsync_spark.operators.dedup import (
    _collect_freq_if_small,
    hashed_shingles,
    minhash_signatures,
    minhash_signatures_text,
    ppjoin_prefixes,
    ppjoin_prefixes_bcast,
    with_shingles,
)

# few, small examples: every one runs several Spark jobs
PARITY = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_WORDS = st.sampled_from(["a", "b", "B", "c", "naïve", "Ω", "x1", "--"])
_SPACE = st.sampled_from([" ", "  ", "\t", " \n "])


@st.composite
def _text(draw, min_tokens: int, max_tokens: int) -> str:
    words = draw(st.lists(_WORDS, min_size=min_tokens, max_size=max_tokens))
    text = ""
    for w in words:
        text += w + draw(_SPACE)
    return draw(st.one_of(st.just(""), _SPACE)) + text.rstrip(" \t\n")


_DOC = st.one_of(
    st.none(),
    st.just(""),
    _SPACE,  # whitespace-only
    _text(1, 2),  # shorter than n=3 tokens
    _text(3, 9),
)
_CORPUS = st.lists(_DOC, min_size=2, max_size=10)


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / max(len(a | b), 1)


@PARITY
@given(texts=_CORPUS)
def test_hashed_shingles_match_string_shingles(spark, texts):
    df = _docs(spark, texts)
    kernel = {
        r["doc_id"]: None if r["shingles"] is None else set(r["shingles"])
        for r in hashed_shingles(df).collect()
    }
    legacy = {
        r["doc_id"]: None if r["shingles"] is None else set(r["shingles"])
        for r in with_shingles(df.select("doc_id", "text"))
        .withColumn(
            "shingles",
            F.array_distinct(F.transform("shingles", lambda x: F.xxhash64(x))),
        )
        .collect()
    }
    assert kernel.keys() == legacy.keys() == set(range(len(texts)))
    for i in kernel:
        assert (kernel[i] is None) == (texts[i] is None)
        assert (kernel[i] is None) == (legacy[i] is None)
        if kernel[i] is not None:
            assert len(kernel[i]) == len(legacy[i]) >= 1
    ids = [i for i in kernel if kernel[i] is not None]
    for i in ids:
        for j in ids:
            assert _jaccard(kernel[i], kernel[j]) == _jaccard(legacy[i], legacy[j])


@PARITY
@given(texts=_CORPUS)
def test_minhash_signatures_text_match_legacy(spark, texts):
    df = _docs(spark, texts)
    kernel = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures_text(df, "doc_id", "text", 3, 16).collect()
    }
    legacy = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(
            with_shingles(df.select("doc_id", "text")), "doc_id", "shingles", 16
        ).collect()
    }
    assert set(kernel) == {i for i, t in enumerate(texts) if t is not None}
    assert kernel == legacy


def _shingle_rows(spark, texts):
    sp = hashed_shingles(_docs(spark, texts)).filter(F.size("shingles") > 0)
    ex = sp.select(
        F.col("doc_id").alias("id"),
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("sh"),
    )
    freq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("__freq"))
    return sp, ex, freq


@PARITY
@given(texts=_CORPUS, threshold=st.sampled_from([0.3, 0.5, 0.8]))
def test_ppjoin_prefixes_bcast_matches_join_path(spark, texts, threshold):
    sp, ex, freq = _shingle_rows(spark, texts)
    freq_np = _collect_freq_if_small(freq, 1_000_000)
    assert freq_np is not None
    bcast = [tuple(r) for r in ppjoin_prefixes_bcast(sp, freq_np, threshold, "doc_id").collect()]
    joined = [tuple(r) for r in ppjoin_prefixes(ex, freq, threshold).collect()]
    assert len(bcast) == len(set(bcast))
    assert sorted(bcast) == sorted(joined)


def test_ppjoin_prefixes_bcast_rejects_missing_shingle(spark):
    sp, _, freq = _shingle_rows(spark, ["a b c d", "a b c e", "b c d e f"])
    keys, freqs = _collect_freq_if_small(freq, 1_000_000)
    with pytest.raises(Exception, match="missing from the broadcast frequency map"):
        ppjoin_prefixes_bcast(sp, (keys[1:], freqs[1:]), 0.5, "doc_id").collect()
