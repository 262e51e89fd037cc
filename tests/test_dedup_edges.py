"""The exact n-gram Jaccard joins over the edge documents a tokenizer
gets wrong first: NULL, empty, whitespace-only and shorter-than-n texts.

- :func:`hashed_shingles` gives, per document, the set of xxhash64
  values of the shingle strings ``with_shingles`` builds (NULL for a
  NULL text).
- ``ngram_jaccard_pairs`` with PPJoin prefix blocking returns exactly
  the rows of the unblocked triangular cross join (the prefix filter
  may prune, never lose).
- ``cross_jaccard_pairs(corpus, delta)`` returns exactly the rows of a
  delta × corpus cross join scored with :func:`jaccard` over
  ``with_shingles`` + ``xxhash64``.
- Every path keeps a pair on the unrounded ``J > θ``, also at a
  threshold between a Jaccard value and its 6-decimal rounding.
- Both prefix joins raise ``ValueError`` for θ outside (0, 1).
- :func:`jaccard_verify` matches a pure-Python Jaccard over hash arrays.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pypgsync_spark.operators.dedup import (
    hashed_shingles,
    jaccard,
    jaccard_verify,
    ngram_jaccard_pairs,
    with_shingles,
)
from pypgsync_spark.operators.incremental import cross_jaccard_pairs

# few, small examples: every one runs several Spark jobs
PARITY = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_WORDS = st.sampled_from(["a", "b", "B", "c", "naïve", "Ω", "x1", "--"])
_SPACE = st.sampled_from([" ", "  ", "\t", " \n "])
_THRESHOLD = st.sampled_from([0.3, 0.5, 0.6666668, 0.8])


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


def _docs(spark, texts, first_id: int = 0):
    return spark.createDataFrame(
        [(first_id + i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@PARITY
@given(texts=_CORPUS, n=st.sampled_from([2, 3]))
def test_hashed_shingles_match_hashed_string_shingles(spark, texts, n):
    df = _docs(spark, texts)
    want = {
        r.doc_id: r.sh
        for r in with_shingles(df, n=n).select(
            "doc_id",
            F.array_distinct(F.transform("shingles", lambda x: F.xxhash64(x))).alias("sh"),
        ).collect()
    }
    got = {r.doc_id: r.shingles for r in hashed_shingles(df, n=n).collect()}
    assert all(sh is None or len(sh) == len(set(sh)) for sh in got.values())

    def as_sets(by_id):
        return {i: sh if sh is None else set(sh) for i, sh in by_id.items()}

    assert as_sets(got) == as_sets(want)


@PARITY
@given(texts=_CORPUS, threshold=_THRESHOLD)
def test_ngram_prefix_blocking_matches_cross_join(spark, texts, threshold):
    df = _docs(spark, texts)
    blocked = _rows(ngram_jaccard_pairs(df, threshold=threshold))
    assert blocked == _rows(ngram_jaccard_pairs(df, threshold=threshold, blocking=None))
    assert len(blocked) == len(set(blocked))


@PARITY
@given(corpus=_CORPUS, delta=_CORPUS, threshold=_THRESHOLD)
def test_cross_jaccard_pairs_match_scored_cross_join(spark, corpus, delta, threshold):
    c_df = _docs(spark, corpus)
    d_df = _docs(spark, delta, first_id=100)

    def hashed(df, side):
        return with_shingles(df).select(
            F.col("doc_id").alias(f"{side}_id"),
            F.array_distinct(F.transform("shingles", lambda x: F.xxhash64(x))).alias(
                f"sh_{side}"
            ),
        )

    j = jaccard(F.col("sh_delta"), F.col("sh_corpus"))
    want = (
        hashed(d_df, "delta")
        .crossJoin(hashed(c_df, "corpus"))
        .filter(j > threshold)
        .select("delta_id", "corpus_id", F.round(j, 6).alias("jaccard"))
    )
    got = _rows(cross_jaccard_pairs(c_df, d_df, threshold=threshold))
    assert got == _rows(want)
    assert len(got) == len(set(got))


# Two documents with 3-gram Jaccard exactly 4/6 = 2/3, which rounds to
# 0.666667: a threshold in (2/3, 0.666667) separates the unrounded test
# from the rounded one.
_TWO_THIRDS = ("a b c d e f g", "a b c d e f h")


@pytest.mark.parametrize(
    "threshold, want",
    [(0.6666666, [0.666667]), (0.6666667, []), (0.6666668, [])],
)
def test_every_path_keeps_pairs_on_unrounded_jaccard(spark, threshold, want):
    df = _docs(spark, _TWO_THIRDS)
    for blocking in (None, "prefix"):
        got = ngram_jaccard_pairs(df, threshold=threshold, blocking=blocking)
        assert [r.jaccard for r in got.collect()] == want, blocking
    cross = cross_jaccard_pairs(
        _docs(spark, _TWO_THIRDS[:1]), _docs(spark, _TWO_THIRDS[1:], first_id=100),
        threshold=threshold,
    )
    assert [r.jaccard for r in cross.collect()] == want


@pytest.mark.parametrize("threshold", [-0.1, 0.0, 1.0, 1.5])
def test_prefix_joins_reject_threshold_outside_open_unit_interval(spark, threshold):
    """Both PPJoin callers refuse a θ the prefix lemma does not cover: at
    θ < 0 every pair has J = 0 > θ, and pairs that share no shingle can
    never meet in the prefix join."""
    df = _docs(spark, _TWO_THIRDS)
    with pytest.raises(ValueError, match="0 < threshold < 1"):
        ngram_jaccard_pairs(df, threshold=threshold)
    with pytest.raises(ValueError, match="0 < threshold < 1"):
        cross_jaccard_pairs(df, _docs(spark, ["x y z"], first_id=100), threshold=threshold)


# A small pool with extreme longs, so drawn arrays overlap often.
_HASH = st.sampled_from([-(2**63), -7, -1, 0, 1, 2, 3, 4, 5, 6, 11, 2**62, 2**63 - 1])
_ARRAY = st.lists(_HASH, unique=True, max_size=8)


@st.composite
def _array_pair(draw) -> tuple[list[int], list[int]]:
    a = draw(_ARRAY)
    kind = draw(st.sampled_from(["identical", "disjoint", "any"]))
    if kind == "identical":
        return a, draw(st.permutations(a))
    if kind == "disjoint":
        return a, draw(st.lists(st.integers(100, 120), unique=True, max_size=8))
    return a, draw(_ARRAY)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    pairs=st.lists(_array_pair(), min_size=1, max_size=30), threshold=_THRESHOLD
)
@example(
    pairs=[([], []), ([1], []), ([1], [1]), ([1], [2]), ([1, 2, 3, 4, 5], [1, 2, 3, 4, 6])],
    threshold=0.6666668,
)
@example(pairs=[([1, 2, 3], [1, 2, 4]), ([1, 2, 3, 4], [3, 4, 5, 6])], threshold=0.5)
def test_jaccard_verify_matches_python_jaccard(spark, pairs, threshold):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, sh_a array<bigint>, sh_b array<bigint>",
    ).localCheckpoint()  # a scan: the filters run in generated code, not on the driver
    got = {
        r.i: r.jaccard
        for r in jaccard_verify(df, "sh_a", "sh_b", threshold).collect()
    }
    want = {}
    for i, (a, b) in enumerate(pairs):
        j = len(set(a) & set(b)) / max(len(set(a) | set(b)), 1)
        if j > threshold:
            want[i] = j
    assert sorted(got) == sorted(want)
    for i, j in want.items():
        assert abs(got[i] - j) <= 5e-7 + 1e-12
