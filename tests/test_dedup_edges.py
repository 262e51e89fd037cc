"""The exact n-gram Jaccard joins over the edge documents a tokenizer
gets wrong first: NULL, empty, whitespace-only and shorter-than-n texts.

- ``ngram_jaccard_pairs`` with PPJoin prefix blocking returns exactly
  the rows of the unblocked triangular cross join (the prefix filter
  may prune, never lose).
- ``cross_jaccard_pairs(corpus, delta)`` returns exactly the rows of a
  delta × corpus cross join scored with :func:`jaccard` over
  ``with_shingles`` + ``xxhash64``.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pypgsync_spark.operators.dedup import jaccard, ngram_jaccard_pairs, with_shingles
from pypgsync_spark.operators.incremental import cross_jaccard_pairs

# few, small examples: every one runs several Spark jobs
PARITY = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

_WORDS = st.sampled_from(["a", "b", "B", "c", "naïve", "Ω", "x1", "--"])
_SPACE = st.sampled_from([" ", "  ", "\t", " \n "])
_THRESHOLD = st.sampled_from([0.3, 0.5, 0.8])


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

    want = (
        hashed(d_df, "delta")
        .crossJoin(hashed(c_df, "corpus"))
        .select(
            "delta_id",
            "corpus_id",
            F.round(jaccard(F.col("sh_delta"), F.col("sh_corpus")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") > threshold)
    )
    got = _rows(cross_jaccard_pairs(c_df, d_df, threshold=threshold))
    assert got == _rows(want)
    assert len(got) == len(set(got))
