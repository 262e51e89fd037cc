"""seq_cosine's contract is BIT-identity with the oracle kernel.

Driver-side probe rankings (ivf_topk, v8) compare
raw unrounded doubles, so the fold must reproduce DuckDB's
list_dot_product / sqrt composition exactly — not approximately.
Property-tested here against a live DuckDB so the claim can never
silently rot; no SparkSession needed (the engine-side dot() is the
same left fold by construction and is covered by the v-query oracles).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pypgsync_spark.operators.similarity import seq_cosine

# Domain: embedding-scale components. Magnitudes below ~1e-154 make
# x*x underflow to 0.0 — a vector of only such components has a
# zero-squared norm and cosine is undefined (python raises, DuckDB
# NULLs); no embedding ranking ever operates there.
finite = st.one_of(
    st.just(0.0),
    st.floats(min_value=1e-100, max_value=1e6),
    st.floats(min_value=-1e6, max_value=-1e-100),
)


def _duck_cosine(a: list[float], b: list[float]) -> float:
    return duckdb.sql(
        "SELECT list_dot_product($a::DOUBLE[], $b::DOUBLE[]) / "
        "(sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) * "
        " sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))",
        params={"a": a, "b": b},
    ).fetchone()[0]


@given(st.lists(st.tuples(finite, finite), min_size=1, max_size=128))
@settings(max_examples=150, deadline=None)
# pins the ``**0.5``-vs-``math.sqrt`` 1-ulp divergence hypothesis found
# (libm pow is not correctly rounded; sqrt is)
@example(
    pairs=[
        (1000000.0, 0.0),
        (1000000.0, 1.0),
        (1.1, 0.0),
        (346248.812564017, 0.0),
        (0.5, 0.0),
    ],
)
def test_seq_cosine_bit_identical_to_duckdb(pairs):
    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    if not any(a) or not any(b):
        return  # zero vector: 0/0 — no ranking ever compares NaNs
    got = seq_cosine(a, b)
    want = _duck_cosine(a, b)
    # bit identity, not approx: ranking near-ties is the whole point
    assert got == want or (np.isnan(got) and np.isnan(want))


def test_numpy_kernel_would_not_satisfy_this(sf_small):
    """Documents WHY seq_cosine exists: on the real fixture embeddings
    numpy's pairwise np.dot disagrees with DuckDB in the last ulp for
    many vectors (observed 122/200 at sf0.1; this test samples 60 at
    sf0.001). The disagreement count is a property of the host BLAS,
    not of this repo — so a zero count SKIPS with a pointer rather
    than failing the suite on an environment change."""
    rows = duckdb.sql(
        f"SELECT embedding::DOUBLE[] v FROM '{sf_small}/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 60"
    ).fetchall()
    q = rows[0][0]
    mismatch = 0
    for (v,) in rows:
        duck = duckdb.sql(
            "SELECT list_dot_product($a::DOUBLE[], $b::DOUBLE[])",
            params={"a": v, "b": q},
        ).fetchone()[0]
        seq = 0.0
        for x, y in zip(v, q):
            seq += x * y
        assert seq == duck  # the fold is exact on real data too
        if float(np.dot(np.asarray(v), np.asarray(q))) != duck:
            mismatch += 1
    if mismatch == 0:
        pytest.skip(
            "np.dot folded sequentially on this host's BLAS — the "
            "canary is uninformative here; seq_cosine stays (bit "
            "identity is asserted by the property test above)"
        )


@given(st.lists(st.tuples(finite, finite), min_size=1, max_size=128))
@settings(max_examples=150, deadline=None)
def test_cumsum_fold_bit_identical_to_seq_dot(pairs):
    """The r12 vectorized kernels (cosine_scores_seq,
    hyperplane_signatures_seq) rest on ONE claim: a float64
    ``cumsum``'s last element is the same left-to-right sequential
    fold as seq_dot and DuckDB's list_dot_product — NOT numpy's
    pairwise ``.sum()``/``np.dot``. Property-pinned so the
    oracle-neutral kernel swaps can never silently rot."""
    from pypgsync_spark.operators.similarity import seq_dot

    a = np.array([x for x, _ in pairs], dtype="float64")
    b = np.array([y for _, y in pairs], dtype="float64")
    got = float((a * b).cumsum()[-1])
    assert got == seq_dot(list(a), list(b))
