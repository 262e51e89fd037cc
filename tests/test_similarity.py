"""Similarity-search correctness: approximate paths (hyperplane LSH,
IVF) recall-checked against the brute-force truth; GEMM pair search
cross-checked against the exact expression formulation."""

from __future__ import annotations

from pyspark.sql import functions as F

from pypgsync_spark.catalog import load_table
from pypgsync_spark.operators.similarity import (
    brute_force_topk,
    cosine_pairs,
    cosine_pairs_expr,
    cosine_pairs_lsh_gated,
    ivf_assign,
    ivf_topk,
    lsh_ann_topk,
)


def _emb(spark, sf):
    return load_table(spark, sf, "embeddings")


def _qvec(spark, sf, vec_id=0):
    return list(_emb(spark, sf).filter(F.col("vec_id") == vec_id).first()["embedding"])


def test_bruteforce_topk_exact(spark, sf_small):
    q = _qvec(spark, sf_small)
    top = brute_force_topk(_emb(spark, sf_small), q, k=10).collect()
    assert len(top) == 10
    assert top[0]["vec_id"] == 0 and abs(top[0]["cos_sim"] - 1.0) < 1e-6
    sims = [r["cos_sim"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_ann_recall(spark, sf_small):
    q = _qvec(spark, sf_small)
    emb = _emb(spark, sf_small)
    truth = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_ann_topk(emb, q, k=10).collect()]
    recall = len(set(truth) & set(approx)) / 10
    assert recall >= 0.5, f"LSH ANN recall {recall} too low"
    # every approx hit must carry the true cosine (exact re-rank)
    t = {r["vec_id"]: r["cos_sim"] for r in brute_force_topk(emb, q, k=500).collect()}
    for r in lsh_ann_topk(emb, q, k=10).collect():
        assert abs(t[r["vec_id"]] - r["cos_sim"]) < 1e-6


def test_ivf_recall(spark, sf_small):
    emb = _emb(spark, sf_small)
    q = _qvec(spark, sf_small)
    cents = [list(r["embedding"]) for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    assigned = ivf_assign(emb, cents)
    # every vector lands in exactly one of the 8 cells
    assert assigned.filter((F.col("cell") < 0) | (F.col("cell") >= 8)).count() == 0
    approx = [r["vec_id"] for r in ivf_topk(assigned, cents, q, k=10, n_probe=8).collect()]
    truth = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    # probing ALL cells must reproduce the exact result
    assert approx == truth


def test_cosine_pairs_is_distributed(spark, sf_small):
    """The registered all-pairs path must not materialize the table on
    the driver (round-1 verdict: collect()+broadcast was the one
    genuine scale-killer). Building the plan triggers no job, the
    physical plan is a grouped-GEMM (FlatMapGroupsInPandas after a
    hash shuffle), and the source has no collect/broadcast."""
    import inspect

    src = inspect.getsource(cosine_pairs)
    assert ".collect(" not in src and "broadcast(" not in src
    df = cosine_pairs(_emb(spark, sf_small), threshold=0.4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_lsh_gated_pairs_recall(spark, sf_small):
    """Banded-LSH gated pairs: every emitted pair is exact-verified
    (subset of the exact result, identical cosine), recall bounded."""
    emb = _emb(spark, sf_small)
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs(emb, threshold=0.4).collect()
    }
    gated = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs_lsh_gated(emb, threshold=0.4).collect()
    }
    assert set(gated) <= set(exact), "gated pairs must be exact-verified"
    for k, v in gated.items():
        assert abs(v - exact[k]) < 1e-9
    recall = len(gated) / max(1, len(exact))
    assert recall >= 0.7, f"banded-LSH recall {recall} too low"


def test_gemm_pairs_match_expression_pairs(spark, sf_small):
    emb = _emb(spark, sf_small).limit(120)
    fast = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs(emb, threshold=0.3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs_expr(emb, threshold=0.3).collect()
    }
    assert set(fast) == set(exact)
    for k in fast:
        assert abs(fast[k] - exact[k]) < 1e-5


def test_knn_join_matches_bruteforce(spark, sf_small):
    """The local-top-k/global-top-k split is lossless: for every block
    count (including B=1, a block count that doesn't divide N, and
    more blocks than needed) the k-NN graph equals the brute-force
    per-row ranking."""
    import numpy as np

    from pypgsync_spark.operators.similarity import knn_join

    emb = _emb(spark, sf_small).limit(80)
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    k = 3
    want = {}
    for i in range(len(ids)):
        # sort by (-cos, nbr_id): same deterministic tie-break as the op
        order = sorted(range(len(ids)), key=lambda j: (-sims[i, j], ids[j]))[:k]
        want[int(ids[i])] = [(int(ids[j]), round(float(sims[i, j]), 6)) for j in order]

    for n_blocks in (1, 3, 8):
        got = {}
        for r in knn_join(emb, k=k, n_blocks=n_blocks).collect():
            got.setdefault(int(r["vec_id"]), []).append(
                (int(r["nbr_id"]), r["cos_sim"])
            )
        for vid in got:
            got[vid].sort(key=lambda t: (-t[1], t[0]))
        assert set(got) == set(want), f"n_blocks={n_blocks}: id set differs"
        for vid in want:
            g, w = got[vid], want[vid]
            assert [x[0] for x in g] == [x[0] for x in w], (
                f"n_blocks={n_blocks} vec {vid}: {g} != {w}"
            )
            for (gn, gc), (wn, wc) in zip(g, w):
                assert abs(gc - wc) < 1e-5


def test_knn_join_k_larger_than_blocks(spark, sf_small):
    """k bigger than some blocks' populations still returns k global
    neighbors (candidates from other blocks fill in)."""
    from pypgsync_spark.operators.similarity import knn_join

    emb = _emb(spark, sf_small).limit(40)
    out = knn_join(emb, k=10, n_blocks=8).groupBy("vec_id").count().collect()
    assert all(r["count"] == 10 for r in out)


def test_cell_gemm_bounds_hot_cell_and_matches_exact(spark):
    """r8 verdict #5 — the j8 hot-key pattern applied to SemDeDup's
    cell-blocked GEMM (d14): on a power-law fixture where ONE cell
    holds 50% of all vectors, the block-nested grouping must split the
    hot cell into n_blocks*(n_blocks+1)/2 bounded GEMM tasks instead
    of one n_hot^2 task, and the result must still equal the numpy
    ground truth exactly. Data-level complement of the plan-shape
    assertion in test_plans.py: this measures the ACTUAL per-group row
    counts on the same hash the kernel shuffles on."""
    import math

    import numpy as np

    from pypgsync_spark.operators.similarity import cell_cosine_pairs

    rng = np.random.default_rng(7)
    n_hot, n_cold_cells, n_cold_each, d, B = 1000, 7, 143, 8, 8
    cells = [0] * n_hot + [
        1 + i % n_cold_cells for i in range(n_cold_cells * n_cold_each)
    ]
    n = len(cells)
    mat = rng.standard_normal((n, d))
    rows = [
        (i, int(cells[i]), [float(x) for x in mat[i]]) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<double>"
    )

    # numpy ground truth per cell; threshold placed mid-gap between the
    # 200th and 201st largest same-cell cosine so no ULP difference
    # between BLAS paths can flip a pair across the boundary (the d14
    # margin-canary discipline)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    carr = np.asarray(cells)
    per_pair = []  # (cos, cell, id_a, id_b)
    for c in sorted(set(cells)):
        idx = np.nonzero(carr == c)[0]
        sims = normed[idx] @ normed[idx].T
        iu, ju = np.triu_indices(len(idx), k=1)
        for a, b, s in zip(idx[iu], idx[ju], sims[iu, ju]):
            per_pair.append((float(s), c, int(a), int(b)))
    per_pair.sort(reverse=True)
    gap = per_pair[199][0] - per_pair[200][0]
    assert gap > 1e-9, f"fixture margin too thin: {gap}"
    threshold = (per_pair[199][0] + per_pair[200][0]) / 2
    expected = {(c, a, b): s for s, c, a, b in per_pair[:200]}

    got = cell_cosine_pairs(df, threshold, n_blocks=B).collect()
    got_keys = {(r["cell"], r["id_a"], r["id_b"]) for r in got}
    assert got_keys == set(expected)
    for r in got:
        want = expected[(r["cell"], r["id_a"], r["id_b"])]
        assert abs(r["cos_sim"] - round(want, 6)) < 1e-9

    # Block-size bound, measured on the SAME hash the kernel groups by:
    # per (cell, bp, bq) group rows = |blk==bp| + |blk==bq| within the
    # cell (diagonal: |blk==bp|). The hot cell's largest group must be
    # ~2*n_hot/B, not n_hot — 2x headroom over the uniform-hash ideal,
    # the j8 bound style.
    blk = {
        (r["cell"], r["b"]): r["n"]
        for r in df.select(
            "cell",
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(B)).cast("int").alias("b"),
        )
        .groupBy("cell", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    group_sizes = [
        blk.get((c, p), 0) + (blk.get((c, q), 0) if q != p else 0)
        for c in sorted(set(cells))
        for p in range(B)
        for q in range(p, B)
    ]
    max_group = max(group_sizes)
    ideal = 2 * math.ceil(n_hot / B)
    assert max_group <= 2 * ideal, (max_group, ideal)
    assert max_group < n_hot / 2  # the hot cell really was split


def test_argmax_assign_guards_zero_norm_vectors(spark):
    """r9 advisor fix, pinned: a zero embedding (and a zero centroid)
    must not propagate NaN cosines into the k-means assignment — the
    guard divides by 1 instead, giving the zero vector cosine 0
    against every centroid and deterministically cell 0 (np.argmax
    first-max-wins). Reverting to a plain `m /= norm` regresses this
    test, not the training run's centroids."""
    from pypgsync_spark.operators.similarity import _argmax_assign_arrow

    rows = [
        ([0.0, 0.0, 0.0, 0.0],),        # zero vector -> cell 0
        ([1.0, 0.0, 0.0, 0.0],),        # aligned with centroid 1
        ([0.0, 0.0, 1.0, 0.0],),        # aligned with centroid 2
    ]
    df = spark.createDataFrame(rows, "embedding array<double>")
    cents = [
        [0.0, 0.0, 0.0, 0.0],           # zero CENTROID: guarded too
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    got = {
        tuple(r["embedding"]): r["cell"]
        for r in _argmax_assign_arrow(df, cents, "embedding").collect()
    }
    assert got[(0.0, 0.0, 0.0, 0.0)] == 0   # all-zero cosines, first max
    assert got[(1.0, 0.0, 0.0, 0.0)] == 1
    assert got[(0.0, 0.0, 1.0, 0.0)] == 2


def test_ivf_assign_kernel_matches_column_form(spark, sf_small):
    """ivf_assign (kernel-backed as of r13) must assign the IDENTICAL
    cell as the Column-expression argmax form it replaced, on every
    fixture vector — the bit-identity that makes the swap
    oracle-neutral (a 1-ulp cosine divergence between two near-tied
    centroids would flip a cell and with it every downstream
    IVF/SemDeDup hash row). The reference form lives here verbatim:
    one cosine() fold per centroid, array-based first-max-wins argmax."""
    from pyspark.sql import functions as F

    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.operators.similarity import cosine, ivf_assign

    emb = load_table(spark, sf_small, "embeddings")
    cents = [
        list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    sims = F.array(
        *[
            cosine(F.col("embedding"), F.array(*[F.lit(float(x)) for x in c]))
            for c in cents
        ]
    )
    column_form = (
        emb.withColumn("__sims", sims)
        .withColumn(
            "cell_ref",
            (
                F.array_position(F.col("__sims"), F.array_max(F.col("__sims")))
                - 1
            ).cast("int"),
        )
        .select("vec_id", "cell_ref")
    )
    kern = ivf_assign(emb, cents).select("vec_id", "cell")
    diff = (
        column_form.join(kern, on="vec_id")
        .filter(F.col("cell_ref") != F.col("cell"))
        .count()
    )
    assert diff == 0


def test_signature_kernel_matches_column_hof(spark, sf_small):
    """hyperplane_signatures_seq (the r12 vectorized kernel) must
    produce the IDENTICAL 32-bit signature as the Column-HOF
    hyperplane_signature on every fixture vector — the bit-identity
    that makes the kernel swap oracle-neutral (a sign flip on any
    near-zero plane dot would silently change pipe6's candidate
    sets)."""
    from pyspark.sql import functions as F

    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.operators.similarity import (
        hyperplane_signature,
        hyperplane_signatures_seq,
    )

    emb = load_table(spark, sf_small, "embeddings")
    hof = emb.select(
        "vec_id", hyperplane_signature(F.col("embedding"), 64, 32).alias("sig")
    )
    kern = hyperplane_signatures_seq(emb, nbits=32)
    diff = (
        hof.withColumnRenamed("sig", "sig_hof")
        .join(kern.withColumnRenamed("sig", "sig_kern"), on="vec_id")
        .filter(F.col("sig_hof") != F.col("sig_kern"))
        .count()
    )
    assert diff == 0
