"""Vector similarity search over embedding columns (array<float>).

Kernels are pure Column expressions (``zip_with`` + ``aggregate``,
double precision, sequential accumulation — bit-compatible with the
DuckDB oracle's ``list_dot_product`` on DOUBLE[]). No Python in the
hot path; an optional Pandas-UDF kernel exists for very wide vectors
where Arrow-batched numpy beats expression codegen.

Three search strategies:

- brute-force top-k: cross-join against a broadcast query vector →
  ``TakeOrderedAndProject``. O(N) per query — the exactness baseline.
- random-hyperplane LSH ANN: sign-bit signature over ``nbits`` fixed
  hyperplanes → candidates share the signature bucket (optionally with
  multi-probe on neighboring buckets) → exact re-rank inside buckets.
- IVF-style partition search: assign every vector to its nearest of
  ``n_cells`` deterministic centroid vectors (one shuffle, reusable),
  probe the ``n_probe`` nearest cells at query time, exact re-rank.

At 100 TB: brute force is a full scan per query (only for offline
batch scoring); LSH/IVF bound the scan to a bucket/cell subset and the
assignment tables are write-once, query-many.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, sequential order (oracle-compatible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def seq_dot(a, b) -> float:
    """Driver-side dot product with strictly SEQUENTIAL double
    accumulation — the same left fold :func:`dot` runs in-engine and
    DuckDB's ``list_dot_product`` runs in the oracles. Any driver-side
    SIGN or ranking decision that an oracle must reproduce (e.g. the
    query's hyperplane signature bits in :func:`lsh_ann_topk`) must use
    this, not numpy's ``@`` — np.dot's pairwise/SIMD summation differs
    in the last ulp and could flip a near-zero sign the SQL side
    computes sequentially."""
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def seq_cosine(a, b) -> float:
    """Driver-side cosine with strictly SEQUENTIAL double accumulation
    — the same left fold :func:`dot` runs in-engine and DuckDB's
    ``list_dot_product`` runs in the oracles (verified bit-identical
    on the fixture; numpy's pairwise/SIMD ``np.dot`` differs in the
    last ulp on >half the fixture vectors). Probe/cell RANKINGS compare
    raw unrounded doubles, so any driver-side ranking that feeds a
    cell filter must use this fold, or a near-tied pair of centroids
    can order differently than the oracle's and flip the probed set."""
    s = xx = yy = 0.0
    for x, y in zip(a, b):
        x, y = float(x), float(y)
        s += x * y
        xx += x * x
        yy += y * y
    # math.sqrt is the correctly-rounded IEEE sqrt (matches DuckDB's);
    # ``**0.5`` goes through libm pow, which is NOT correctly rounded —
    # hypothesis found a 1-ulp divergence (see the pinned @example).
    return s / (math.sqrt(xx) * math.sqrt(yy))


def brute_force_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The query vector is a plan literal (implicitly broadcast); the scan
    is embarrassingly parallel and Catalyst plans the order+limit as
    TakeOrderedAndProject (heap top-k, no global sort).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        vectors.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 6).alias(sim_col),
        )
        .orderBy(F.col(sim_col).desc(), F.col(id_col))
        .limit(k)
    )


def _pair_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )


def cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine > threshold — embedding
    near-dup detection. Exact, fully distributed. With ``group_cols``,
    only pairs AGREEING on those columns are compared (SemDeDup's
    within-cell restriction — see :func:`cell_cosine_pairs`); the
    group values are prepended to the output columns.

    Physical strategy: block-nested GEMM self-join. Each row gets a
    deterministic block id ``pmod(xxhash64(id), B)``; every unordered
    block pair (p ≤ q) — within each group — becomes one shuffle group
    holding block p's and block q's rows, and an Arrow-batched
    ``applyInPandas`` runs the (N/B)×(N/B) GEMM per group at BLAS
    speed. No driver ``collect()``, no full-matrix broadcast: shuffle
    volume is B·N·d values (each row replicated B times via explode),
    peak executor memory is one 2N/B × d block pair plus its (N/B)²
    score tile. Pick B ≈ N·d·8 bytes / target-block-bytes; total work
    is the intrinsic N²d/2 FLOPs of exactness (Σ n_group²·d with
    groups). Past ~10⁸ rows, gate candidates first
    (:func:`cosine_pairs_lsh_gated`) and accept approximate recall.

    The expression-based exact-sequential-sum variant is
    :func:`cosine_pairs_expr` (bit-identical to the DuckDB oracle;
    this one agrees to ~1e-15, far inside the 1e-6 output rounding).
    """
    import pandas as pd

    from pyspark.sql import types as T

    gcols = list(group_cols or [])
    v = vectors.select(*gcols, id_col, vec_col).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    # Replicate each row to every unordered block pair it belongs to:
    # for a row in block i, keys {(min(i,j), max(i,j)) : j} are distinct,
    # so each row lands exactly once in each of its B groups.
    keyed = (
        v.withColumn("__other", F.explode(F.array(*[F.lit(j) for j in range(n_blocks)])))
        .withColumn("__bp", F.least("__blk", "__other"))
        .withColumn("__bq", F.greatest("__blk", "__other"))
    )
    schema = T.StructType(
        [vectors.schema[c] for c in gcols] + list(_pair_schema())
    )

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["__bp"].iloc[0])
        q = int(pdf["__bq"].iloc[0])
        mat = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        blk = pdf["__blk"].to_numpy()
        if p == q:
            a_idx = np.arange(len(pdf))
            b_idx = a_idx
        else:
            a_idx = np.nonzero(blk == p)[0]
            b_idx = np.nonzero(blk == q)[0]
        sims = mat[a_idx] @ mat[b_idx].T  # blocked GEMM
        ida, idb = ids[a_idx], ids[b_idx]
        if p == q:
            # upper triangle: each within-block pair exactly once
            mask = (sims > threshold) & (ida[:, None] < idb[None, :])
        else:
            # blocks are disjoint → every cross pair appears exactly once
            # in this group; orient ids afterwards
            mask = sims > threshold
        ia, jb = np.nonzero(mask)
        lo = np.minimum(ida[ia], idb[jb])
        hi = np.maximum(ida[ia], idb[jb])
        out = {c: pdf[c].iloc[[0] * len(ia)].to_numpy() for c in gcols}
        out.update(
            {"id_a": lo, "id_b": hi, "cos_sim": np.round(sims[ia, jb], 6)}
        )
        return pd.DataFrame(out)

    return keyed.groupBy(*gcols, "__bp", "__bq").applyInPandas(gemm, schema)


def cosine_pairs_lsh_gated(vectors: DataFrame, threshold: float) -> DataFrame:
    """Approximate all-pairs cosine > threshold over 64-dim
    ``(vec_id, embedding)`` rows: hyperplane-LSH banding gates
    candidates, exact GEMM verifies inside buckets.

    The 16-bit sign signature is split into 8 bands of 2 bits;
    two vectors are compared iff they agree on at least one full band
    (same explode→groupBy bucketing as MinHash-LSH in dedup.py — no
    all-pairs stage anywhere). Work is Σ bucket² instead of N²; recall
    is the standard banding S-curve (P(agree per hyperplane) = 1−θ/π).
    This is the 100 TB path where the exact :func:`cosine_pairs`
    block join becomes intractable; pytest asserts its recall against
    the exact result on the fixture.
    """
    import pandas as pd

    n_bands, rb = 8, 2
    # r13: signatures via the Arrow-batched sequential kernel (same
    # bits as the Column-HOF form — see hyperplane_signatures_seq —
    # but vectorized over rows instead of nbits interpreted folds per
    # row); keep_vec carries the vector to the bucket GEMM map-only.
    v = hyperplane_signatures_seq(vectors, nbits=n_bands * rb, keep_vec=True)
    banded = v.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * rb)
                        .bitwiseAND(F.lit((1 << rb) - 1))
                        .alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band"),
    ).select("vec_id", "embedding", "__band.band", "__band.val")

    def gemm_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        sims = mat @ mat.T
        ia, jb = np.nonzero((sims > threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame(
            {
                "id_a": ids[ia],
                "id_b": ids[jb],
                "cos_sim": np.round(sims[ia, jb], 6),
            }
        )

    pairs = banded.groupBy("band", "val").applyInPandas(gemm_bucket, _pair_schema())
    # A pair agreeing on k bands is emitted k times; dedupe by the PAIR
    # KEY with a deterministic max over the scores — NOT distinct() on
    # the rounded float (r10 review): each bucket's GEMM runs on a
    # different-shaped sub-matrix, so the same pair's cosine can differ
    # in the last ulp across bands, and if that straddles a 1e-6
    # rounding boundary distinct() would keep BOTH rows (this repo's
    # r8 history shows 1-ulp float divergences are real). Same shuffle
    # cost — the hit set is the only thing moving either way.
    return pairs.groupBy("id_a", "id_b").agg(F.max("cos_sim").alias("cos_sim"))


def cosine_pairs_expr(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Expression-based exact variant of :func:`cosine_pairs`
    (sequential-sum dot product; matches DuckDB bit-for-bit, but the
    per-pair interpreted lambdas make it ~100× slower — keep for
    oracle-fidelity tests and small inputs)."""
    v = vectors.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("v_a"), F.col("v_b")), 6))
        .filter(F.col("cos_sim") > threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed → stable buckets)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim))


def hyperplane_signature(
    vec: Column, dim: int, nbits: int = 16, seed: int = 42
) -> Column:
    """LSH signature: bit i = sign(vec · hyperplane_i). Returns a long."""
    planes = _hyperplanes(dim, nbits, seed)
    sig = F.lit(0).cast("long")
    for i in range(nbits):
        h = F.array(*[F.lit(float(x)) for x in planes[i]])
        sig = sig + F.when(dot(vec, h) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def lsh_ann_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    dim: int = 64,
    nbits: int = 10,
    max_hamming: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_col: str = "cos_sim",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: restrict exact re-rank to vectors whose
    hyperplane signature is within ``max_hamming`` bits of the query's
    (multi-probe LSH). Recall/latency tradeoff via nbits/max_hamming.

    Defaults scan ~38% of the corpus (Σ_{i≤4} C(10,i)/2^10) — tuned
    for near-uniform embeddings like the fixture's (top-10 cosine
    ≈0.33, near-orthogonal), where sign bits correlate weakly with
    rank. On real clustered embeddings the same radius yields far
    higher recall at far smaller candidate fractions, and nbits can
    rise (16–24) to sharpen the filter.
    """
    planes = _hyperplanes(dim, nbits, seed)
    qsig = 0
    qv = [float(x) for x in query_vec]
    for i in range(nbits):
        # seq_dot, not planes[i] @ qv: the oracle computes this sign
        # with list_dot_product's sequential fold (r11 oracle work)
        if seq_dot(planes[i], qv) > 0:
            qsig |= 1 << i
    # r13: kernel signer (same bits, C-speed over rows) replaces the
    # per-row Column-HOF signature; keep_vec carries the vector into
    # the exact re-rank without a join back on id.
    cand = hyperplane_signatures_seq(
        vectors, id_col, vec_col, dim, nbits, seed, keep_vec=True
    ).filter(F.bit_count(F.col("sig").bitwiseXOR(F.lit(qsig))) <= max_hamming)
    return brute_force_topk(cand, query_vec, k, id_col, vec_col, sim_col)


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (IVF build
    step). Centroids are plan literals — at real scale they come from a
    sampled k-means and are broadcast. Write the result partitioned by
    ``cell`` so query-time probes prune partitions.

    Kernel-backed as of r13: the k×dim cosines are sequential float64
    ``cumsum`` folds in one Arrow-batched ``mapInPandas`` — bit-identical
    to the previous Column-expression form (``dot``'s left fold; the
    same interchange :func:`cosine_scores_seq` and
    :func:`hyperplane_signatures_seq` pinned in r12) but vectorized
    over rows at C speed instead of k×dim interpreted HOF evaluations
    per row (the r7 HOF lesson applied to assignment — the evaluator
    was the dominant cost of every IVF build). First-max-wins argmax =
    the array-based ``array_position(sims, array_max(sims))`` tie
    rule = ties break to the LOWEST centroid index. All input columns
    pass through (map-only, partitioning inherited); zero-norm vectors
    (NaN cosine) are assumed absent, as everywhere in this family."""
    import pandas as pd

    from pyspark.sql import types as T

    c = np.asarray([[float(x) for x in row] for row in centroids], dtype=np.float64)
    # sequential-fold centroid norms (match the Column form's norm())
    c_norm = np.sqrt((c * c).cumsum(axis=1)[:, -1])
    schema = T.StructType(
        list(vectors.schema.fields) + [T.StructField(cell_col, T.IntegerType())]
    )
    cols = vectors.columns

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            v_norm = np.sqrt((v * v).cumsum(axis=1)[:, -1])
            sims = np.empty((len(v), len(c)), dtype=np.float64)
            for i in range(len(c)):
                d = (v * c[i]).cumsum(axis=1)[:, -1]
                sims[:, i] = d / (v_norm * c_norm[i])
            out = pdf[cols].copy()
            out[cell_col] = np.argmax(sims, axis=1).astype(np.int32)
            yield out

    return vectors.mapInPandas(assign, schema)


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Probe the ``n_probe`` nearest cells to the query, exact re-rank.
    Cell ranking uses :func:`seq_cosine` (oracle-identical fold), with
    lowest cell id breaking ties — matching the oracle's row_number."""
    probe = probe_cells(centroids, query_vec, n_probe)
    cand = assigned.filter(F.col(cell_col).isin(probe))
    return brute_force_topk(cand, query_vec, k, id_col, vec_col, sim_col)


def probe_cells(
    centroids: list[list[float]], query_vec: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` cells nearest the query by :func:`seq_cosine`
    (the oracle-identical sequential fold — numpy's pairwise np.dot
    can flip near-tied centroid rankings vs list_dot_product), lowest
    cell id breaking ties like the oracles' row_number. THE one probe
    selector (r10 review: v8's recall audit carried a line-for-line
    copy; a tie-break change in one copy would have made its candidate
    census and its approx top-k disagree about which cells were
    probed)."""
    sims = [seq_cosine(c, query_vec) for c in centroids]
    return sorted(range(len(centroids)), key=lambda i: (-sims[i], i))[:n_probe]


def knn_join(vectors: DataFrame, k: int = 3, n_blocks: int = 8) -> DataFrame:
    """Exact cosine k-NN self-join over ``(vec_id, embedding)`` rows:
    (vec_id, nbr_id, cos_sim) — the top-k neighbors of EVERY vector,
    i.e. the k-NN graph that embedding clustering / near-dup /
    diversity-sampling pipelines start from.

    Same block-nested GEMM layout as :func:`cosine_pairs`, but each
    block-pair group emits only its LOCAL top-k per row, so the
    post-GEMM shuffle carries B·k candidates per row instead of the
    O(N) scored pairs a threshold-less all-pairs would; a single
    row_number window then reduces B·k → k. Total FLOPs stay the
    intrinsic N²d, shuffle volume is B·N·(d + k) — at 100 TB the knob
    is n_blocks, exactly as for cosine_pairs. The local/global top-k
    split is lossless: a row's true k-th neighbor is in SOME block,
    and that block's group ranks it within its local k.
    """
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("nbr_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    v = vectors.select("vec_id", "embedding").withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int")
    )
    keyed = (
        v.withColumn(
            "__other", F.explode(F.array(*[F.lit(j) for j in range(n_blocks)]))
        )
        .withColumn("__bp", F.least("__blk", "__other"))
        .withColumn("__bq", F.greatest("__blk", "__other"))
    )

    def gemm_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        p = int(pdf["__bp"].iloc[0])
        q = int(pdf["__bq"].iloc[0])
        mat = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        blk = pdf["__blk"].to_numpy()
        chunks: list[pd.DataFrame] = []

        def emit(a_idx: np.ndarray, b_idx: np.ndarray, same: bool) -> None:
            if len(a_idx) == 0 or len(b_idx) == 0:
                return
            # b-side columns in ascending nbr_id order, then a STABLE
            # descending-cos argsort: the local top-k is selected by
            # exactly the oracle's (cos DESC, nbr_id ASC) order. The
            # previous argpartition broke boundary ties arbitrarily
            # (r10 review): with k+1 equal-cosine neighbors in one
            # block — duplicate embeddings, routine in near-dup
            # corpora — it could drop the lowest-nbr_id candidate the
            # global window needs, nondeterministically across runs.
            b_idx = b_idx[np.argsort(ids[b_idx], kind="stable")]
            sims = mat[a_idx] @ mat[b_idx].T
            if same:
                sims[ids[a_idx][:, None] == ids[b_idx][None, :]] = -np.inf
            kk = min(k, sims.shape[1])
            part = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(len(a_idx)), kk)
            cols = part.ravel()
            cand = pd.DataFrame(
                {
                    "id": np.repeat(ids[a_idx], kk),
                    "nbr_id": ids[b_idx][cols],
                    "cos": sims[rows, cols],
                }
            )
            chunks.append(cand[cand["cos"] > -np.inf])

        if p == q:
            all_idx = np.arange(len(pdf))
            emit(all_idx, all_idx, True)
        else:
            a_idx = np.nonzero(blk == p)[0]
            b_idx = np.nonzero(blk == q)[0]
            emit(a_idx, b_idx, False)
            emit(b_idx, a_idx, False)
        if not chunks:
            return pd.DataFrame({"id": [], "nbr_id": [], "cos": []}).astype(
                {"id": "int64", "nbr_id": "int64", "cos": "float64"}
            )
        return pd.concat(chunks, ignore_index=True)

    cand = keyed.groupBy("__bp", "__bq").applyInPandas(gemm_topk, out_schema)
    w = Window.partitionBy("id").orderBy(F.col("cos").desc(), F.col("nbr_id"))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("id").alias("vec_id"),
            "nbr_id",
            F.round(F.col("cos"), 6).alias("cos_sim"),
        )
    )


def cell_cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    cell_col: str = "cell",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """All same-cell pairs (id_a < id_b) with cosine > threshold —
    the SemDeDup kernel (Abbas et al. 2023): near-duplicate search
    restricted to k-means/IVF cells, so total work is Σ n_cell²·d
    instead of N²·d. Output columns: (cell, id_a, id_b, cos_sim).

    Physical strategy is :func:`cosine_pairs`' block-nested GEMM with
    the cell PREPENDED to the grouping key (``group_cols``): rows are
    replicated to the unordered block pairs WITHIN their cell only, so
    one hot cell (skewed cluster) is split into
    n_blocks·(n_blocks+1)/2 bounded GEMM tasks rather than one
    (n_cell)² task — the skew story a production SemDeDup needs, since
    cluster sizes are power-law. No driver collect; shuffle carries
    each row n_blocks times. One kernel serves both shapes (review
    finding: a forked copy of the numerically sensitive GEMM would
    drift).
    """
    return cosine_pairs(
        vectors,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        n_blocks=n_blocks,
        group_cols=[cell_col],
    )


def kmeans_fit(vectors: DataFrame, k: int = 8, n_iter: int = 3) -> list[list[float]]:
    """Deterministic Lloyd k-means by cosine — the REAL IVF build step
    (ivf_assign's docstring promises "at real scale they come from a
    sampled k-means"; this is that trainer) over ``(vec_id, embedding)``
    rows. Returns the k centroids.

    Determinism is the design constraint, not an accident:

    - seeds = the k lowest-``vec_id`` vectors (no RNG);
    - assignment = Arrow-batched numpy argmax (first-max-wins ties,
      row-local — see :func:`_argmax_assign_arrow`; the SERVING
      assignment stays :func:`ivf_assign`'s oracle-compatible fold);
    - means are ORDER-INDEPENDENT: each per-cell per-dimension sum
      runs in ``decimal(38,18)`` (exact addition — no float
      reassociation across partitions), and the division happens
      driver-side on the collected k×d decimal sums. Re-running under
      any partitioning yields bit-identical centroids, which is what
      lets the trained build be golden-pinned (pytest asserts
      repartition-invariance).

    Per iteration: ONE assignment+posexplode aggregation job whose
    shuffle carries (cell, dim, decimal partial) — k·d·partitions
    rows, metadata-scale — and a k·d-row collect. Empty cells keep
    their previous centroid. At 100 TB you fit on a deterministic
    hash-sample (samp1 composes) and assign the full corpus once.
    """
    seed_rows = (
        vectors.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in seed_rows]
    k = len(cents)  # fewer vectors than requested cells: fit what exists
    # Deliberately NOT spread_if_underpartitioned here: the r14
    # optimization round measured the repartitioned Lloyd step SLOWER
    # (2.46 -> 2.94 s isolated) — per-task mapInPandas dispatch
    # overhead across 32 partitions dwarfs the ~0.3 s of single-thread
    # numpy the spread saves at fixture scale, and at real scale the
    # fit runs on a sample whose scan is already multi-split.
    for _ in range(n_iter):
        assigned = _argmax_assign_arrow(vectors, cents, "embedding")
        sums = (
            assigned.select(
                "cell", F.posexplode(F.col("embedding")).alias("dim", "val")
            )
            .groupBy("cell", "dim")
            .agg(
                F.sum(
                    F.col("val").cast("double").cast("decimal(38,18)")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = {(r["cell"], r["dim"]): float(r["s"] / r["n"]) for r in sums}
        cents = [
            [
                new.get((c, d), cents[c][d])
                for d in range(len(cents[c]))
            ]
            for c in range(k)
        ]
    return cents


def _argmax_assign_arrow(
    vectors: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """(vec_col, cell) via Arrow-batched numpy argmax — the training
    loop's assignment. :func:`ivf_assign` stays the SERVING assignment
    (pure Column fold, bit-compatible with the DuckDB oracles); inside
    the Lloyd loop that fold costs k·d interpreted lambda evaluations
    per row per iteration, and numpy's GEMM is ~50× cheaper for the
    same row-local result. Each row's cosine depends only on that row
    and the (broadcast-in-closure) centroid block, so the result is
    partitioning-independent — enforced by the repartition-invariance
    pytest, which would fail loudly if batch shape ever leaked into
    the scores. First-max-wins ties (np.argmax) match ivf_assign."""
    import pandas as pd

    from pyspark.sql import types as T

    c = np.asarray(centroids, dtype=np.float64)
    c_norm = np.linalg.norm(c, axis=1, keepdims=True)
    cn = c / np.where(c_norm == 0, 1.0, c_norm)
    in_field = vectors.schema[vec_col]
    schema = T.StructType([in_field, T.StructField("cell", T.IntegerType())])

    def assign(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            # zero-norm guard: ivf_assign documents zero vectors as
            # assumed-absent; here a division by zero would propagate
            # NaN cosines into argmax (arbitrary cell) and from there
            # into kmeans_fit centroids. Norm 0 -> divide by 1 instead:
            # all cosines 0, argmax deterministically cell 0.
            norm = np.linalg.norm(m, axis=1, keepdims=True)
            m /= np.where(norm == 0, 1.0, norm)
            cell = np.argmax(m @ cn.T, axis=1).astype(np.int32)
            yield pd.DataFrame({vec_col: pdf[vec_col], "cell": cell})

    return vectors.select(vec_col).mapInPandas(assign, schema)


def cosine_scores_seq(
    pairs: DataFrame, a_col: str, b_col: str, out_col: str = "cos"
) -> DataFrame:
    """Score candidate pairs with exact-SEQUENTIAL cosine at vectorized
    speed: dot products and norms are left-to-right float64 folds
    computed with ``np.cumsum`` (a sequential C loop by definition) —
    bit-identical to the Column-expression fold (:func:`dot`), the
    driver-side :func:`seq_dot`, and DuckDB's ``list_dot_product``,
    unlike matmul/``(a*b).sum()`` whose pairwise/SIMD summation drifts
    in the last ulp. ~100× the interpreted HOF evaluator on large
    candidate sets (the r7 HOF lesson applied to scoring: one
    Arrow-batched kernel instead of per-pair lambda evaluation).

    Drops the two vector columns and appends ``out_col``; every other
    column passes through. Map-only — partitioning inherited."""
    import pandas as pd
    import numpy as np

    from pyspark.sql import types as T

    keep = [c for c in pairs.columns if c not in (a_col, b_col)]
    schema = T.StructType(
        [pairs.schema[c] for c in keep] + [T.StructField(out_col, T.DoubleType())]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf[a_col].to_numpy()).astype("float64")
            vb = np.stack(pdf[b_col].to_numpy()).astype("float64")
            d = (va * vb).cumsum(axis=1)[:, -1]
            na = (va * va).cumsum(axis=1)[:, -1]
            nb = (vb * vb).cumsum(axis=1)[:, -1]
            out = pdf[keep].copy()
            out[out_col] = d / (np.sqrt(na) * np.sqrt(nb))
            yield out

    return pairs.mapInPandas(score, schema)


def hyperplane_signatures_seq(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 32,
    seed: int = 42,
    keep_vec: bool = False,
) -> DataFrame:
    """(id, sig): the :func:`hyperplane_signature` bits computed by an
    Arrow-batched kernel instead of the Column HOF — bit i is the sign
    of the SEQUENTIAL dot against plane i (cumsum fold, bit-identical
    to the HOF fold and DuckDB's ``list_dot_product``, so the two
    implementations are interchangeable under an exact oracle). The
    HOF form evaluates nbits interpreted 64-element folds PER ROW
    (~46k folds/s measured — 2.6 s just to sign pipe6's 1,800-vector
    corpus); this kernel vectorizes over rows at C speed and is the
    right form whenever signatures are computed in bulk. Map-only;
    works on batch and streaming DataFrames alike.

    ``keep_vec=True`` passes the vector column through as well —
    (id, vec, sig) — for callers that band the signature and then need
    the vector inside the bucket (``cosine_pairs_lsh_gated``'s GEMM
    verify, ``lsh_ann_topk``'s exact re-rank) without re-joining the
    vector table back on id."""
    import pandas as pd
    import numpy as np

    from pyspark.sql import types as T

    planes = _hyperplanes(dim, nbits, seed)
    keep = [id_col, vec_col] if keep_vec else [id_col]
    schema = T.StructType(
        [df.schema[c] for c in keep] + [T.StructField("sig", T.LongType())]
    )

    def sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            sig = np.zeros(len(v), dtype=np.int64)
            for i in range(nbits):
                d = (v * planes[i]).cumsum(axis=1)[:, -1]
                sig |= (d > 0).astype(np.int64) << i
            out = pdf[keep].copy()
            out["sig"] = sig
            yield out

    return df.select(id_col, vec_col).mapInPandas(sign, schema)


def sq8_approx_scores(
    vectors: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "acos_sim",
) -> DataFrame:
    """Int8 scalar-quantized approximate cosine against ONE query — the
    candidate-generation half of an SQ8 ANN search (the 4×-smaller
    storage/bandwidth path every production vector store ships:
    faiss ``SQ8``, Lucene/Elasticsearch ``int8_hnsw``'s scoring core).
    v9 (queries/vector.py) audits this quantizer's reconstruction
    error; this kernel runs the actual search side: each corpus vector
    is quantized to 256 uniform levels over its own [min, max]
    (``floor(x + 0.5)`` rounding — no engine-native half-even round),
    reconstructed, and scored against the EXACT query vector.

    Bit-parity with the SQL restatement (the cosine_scores_seq
    argument): reconstruction is pure IEEE float64 arithmetic both
    engines share (``floor`` is exact), and every dot/norm fold is an
    ``np.cumsum`` — a sequential left fold, bit-identical to DuckDB's
    ``list_dot_product`` over a ``list_transform``-reconstructed
    DOUBLE[]; ``np.sqrt``/``math.sqrt`` are the correctly-rounded IEEE
    sqrt (never ``** 0.5``). Flat vectors (mx == mn) reconstruct as
    themselves, matching the oracle's CASE arm.

    Map-only (partitioning inherited, no shuffle); passes ``id_col``
    and ``vec_col`` through so the caller's top-C candidate heap
    (TakeOrderedAndProject) feeds the exact re-rank without a join
    back. At 100 TB the int8 codes would be materialized write-once
    (the ivf_assign pattern) instead of re-quantized per query; the
    scan stays memory-bandwidth-bound at a quarter of the float32
    footprint."""
    import pandas as pd  # noqa: F401  (Arrow batch interface)

    from pyspark.sql import types as T

    q = np.asarray([float(x) for x in query_vec], dtype="float64")
    # sequential fold for the query norm (oracle: sqrt(list_dot_product))
    nq = math.sqrt(float((q * q).cumsum()[-1]))
    schema = T.StructType(
        [vectors.schema[id_col], vectors.schema[vec_col]]
        + [T.StructField(out_col, T.DoubleType())]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            mn = va.min(axis=1)
            mx = va.max(axis=1)
            flat = mx == mn
            scale = np.where(flat, 1.0, (mx - mn) / 255.0)
            rec = (
                np.floor((va - mn[:, None]) / scale[:, None] + 0.5)
                * scale[:, None]
                + mn[:, None]
            )
            rec = np.where(flat[:, None], va, rec)
            d = (rec * q).cumsum(axis=1)[:, -1]
            nr = (rec * rec).cumsum(axis=1)[:, -1]
            out = pdf[[id_col, vec_col]].copy()
            out[out_col] = d / (np.sqrt(nr) * nq)
            yield out

    return vectors.select(id_col, vec_col).mapInPandas(score, schema)


SQ8_INDEX_SCHEMA_DOC = "(vec_id long, cell int, mn double, mx double, code binary)"


def sq8_index_write(
    vectors: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF+SQ8 index the v13/v14 docstrings promise:
    one Arrow-batched pass assigns each vector to its nearest centroid
    (:func:`ivf_assign`'s first-max-wins kernel) and stores its int8
    codes as a dim-byte BINARY column with per-vector (mn, mx) double
    bounds — a QUARTER of the float32 footprint — written
    ``partitionBy(cell)`` so a query's probed cells become partition
    directories the reader PRUNES before any row is read (the s9
    partition-pruning story applied to an ANN index). Write once,
    query many; at 100 TB this pass is the index build job and the
    parquet layout is the index.

    Quantization is exactly v9/v13's: code = floor((x - mn)/scale +
    0.5) with scale = (mx - mn)/255 (safe scale 1 when mx == mn, so a
    flat vector stores code 0 and decodes to mn = x exactly). Codes
    0..255 are exactly representable, so decode (code·scale + mn)
    reproduces v13's reconstruction BIT-FOR-BIT — the oracle restates
    the math without ever seeing the stored bytes."""
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    schema = T.StructType(
        [
            assigned.schema[id_col],
            assigned.schema["cell"],
            T.StructField("mn", T.DoubleType()),
            T.StructField("mx", T.DoubleType()),
            T.StructField("code", T.BinaryType()),
        ]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            mn = va.min(axis=1)
            mx = va.max(axis=1)
            flat = mx == mn
            scale = np.where(flat, 1.0, (mx - mn) / 255.0)
            codes = np.floor((va - mn[:, None]) / scale[:, None] + 0.5).astype(
                np.uint8
            )
            out = pdf[[id_col, "cell"]].copy()
            out["mn"] = mn
            out["mx"] = mx
            out["code"] = [c.tobytes() for c in codes]
            yield out

    assigned.mapInPandas(encode, schema).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def sq8_index_topk(
    spark,
    index_path: str,
    vectors: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the materialized IVF+SQ8 index: probe the ``n_probe``
    nearest cells (:func:`probe_cells`, the oracle-identical driver
    fold), read ONLY those partition directories of the code table
    (partition pruning — the scan never touches unprobed cells' files),
    score the decoded codes against the exact query in one Arrow
    kernel (np.cumsum sequential folds — v13's bit-parity argument,
    applied to code·scale + mn decode), heap the top ``shortlist`` by
    ROUNDED approx score, and LATE-MATERIALIZE: only those rows join
    back to the float vectors for the exact re-rank. The big scan
    moves (id, 2 doubles, dim bytes); full-precision vectors are
    touched for ``shortlist`` rows, never |corpus| — the
    late-materialization pattern every columnar ANN serving layer
    uses."""
    import pandas as pd  # noqa: F401

    from pyspark.sql import types as T

    probes = probe_cells(centroids, query_vec, n_probe)
    idx = spark.read.parquet(index_path).filter(F.col("cell").isin(probes))
    q = np.asarray([float(x) for x in query_vec], dtype="float64")
    nq = math.sqrt(float((q * q).cumsum()[-1]))
    schema = T.StructType(
        [idx.schema[id_col], T.StructField("acos_sim", T.DoubleType())]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["code"]]
            ).astype("float64")
            mn = pdf["mn"].to_numpy()
            mx = pdf["mx"].to_numpy()
            flat = mx == mn
            scale = np.where(flat, 1.0, (mx - mn) / 255.0)
            rec = codes * scale[:, None] + mn[:, None]
            d = (rec * q).cumsum(axis=1)[:, -1]
            nr = (rec * rec).cumsum(axis=1)[:, -1]
            out = pdf[[id_col]].copy()
            out["acos_sim"] = d / (np.sqrt(nr) * nq)
            yield out

    cand = (
        idx.mapInPandas(score, schema)
        .select(id_col, F.round(F.col("acos_sim"), 6).alias("acos_r"))
        .orderBy(F.col("acos_r").desc(), id_col)
        .limit(shortlist)
    )
    rerank_in = cand.join(vectors.select(id_col, vec_col), on=id_col)
    return brute_force_topk(rerank_in, query_vec, k, id_col, vec_col)
