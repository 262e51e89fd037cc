"""Dedup-operator correctness: MinHash-LSH recall against the exact
n-gram Jaccard truth, SimHash structural properties, exact-dedup
determinism. These cover what the SQL oracle can't express (hash-based
candidates)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pypgsync_spark.catalog import load_table
from pypgsync_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    paragraph_dedup,
    simhash_pairs,
)


def test_minhash_lsh_recall_vs_exact(spark, sf_small):
    """Every exact-Jaccard pair above the (high) threshold must be
    found by LSH; precision is enforced by the exact verification
    stage, so found == subset-of-exact too."""
    docs = load_table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5, blocking=None).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-dup pairs above 0.5"
    # verification stage guarantees precision == 1.0
    assert lsh <= exact or lsh == exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall too low: {recall} ({len(lsh)}/{len(exact)})"


def test_minhash_lsh_jaccard_values_match_exact(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3, blocking=None).collect()
    }
    for r in minhash_lsh_pairs(docs, threshold=0.3).collect():
        assert abs(exact[(r["id_a"], r["id_b"])] - r["jaccard"]) < 1e-9


def test_prefix_blocking_is_complete_and_default(spark, sf_small):
    """The PPJoin prefix filter must return EXACTLY the all-pairs
    result (the prefix-filter lemma is a guarantee, not a heuristic),
    each pair once — and it is the DEFAULT blocking mode, so the
    default call path is exercised here (the advisor found the default
    unimplemented in round 3 precisely because no test used it)."""
    docs = load_table(spark, sf_small, "documents")
    for thr in (0.3, 0.5):
        full = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=thr, blocking=None).collect()
        }
        pref_rows = ngram_jaccard_pairs(docs, threshold=thr).collect()  # default
        pref = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pref_rows}
        assert len(pref_rows) == len(pref), "pair emitted more than once"
        assert pref == full


def test_prefix_blocking_uniform_lengths(spark):
    """Every doc the same length — the case any length-histogram
    blocking degenerates on (one quadratic bucket). Prefix blocking
    keys on shared rare shingles instead, so it must stay complete
    here."""
    rows = []
    for i in range(40):
        # 10 tokens each; docs 2i and 2i+1 share 9 of 10 → near-dups,
        # other pairs share nothing beyond coincidence.
        base = [f"w{i}_{j}" for j in range(9)]
        rows.append((2 * i, " ".join(base + [f"x{i}"])))
        rows.append((2 * i + 1, " ".join(base + [f"y{i}"])))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5, blocking=None).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5, blocking="prefix").collect()
    }
    assert full, "fixture should contain qualifying pairs"
    assert pref == full


def test_minhash_signature_kernel_matches_legacy_columns(spark):
    """r14 kernel migration: the Arrow minhash signer must be
    BIT-identical to the explode → 64 codegen columns → groupBy(min)
    formulation it replaced (whose md5 arithmetic the d3/d17 oracles
    restate) — unicode shingles, singletons, empty and NULL shingle
    sets included."""
    from pyspark.sql import functions as F

    from pypgsync_spark.operators.dedup import (
        _MERSENNE_31,
        _perm_coeffs,
        minhash_signatures,
    )

    rows = [
        (1, ["alpha beta gamma", "beta gamma delta", "näïve ünïcode"]),
        (2, ["solo"]),
        (3, []),  # explode drops it → no signature row
        (4, None),  # NULL set → no signature row
        (5, ["alpha beta gamma", "Ω≈ç√∫", "0123456789"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    got = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(df, "doc_id", "shingles", 8).collect()
    }
    # legacy formulation, inlined verbatim
    a, b = _perm_coeffs(8)
    exploded = df.select(F.col("doc_id").alias("id"), F.explode("shingles").alias("s"))
    base = F.pmod(
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long"),
        F.lit(_MERSENNE_31),
    )
    hash_cols = [
        F.pmod(F.lit(a[i]) * F.col("__h") + F.lit(b[i]), F.lit(_MERSENNE_31)).alias(
            f"h{i}"
        )
        for i in range(8)
    ]
    legacy = {
        r["id"]: [r[f"m{i}"] for i in range(8)]
        for r in exploded.withColumn("__h", base)
        .select("id", *hash_cols)
        .groupBy("id")
        .agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(8)])
        .collect()
    }
    assert set(got) == {1, 2, 5}
    assert got == legacy


def test_positional_filter_boundary_exact(spark):
    """r14 positional filter: near-threshold pairs with varied sizes
    must survive the o_ub pruning exactly when the all-pairs form
    keeps them. Sizes differ (length filter active), overlap sits
    within one shingle of the θ boundary in both directions, and the
    common shingles are the most FREQUENT ones (ranked last in the
    canonical order — the worst case for the positional bound)."""
    from pypgsync_spark.operators.dedup import ngram_jaccard_pairs

    rows = []
    shared = [f"s{j}" for j in range(12)]  # appears in many docs → frequent
    for i in range(12):
        # doc pairs share a 12-token run plus i distinct tokens each:
        # jaccard slides through the 0.3 boundary as i grows
        uniq_a = [f"a{i}_{j}" for j in range(i + 1)]
        uniq_b = [f"b{i}_{j}" for j in range(i + 3)]
        rows.append((2 * i, " ".join(shared + uniq_a)))
        rows.append((2 * i + 1, " ".join(shared + uniq_b)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for thr in (0.3, 0.45):
        full = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, threshold=thr, blocking=None
            ).collect()
        }
        pref = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, threshold=thr).collect()
        }
        assert full, "fixture should contain qualifying pairs"
        assert pref == full


def test_simhash_finds_near_dups(spark, sf_small):
    """SimHash near-dup pairs should substantially overlap the
    high-Jaccard truth set (same token distributions → close
    signatures), and every emitted pair respects the hamming bound."""
    docs = load_table(spark, sf_small, "documents")
    pairs = simhash_pairs(docs).collect()  # defaults: 8 chunks, radius 7
    assert all(r["hamming"] <= 7 for r in pairs)
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8, blocking=None).collect()
    }
    if exact:  # very-near dups should be hamming-close
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        hit = len(found & exact) / len(exact)
        assert hit >= 0.5, f"simhash missed too many near-identical docs: {hit}"


def test_dedup_exact_deterministic_and_minimal(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    kept = dedup_exact(docs)
    # fixture has no exact dups → identity, keeps all
    assert kept.count() == docs.count()
    # synthetic dups: duplicate every doc with a higher id; keeper = original
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    kept2 = dedup_exact(both)
    assert kept2.count() == docs.count()
    assert kept2.agg(F.max("doc_id")).first()[0] < 100000


def test_paragraph_dedup_handcrafted(spark):
    """Handcrafted corpus pinning the keep-first semantics at every
    edge: a short doc (< para_words tokens → one short paragraph), an
    exact-duplicate doc (loses ALL paragraphs → empty clean_text), a
    partial overlap (loses only the shared aligned chunk), and
    case/whitespace normalization (tokens() lower-cases and splits on
    runs, so 'A  B' and 'a b' are the same paragraph)."""
    k = 3
    rows = [
        (1, "a b c d e"),        # paras: 'a b c', 'd e'
        (2, "a b c d e"),        # exact dup of 1 → keeps nothing
        (3, "a b c x y z"),      # loses 'a b c', keeps 'x y z'
        (4, "D  E"),             # normalizes to 'd e' — dup of doc 1's 2nd para
        (5, "q"),                # short doc, unique → kept whole
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(df, para_words=k).collect()
    }
    assert out[1]["n_paras"] == 2 and out[1]["kept_paras"] == 2
    assert out[1]["clean_text"] == "a b c d e"
    assert out[2]["kept_paras"] == 0 and out[2]["clean_text"] == ""
    assert out[2]["removed_frac"] == 1.0
    assert out[3]["kept_paras"] == 1 and out[3]["clean_text"] == "x y z"
    assert out[4]["kept_paras"] == 0 and out[4]["clean_text"] == ""
    assert out[5]["n_paras"] == 1 and out[5]["clean_text"] == "q"
    assert out[5]["removed_frac"] == 0.0


def test_paragraph_dedup_fixture_invariants(spark, sf_small):
    """On the fixture: every doc emits exactly ceil(tokens/12) rows,
    kept ≤ total, and duplicating the whole corpus under shifted ids
    removes ALL paragraphs of every copy (the copies' paragraphs all
    first occur at the original ids)."""
    docs = load_table(spark, sf_small, "documents")
    out = paragraph_dedup(docs)
    assert out.count() == docs.count()
    assert out.filter(F.col("kept_paras") > F.col("n_paras")).count() == 0
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = paragraph_dedup(docs.unionByName(dup))
    copies = both.filter(F.col("doc_id") >= 100000)
    assert copies.filter(F.col("kept_paras") != 0).count() == 0
    # originals keep exactly what they kept without the copies present
    orig_alone = {r["doc_id"]: r["kept_paras"] for r in out.collect()}
    orig_with = {
        r["doc_id"]: r["kept_paras"]
        for r in both.filter(F.col("doc_id") < 100000).collect()
    }
    assert orig_alone == orig_with


def test_connected_components_handcrafted_graph(spark):
    """Chain (diameter > 1 forces multiple propagation rounds), a
    separate triangle, and an isolated edge: every node labels with its
    cluster's min id and clusters never merge across components."""
    from pypgsync_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-5
         (10, 11), (11, 12), (10, 12),        # triangle
         (20, 21)],                           # pair
        ["id_a", "id_b"],
    )
    got = {
        (r["id"], r["component"]) for r in connected_components(edges).collect()
    }
    want = {(i, 1) for i in (1, 2, 3, 4, 5)}
    want |= {(i, 10) for i in (10, 11, 12)}
    want |= {(20, 20), (21, 20)}
    assert got == want


def test_connected_components_star_matches_pregel(spark):
    """large-star/small-star output contract == the Pregel version on a
    mixed graph (chain + triangle + pair + isolated-in-edges node)."""
    from pypgsync_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21), (30, 30)],               # self-loop must not crash
        ["id_a", "id_b"],
    )
    a = {(r["id"], r["component"]) for r in connected_components(edges).collect()}
    b = {(r["id"], r["component"]) for r in connected_components_star(edges).collect()}
    # identical contract including the self-loop-only node 30, which
    # must self-label in both variants
    assert (30, 30) in b
    assert a == b


def test_connected_components_star_chain_rounds(spark):
    """The reason star exists: a 48-node chain converges in O(log n)
    rounds where min-label Pregel needs O(diameter). Asserts both the
    labeling and the round bound."""
    from pypgsync_spark.operators.dedup import connected_components_star

    n = 48
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    stats: dict = {}
    labels = connected_components_star(edges, stats=stats).collect()
    assert {(r["id"], r["component"]) for r in labels} == {
        (i, 0) for i in range(n + 1)
    }
    # ceil(log2(49)) = 6; generous headroom, but far below the 48
    # rounds diameter-bounded propagation would need
    assert stats["rounds"] <= 10, stats


def test_connected_components_hybrid_matches_pregel(spark, monkeypatch):
    """Hybrid (Pregel-then-contract-then-star) must match the plain
    variants on a mixed graph, including the self-loop-only node."""
    from pypgsync_spark.operators import dedup
    from pypgsync_spark.operators.dedup import (
        connected_components,
        connected_components_hybrid,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21), (30, 30)],
        ["id_a", "id_b"],
    )
    a = {(r["id"], r["component"]) for r in connected_components(edges).collect()}
    stats: dict = {}
    with monkeypatch.context() as m:
        m.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
        b = {
            (r["id"], r["component"])
            for r in connected_components_hybrid(edges, stats=stats).collect()
        }
    assert (30, 30) in b
    assert a == b
    # r14: the small-graph driver path (union-find over the collected
    # edge list) must produce the identical labeling, self-loop-only
    # node included, and report how many edges it collected
    dstats: dict = {}
    c = {
        (r["id"], r["component"])
        for r in connected_components_hybrid(edges, stats=dstats).collect()
    }
    assert c == a
    assert dstats["pregel_rounds"] == 0 and dstats["star_rounds"] == 0
    assert dstats["driver_edges"] == 9


def test_connected_components_hybrid_chain_falls_over_to_star(spark, monkeypatch):
    """On a 48-node chain the Pregel prefix cannot converge in 3
    rounds; the hybrid must contract and finish via star with a total
    round count far below the chain diameter."""
    from pypgsync_spark.operators import dedup
    from pypgsync_spark.operators.dedup import connected_components_hybrid

    n = 48
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    stats: dict = {}
    with monkeypatch.context() as m:
        m.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
        labels = connected_components_hybrid(edges, stats=stats).collect()
    assert {(r["id"], r["component"]) for r in labels} == {
        (i, 0) for i in range(n + 1)
    }
    assert stats["pregel_rounds"] == 3
    assert 1 <= stats["star_rounds"] <= 10, stats
    # driver path agrees on the chain graph
    assert {
        (r["id"], r["component"])
        for r in connected_components_hybrid(edges).collect()
    } == {(i, 0) for i in range(n + 1)}


def test_connected_components_hybrid_shallow_skips_star(spark, monkeypatch):
    """A diameter-2 graph converges inside the Pregel prefix — the
    star stage must not run at all (stats['star_rounds'] == 0)."""
    from pypgsync_spark.operators import dedup
    from pypgsync_spark.operators.dedup import connected_components_hybrid

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (10, 11)], ["id_a", "id_b"]
    )
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
    stats: dict = {}
    got = {
        (r["id"], r["component"])
        for r in connected_components_hybrid(edges, stats=stats).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
    assert stats["star_rounds"] == 0


def test_shingle_repartition_is_conditional(spark):
    """r6 verdict #4: with_shingles must NOT round-robin-shuffle a
    corpus that already arrives with >= defaultParallelism splits (at
    100 TB that is an avoidable full pass over the raw text — and AQE
    does not elide an explicit repartition()); an under-split input
    (the single-file fixture case) still gets spread across cores."""
    from pypgsync_spark.operators.dedup import with_shingles

    par = spark.sparkContext.defaultParallelism
    base = spark.range(200).selectExpr(
        "id AS doc_id", "concat('alpha beta gamma delta ', id) AS text"
    )

    many = base.repartition(par + 4)
    plan_many = with_shingles(many)._jdf.queryExecution().optimizedPlan().toString()
    # exactly the one pre-existing repartition; with_shingles adds none
    assert plan_many.count("Repartition") == 1

    one = base.coalesce(1)
    plan_one = with_shingles(one)._jdf.queryExecution().optimizedPlan().toString()
    assert "RoundRobinPartitioning" in plan_one or "Repartition" in plan_one


def test_let_bound_phases_appear_once_in_plan(spark):
    """Regression guard for the r7 O(doc^2) HOF fix: the interpreted
    HOF evaluator re-evaluates captured subexpressions per lambda
    call, so the tokenization (and winnowing's k-gram hash pass) must
    appear exactly ONCE in the optimized expression tree — let_bound
    keeps them as bound lambda variables. If a 'simplification' inlines
    them back, these counts jump to one-per-consumer and shingling
    goes quadratic in document length again."""
    from pyspark.sql import functions as F

    from pypgsync_spark.functions.text import (
        tokens,
        winnow_fingerprints,
        word_shingles,
    )

    df = spark.range(3).selectExpr(
        "id AS doc_id", "concat('a b c d e f g h ', id) AS text"
    )
    shingle_plan = (
        df.select(word_shingles(tokens(F.col("text"))).alias("sh"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert shingle_plan.count("split(") == 1

    winnow_plan = (
        df.select(winnow_fingerprints(F.col("text")).alias("fps"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert winnow_plan.count("split(") == 1  # tokenize once
    assert winnow_plan.count("md5(") == 1  # k-gram hash pass once


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing paper's guarantee (Schleimer et al., SIGMOD 2003
    §4): two documents sharing a run of >= w+k-1 consecutive tokens
    share at least one fingerprint. Build doc pairs where B embeds an
    exact 8-token run of A (k=5, w=4 defaults) inside unrelated text
    and assert fingerprint intersection; also assert the negative -
    token-disjoint docs share nothing."""
    from pypgsync_spark.functions.text import winnow_fingerprints

    base = [f"w{i}" for i in range(40)]
    run = base[10:18]  # 8 consecutive tokens = w + k - 1
    noise = [f"z{i}" for i in range(30)]
    rows = [
        (1, " ".join(base)),
        (2, " ".join(noise[:15] + run + noise[15:])),  # embeds the run
        (3, " ".join(f"q{i}" for i in range(40))),  # disjoint
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    assert got[1] & got[2], "shared 8-token run must share a fingerprint"
    assert not got[1] & got[3], "token-disjoint docs share no fingerprint"
    assert not got[2] & got[3]


def test_winnowing_density(spark):
    """Winnowing stores ~2/(w+1) of the k-gram hashes (the paper's
    expected density). On a long random-ish doc the distinct
    fingerprint count must sit well under the k-gram count and at or
    above the 1/w lower bound every window-min scheme obeys."""
    from pypgsync_spark.functions.text import winnow_fingerprints

    n_tok, k, w = 2000, 5, 4
    text = " ".join(f"t{(i * 2654435761) % 100000}" for i in range(n_tok))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    fps = df.select(winnow_fingerprints(F.col("text"), k=k, w=w).alias("f")).first()["f"]
    n_kgrams = n_tok - k + 1
    assert n_kgrams / w <= len(fps) <= 2 * n_kgrams / (w + 1) * 1.2


def test_null_text_propagates_null_not_junk(spark):
    """A NULL document must yield NULL shingles/fingerprints, not the
    1-element [NULL] set that greatest(NULL-k, 1)=1 used to produce
    (greatest skips NULLs) — junk sets would otherwise participate in
    dedup grouping and pair-finding."""
    from pypgsync_spark.functions.text import (
        tokens,
        winnow_fingerprints,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "a b c d e f g h i j")], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            word_shingles(tokens(F.col("text"))).alias("sh"),
            winnow_fingerprints(F.col("text")).alias("fps"),
        ).collect()
    }
    assert rows[1]["sh"] is None and rows[1]["fps"] is None
    assert rows[2]["sh"] and rows[2]["fps"]


def test_winnow_oracle_null_text_parity(spark, tmp_path):
    """ADVICE r7: the tx6/d10 DuckDB oracle CTEs must NULL-propagate a
    NULL document exactly like Spark's winnow_fingerprints (which
    returns NULL fps), not fabricate a junk [NULL]-derived fingerprint
    list via the greatest()-clamped range. Run BOTH engines over a
    tiny corpus containing a NULL text and diff the per-doc aggregate
    shape tx6 emits."""
    import duckdb

    from pypgsync_spark.functions.text import winnow_fingerprints
    from pypgsync_spark.queries.textops import _DUCK_WINNOW_CTES

    rows = [
        (1, " ".join(f"w{i}" for i in range(30))),
        (2, None),
        (3, " ".join(f"z{i}" for i in range(25))),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    pq = str(tmp_path / "docs.parquet")
    df.coalesce(1).write.parquet(pq)

    got = {
        r["doc_id"]: (r["n_fps"], r["fp_min"], r["fp_sum"])
        for r in df.select(
            "doc_id", winnow_fingerprints(F.col("text")).alias("fps")
        )
        .select(
            "doc_id",
            F.size("fps").alias("n_fps"),
            F.array_min("fps").alias("fp_min"),
            F.aggregate(
                "fps", F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("fp_sum"),
        )
        .collect()
    }
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
        want = {
            d: (n, mn, s)
            for d, n, mn, s in con.execute(
                f"""WITH {_DUCK_WINNOW_CTES}
                SELECT doc_id, len(fps) AS n_fps, list_min(fps) AS fp_min,
                       CAST(list_sum(fps) AS BIGINT) AS fp_sum FROM f"""
            ).fetchall()
        }
    finally:
        con.close()
    assert got == want
    assert got[2] == (None, None, None)  # NULL text -> NULL aggregates, both sides


def test_fixture_documents_text_never_null():
    """Pins the no-NULL-text fixture invariant every shingle/token
    oracle silently depends on (ADVICE r7): the non-winnow oracles
    keep the unguarded greatest(len(toks)-k,1) formulation, which only
    matches Spark's NULL propagation because the driver fixture never
    ships a NULL document. If a future fixture generation breaks this,
    fail HERE with a clear message instead of as a cryptic driver
    hash mismatch."""
    import os

    import duckdb

    con = duckdb.connect()
    try:
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            path = f"/root/testdata/{sf}/documents.parquet"
            if not os.path.exists(path):
                continue
            (n_null,) = con.execute(
                f"SELECT count(*) FROM read_parquet('{path}') WHERE text IS NULL"
            ).fetchone()
            assert n_null == 0, (
                f"{sf}: {n_null} NULL-text documents — the unguarded "
                "shingle oracles (d2/d7/tx1/...) now diverge from "
                "Spark's NULL propagation; add CASE guards like "
                "_DUCK_WINNOW_CTES"
            )
    finally:
        con.close()


def test_lang_id_null_text_is_null(spark):
    """r10 review: a NULL document made every marker score NULL, every
    WHEN condition skip, and the otherwise() branch label it as the
    last language in code order. NULL text → NULL label."""
    from pypgsync_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [("the of and to a in is it",), (None,)], ["text"]
    )
    got = [r["lang"] for r in df.select(lang_id("text").alias("lang")).collect()]
    assert got == ["en", None]


def test_cc_hybrid_string_ids_skip_driver_path(spark):
    """The driver union-find cutoff's byte budget assumes fixed-width
    ids (CC_DRIVER_MAX_EDGES comment; r14 verdict hardening): a
    string-id edge list must take the distributed path regardless of
    edge count — and must still produce the min-label closure with the
    input's own id type. The ids are not numbers (the reference's keys
    are UUIDs), so the convergence probe must not cast them; the Pregel
    reference runs the same loop and must agree. Min-label on strings
    is lexicographic."""
    from pypgsync_spark.operators.dedup import (
        connected_components,
        connected_components_hybrid,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    stats: dict = {}
    labels = connected_components_hybrid(edges, stats=stats)
    assert "driver_edges" not in stats  # distributed path ran
    assert stats["pregel_rounds"] >= 1
    assert {(r["id"], r["component"]) for r in labels.collect()} == want
    assert dict(labels.dtypes)["component"] == "string"
    pregel = connected_components(edges)
    assert {(r["id"], r["component"]) for r in pregel.collect()} == want


def test_cc_hybrid_output_types_match_across_paths(spark, monkeypatch):
    """An int-typed graph keeps its id type whichever path runs: the
    driver union-find must not widen to long where the distributed
    path keeps int, or the output schema changes at
    CC_DRIVER_MAX_EDGES."""
    from pypgsync_spark.operators import dedup
    from pypgsync_spark.operators.dedup import connected_components_hybrid

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    driver_stats: dict = {}
    driver = connected_components_hybrid(edges, stats=driver_stats)
    assert driver_stats["driver_edges"] == 3
    with monkeypatch.context() as m:
        m.setattr(dedup, "CC_DRIVER_MAX_EDGES", 0)
        distributed = connected_components_hybrid(edges)
        assert distributed.dtypes == [("id", "int"), ("component", "int")]
    assert driver.dtypes == distributed.dtypes
    assert sorted(driver.collect()) == sorted(distributed.collect())
