"""Text-analysis + dedup queries over ``documents`` (extension layer,
SURVEY §7 Phase 4): exact dedup, n-gram Jaccard near-dup, MinHash-LSH,
SimHash, token counting (whitespace + BPE-ish), quality scoring,
language-ID, fingerprinting, TF-IDF, bigram frequency, benchmark
decontamination, PII redaction, deterministic sampling / train-val-test
splitting, the curation pipeline, and the multimodal binary plumbing.

Oracle-checked wherever the computation is ANSI-SQL-expressible —
including, as of r11, the MinHash and SimHash candidates: their base
hash is md5 (the one hash both engines compute identically), so the
full signature/banding pipeline is exact integer arithmetic DuckDB
reproduces literally. Only the genuinely iterative specs (BPE merge
training) remain rows-only, with pytest + golden cover.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypgsync_spark.catalog import load_table
from pypgsync_spark.functions.text import (
    BPE_ISH_PATTERN,
    C4_DOC_BLOCK_PHRASE,
    C4_LINE_BLOCK_TOKEN,
    C4_LINE_WORDS,
    C4_MIN_KEPT_LINES,
    C4_MIN_LINE_WORDS,
    EN_STOPWORDS,
    LANG_MARKERS,
    bpe_ish_token_count,
    c4_line_clean,
    content_fingerprint,
    GOPHER_MAX_SYMBOL_WORD_RATIO,
    GOPHER_MEAN_WORD_LEN_RANGE,
    GOPHER_MIN_ALPHA_WORD_FRAC,
    GOPHER_WORD_COUNT_RANGE,
    gopher_gate_sql,
    gopher_metrics,
    gopher_structural_gate,
    gopher_structural_rules,
    lang_id,
    lang_id_tokens,
    quality_features,
    stopword_count,
    token_count,
    tokens,
    word_shingles,
)
from pypgsync_spark.operators.bpe import (
    merges_df,
    train_bpe,
    word_frequencies,
)
from pypgsync_spark.operators.dedup import (
    _perm_coeffs,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    paragraph_dedup,
    simhash_pairs,
)
from pypgsync_spark.operators.multimodal import (
    extract_binary_features,
    frame_sample,
    with_binary_payload,
)
from pypgsync_spark.queries import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# Filled by d5_near_dup_components on each run; bench.py reports it so
# every BENCH_r*.json records how many CC rounds the hybrid spent.
# A Counter, not a plain dict (r13): fingerprinting hashes exact-type
# dicts of constants BY VALUE, so a warm plain-dict accumulator would
# make the same HEAD fingerprint differently after d5 ran; accumulator
# SUBCLASSES contribute nothing in any state (fingerprint.py).
from collections import Counter as _Counter  # noqa: E402

D5_CC_STATS: _Counter = _Counter()


# DuckDB-side shared fragments (tokens / shingles) mirroring
# functions/text.py exactly.
_DUCK_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"
_DUCK_SHINGLES = f"""
    list_distinct(list_transform(
        range(1, greatest(len({_DUCK_TOKENS}) - 2, 1) + 1),
        i -> concat_ws(' ', {_DUCK_TOKENS}[i], {_DUCK_TOKENS}[i+1], {_DUCK_TOKENS}[i+2])
    ))
"""


@register(
    "t1_token_count",
    survey="ext:text",
    doc="Token counting per document: whitespace tokens, BPE-ish "
    "pre-tokenizer tokens (letter/digit/punctuation runs — the GPT-2 "
    "pre-tokenization core, one JVM regexp scan, no UDF), char length.",
    oracle=f"""
    SELECT doc_id,
           len({_DUCK_TOKENS}) AS n_tokens,
           len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}')) AS n_tokens_bpe,
           length(text) AS n_chars_m
    FROM documents
    """,
)
def t1_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_tokens_bpe"),
        F.length("text").alias("n_chars_m"),
    )


@register(
    "t2_quality_score",
    survey="ext:text",
    doc="Heuristic quality features: length, tokens, avg token length, "
    "punctuation ratio, stopword ratio (web-corpus curation filters).",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_m,
           len({_DUCK_TOKENS}) AS n_tokens,
           round(length(text) * 1.0 / greatest(len({_DUCK_TOKENS}), 1), 4) AS avg_token_len,
           round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(len(list_filter({_DUCK_TOKENS},
                     w -> list_contains({list(EN_STOPWORDS)!r}::VARCHAR[], w))) * 1.0
                 / greatest(len({_DUCK_TOKENS}), 1), 6) AS stopword_ratio
    FROM documents
    """,
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    feats = quality_features(F.col("text"))
    return d.select("doc_id", *[c.alias(n) for n, c in feats.items()])


def _duck_marker_count(lang: str) -> str:
    markers = LANG_MARKERS[lang]
    return (
        f"len(list_filter({_DUCK_TOKENS}, w -> list_contains({list(markers)!r}::VARCHAR[], w)))"
    )


_LANGS = sorted(LANG_MARKERS)
_DUCK_LANG_CASE = (
    "CASE WHEN " + " = 0 AND ".join(f"s_{la}" for la in _LANGS) + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{la} = greatest({', '.join('s_' + x for x in _LANGS)}) THEN '{la}'"
        for la in _LANGS[:-1]
    )
    + f" ELSE '{_LANGS[-1]}' END"
)


@register(
    "t3_lang_id",
    survey="ext:text",
    doc="Marker-stopword language-ID heuristic with deterministic "
    "tie-break; compared against the fixture's lang label.",
    oracle=f"""
    SELECT doc_id, lang, {_DUCK_LANG_CASE} AS lang_pred
    FROM (
        SELECT doc_id, lang,
               {', '.join(f'{_duck_marker_count(la)} AS s_{la}' for la in _LANGS)}
        FROM documents
    )
    """,
)
def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", "lang", lang_id(F.col("text")).alias("lang_pred"))


@register(
    "t4_fingerprint",
    survey="ext:text",
    doc="Content fingerprint: md5 of whitespace-normalized lower-cased "
    "text (engine-portable exact-dup key).",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
    """,
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", content_fingerprint(F.col("text")).alias("fingerprint")
    )


@register(
    "d1_dedup_exact",
    bench=13,
    survey="ext:dedup",
    doc="Exact dedup: one keeper per distinct normalized content, "
    "min doc_id wins (deterministic dropDuplicates).",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    QUALIFY row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id) = 1
    """,
)
def d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(_docs(spark, sf_dir)).select("doc_id", "n_chars")


@register(
    "d2_ngram_jaccard_pairs",
    bench=14,
    survey="ext:dedup",
    doc="ALL near-dup pairs by exact 3-gram Jaccard > 0.3 — complete "
    "(content-derived size-ratio blocking cannot lose a qualifying "
    "pair), so the oracle is the plain all-pairs join. The LSH-free "
    "exactness baseline; d3 is the probabilistic scale path.",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 6) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) > 0.3
    """,
)
def d2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)


# MinHash oracle fragments (d3). The base hash is md5's top 60 bits —
# the one hash both engines share — so the full signature pipeline is
# plain integer arithmetic DuckDB reproduces exactly; the seed-42 perm
# coefficients are embedded as literals. The ONE semantic approximation
# vs the Spark plan: Spark buckets each band through xxhash64(sig[4])
# for shuffle-width, the oracle joins on the 4-tuple itself — identical
# candidate sets unless xxhash64 collides across distinct tuples
# (~2^-64; a collision would surface as a driver hash mismatch).
_M31 = 2147483647
_A64, _B64 = _perm_coeffs(64)
_DUCK_MINHASH_MINS = ",\n             ".join(
    f"min(({_A64[i]} * h + {_B64[i]}) % {_M31}) AS m{i}" for i in range(64)
)
_DUCK_MINHASH_BANDS = "\n      UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band, m{4 * bi} AS k1, m{4 * bi + 1} AS k2,"
    f" m{4 * bi + 2} AS k3, m{4 * bi + 3} AS k4 FROM sig"
    for bi in range(16)
)
_DUCK_JACCARD = (
    "len(list_intersect(a.sh, b.sh)) * 1.0"
    " / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)"
)


@register(
    "d3_minhash_lsh_pairs",
    bench=15,
    survey="ext:dedup",
    doc="MinHash(64)+LSH(16 bands) candidate pairs verified by exact "
    "Jaccard > 0.3. Hash-checked as of r11: the md5-based base hash "
    "and literal seed-42 perm coefficients make the signatures exact "
    "integer arithmetic both engines share; recall vs d2 stays "
    "pytest-asserted.",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {_M31} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
    ),
    sig AS (
      SELECT doc_id,
             {_DUCK_MINHASH_MINS}
      FROM h GROUP BY doc_id
    ),
    bands AS (
      {_DUCK_MINHASH_BANDS}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r USING (band, k1, k2, k3, k4)
      WHERE l.doc_id < r.doc_id
    )
    SELECT c.id_a, c.id_b, round({_DUCK_JACCARD}, 6) AS jaccard
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
    WHERE {_DUCK_JACCARD} > 0.3
    """,
)
def d3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.3)


# SimHash oracle fragments (d4). The 64 hash bits are md5's top 16 hex
# chars as two non-negative 32-bit halves (exactly the Spark kernel's
# hhi/hlo); the signature is likewise kept as two halves so no DuckDB
# expression ever shifts a negative BIGINT.
_DUCK_SIMHASH_VOTES = ",\n             ".join(
    f"sum((({'hlo' if j < 32 else 'hhi'} >> {j % 32}) & 1) * 2 - 1) AS v{j}"
    for j in range(64)
)
_DUCK_SIMHASH_LO = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
)
_DUCK_SIMHASH_HI = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << (j - 32)} ELSE 0 END)" for j in range(32, 64)
)


@register(
    "d4_simhash_pairs",
    survey="ext:dedup",
    doc="SimHash near-dup pairs (hamming ≤ 7 of 64 bits, 8×8-bit "
    "chunk-LSH candidates). Hash-checked as of r11: md5-derived token "
    "hashes make the bit votes exact integer arithmetic both engines "
    "share; the pigeonhole chunk join is reproduced on the signature "
    "halves. Structure additionally tested in pytest.",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest(list_distinct({_DUCK_TOKENS})) AS tk FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(tk), 1, 8)) AS BIGINT) AS hhi,
             CAST(concat('0x', substr(md5(tk), 9, 8)) AS BIGINT) AS hlo
      FROM t
    ),
    v AS (
      SELECT doc_id,
             {_DUCK_SIMHASH_VOTES}
      FROM h GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             ({_DUCK_SIMHASH_LO})::BIGINT AS lo,
             ({_DUCK_SIMHASH_HI})::BIGINT AS hi
      FROM v
    ),
    chunks AS (
      SELECT doc_id, lo, hi, c.ci,
             CASE WHEN c.ci < 4 THEN (lo >> (8 * c.ci)) & 255
                  ELSE (hi >> (8 * (c.ci - 4))) & 255 END AS cv
      FROM sig, (SELECT unnest(range(8)) AS ci) c
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
             l.lo AS alo, l.hi AS ahi, r.lo AS blo, r.hi AS bhi
      FROM chunks l JOIN chunks r USING (ci, cv)
      WHERE l.doc_id < r.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) AS INT)
             AS hamming
    FROM cand
    WHERE bit_count(xor(alo, blo)) + bit_count(xor(ahi, bhi)) <= 7
    """,
)
def d4_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir))


@register(
    "d5_near_dup_components",
    bench=16,
    survey="ext:dedup",
    doc="Near-dup pairs → clusters → canonical keeper: connected "
    "components (Pregel-style min-label propagation) over the exact "
    "3-gram-Jaccard pair graph; component = min reachable doc_id, "
    "keep marks the one canonical document per cluster. The oracle "
    "computes the identical closure with a recursive CTE.",
    oracle=f"""
    WITH RECURSIVE s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) > 0.3
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
    )
    SELECT id AS doc_id,
           CAST(min(r) AS BIGINT) AS component,
           (id = min(r)) AS keep
    FROM reach GROUP BY id
    """,
)
def d5_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.dedup import connected_components_hybrid

    docs = _docs(spark, sf_dir).select("doc_id")
    edges = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)
    # adaptive CC: cheap min-label rounds for the (common) shallow
    # near-dup graph, large-star/small-star O(log n) fallback for
    # chain-shaped graphs — the 100 TB path either way. Round stats
    # land in D5_CC_STATS so bench.py can report how much work the
    # hybrid actually did (round-5 verdict: the +25% bench move turned
    # out to be pair-generation/harness noise — on this fixture the
    # prefix converges in 2 rounds and the star stage never runs).
    D5_CC_STATS.clear()
    comp = connected_components_hybrid(edges, stats=D5_CC_STATS)
    return (
        docs.join(comp.select(F.col("id").alias("doc_id"), "component"), on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").cast("long").alias("component"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("component"))
    )


@register(
    "pipe1_curation_budget",
    bench=18,
    survey="ext:pipeline",
    doc="Flagship training-data curation pipeline composing the "
    "extension layer end-to-end: exact dedup → has-embedding semi-join "
    "→ token-count quality gate → language-ID → per-language token "
    "budget (cumulative-sum window keeps the most stopword-dense, i.e. "
    "most natural-language, docs until 3000 tokens per language). "
    "Every stage is a shuffle-on-key or broadcast — no collect, no UDF.",
    oracle=f"""
    WITH dedup AS (
      SELECT * FROM documents
      QUALIFY row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id) = 1
    ), feat AS (
      SELECT doc_id,
             len({_DUCK_TOKENS}) AS n_tokens,
             round(len(list_filter({_DUCK_TOKENS},
                       w -> list_contains({list(EN_STOPWORDS)!r}::VARCHAR[], w))) * 1.0
                   / greatest(len({_DUCK_TOKENS}), 1), 6) AS stopword_ratio,
             {_DUCK_LANG_CASE.replace("s_", "sx_")} AS lang_pred
      FROM (
        SELECT *,
               {', '.join(f'{_duck_marker_count(la)} AS sx_{la}' for la in _LANGS)}
        FROM dedup d
        WHERE EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
      )
    ), kept AS (
      SELECT * FROM feat WHERE n_tokens >= 20
    ), budget AS (
      SELECT doc_id, lang_pred, n_tokens, stopword_ratio,
             CAST(sum(n_tokens) OVER (
               PARTITION BY lang_pred ORDER BY stopword_ratio DESC, doc_id
             ) AS BIGINT) AS cum_tokens
      FROM kept
    )
    SELECT * FROM budget WHERE cum_tokens <= 3000
    """,
)
def pipe1_curation_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = dedup_exact(_docs(spark, sf_dir))
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    d = d.join(emb, on="doc_id", how="left_semi")
    # token array aliased ONCE in its own select (tx6 CollapseProject
    # discipline — r10 review: the previous projection embedded its own
    # split per derived column and lang_id added four more marker-scan
    # splits, ~7 re-tokenizations per row)
    tkd = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    tk = F.col("tk")
    feat = tkd.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        F.round(
            stopword_count(tk, EN_STOPWORDS) / F.greatest(F.size(tk), F.lit(1)), 6
        ).alias("stopword_ratio"),
        lang_id_tokens(tk).alias("lang_pred"),
    )
    kept = feat.filter(F.col("n_tokens") >= 20)
    w = (
        Window.partitionBy("lang_pred")
        .orderBy(F.col("stopword_ratio").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = kept.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w).cast("long")
    )
    return budget.filter(F.col("cum_tokens") <= 3000).select(
        "doc_id", "lang_pred", "n_tokens", "stopword_ratio", "cum_tokens"
    )


@register(
    "mm1_binary_features",
    survey="ext:multimodal",
    doc="Multimodal plumbing: text → binary payload → Arrow-batched "
    "mapInPandas feature extraction (byte length, first/last byte). "
    "Fixture texts are ASCII so the oracle can state the bytes in SQL.",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           ascii(substr(text, 1, 1)) AS first_byte,
           ascii(substr(text, length(text), 1)) AS last_byte
    FROM documents
    """,
)
def mm1_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_payload(_docs(spark, sf_dir))
    return extract_binary_features(d)


@register(
    "mm2_frame_sample",
    survey="ext:multimodal",
    doc="Video-style frame sampling: payload → 64-byte frames, every "
    "4th kept, per-frame features via a row-expanding Arrow-batched "
    "mapInPandas (the real decode seam at deploy time). Fixture texts "
    "are ASCII, so octet positions == char positions and the oracle "
    "can state every sampled frame in SQL.",
    oracle="""
    SELECT doc_id,
           CAST(i AS INT) AS frame_idx,
           CAST(least(octet_length(encode(text)) - i * 64, 64) AS INT) AS frame_len,
           ascii(substr(text, i * 64 + 1, 1)) AS first_byte
    FROM documents, (SELECT unnest(range(0, 4096)) AS i) g
    WHERE i * 64 < octet_length(encode(text)) AND i % 4 = 0
    """,
)
def mm2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_payload(_docs(spark, sf_dir))
    return frame_sample(d, frame_size=64, every_k=4)


@register(
    "samp1_hash_stratified",
    survey="ext:sampling",
    doc="Deterministic stratified sampling: per source stratum, keep "
    "the 25 docs that sort first by md5(doc_id || text) — a seedless, "
    "engine-reproducible pseudo-random order (hash-order sampling). "
    "One shuffle on the stratum key, rank window per stratum; at "
    "100 TB Catalyst plans the rn<=k filter as WindowGroupLimit "
    "(per-task top-k before the shuffle), so the shuffle carries "
    "~k·strata rows, not the corpus.",
    oracle="""
    SELECT doc_id, source
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY source ORDER BY md5(doc_id || text) NULLS LAST, doc_id
    ) <= 25
    """,
)
def samp1_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.col("text")))
    # explicit NULLS LAST (r10 review): Spark ascending sorts NULLS
    # FIRST while DuckDB defaults to NULLS LAST — a NULL text (md5 of a
    # NULL concat) would be sampled by one engine and excluded by the
    # other
    w = Window.partitionBy("source").orderBy(h.asc_nulls_last(), F.col("doc_id"))
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 25)
        .select("doc_id", "source")
    )


@register(
    "split1_hash_split",
    survey="ext:sampling",
    doc="Reproducible train/val/test split: route each doc by the "
    "first two hex chars of md5(doc_id || text) — 'cc' ≈ 80 %, "
    "'e6' ≈ 90 % of the 256-bucket space. Pure projection, no "
    "shuffle, stable under repartitioning/reruns/engines (md5 is "
    "bit-identical everywhere) — the property ad-hoc rand() splits "
    "lack. Returns per-split counts.",
    oracle="""
    WITH tagged AS (
      SELECT CASE WHEN substr(md5(doc_id || text), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(doc_id || text), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, count(*) AS n FROM tagged GROUP BY split
    """,
)
def split1_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    b = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.col("text"))), 1, 2
    )
    split = (
        F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    )
    return d.select(split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "tx1_tfidf_top_terms",
    survey="ext:text",
    doc="TF-IDF top-3 terms per document: term frequency per (doc, "
    "term) from one explode, document frequency from a per-term "
    "aggregate of the same exploded stream (two shuffles, both "
    "map-side-combined), smooth idf = ln((N+1)/(df+1)) + 1, top-3 by "
    "weight with deterministic term tie-break (WindowGroupLimit "
    "per-doc top-k, no global sort).",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) <= 3
    """,
)
def tx1_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    # N rides along as a SCALAR SUBQUERY (the oracle's ``n`` CTE in
    # Spark form): Catalyst runs the count as its own stage and folds
    # the result in as a literal — no driver-side .count() barrier at
    # plan-construction time (round-5 verdict #5), and no join node at
    # all (a cross-joined 1-row literal would plan as
    # BroadcastNestedLoopJoin and break the registry-wide no-BNLJ
    # invariant; a constant-key equi-join gets constant-folded back
    # into exactly that).
    d.createOrReplaceTempView("pypgsync_tx1_docs")
    n_expr = F.expr("(SELECT count(*) FROM pypgsync_tx1_docs)").cast("double")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df_, on="term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * (F.log((n_expr + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "tx2_top_bigrams",
    survey="ext:text",
    doc="Corpus-wide top-20 word bigrams with counts — the n-gram "
    "frequency table behind contamination checks and boilerplate "
    "inventories. One explode + map-side-combined count + "
    "TakeOrderedAndProject (heap top-k, no global sort); deterministic "
    "bigram tie-break.",
    oracle=f"""
    WITH t AS (SELECT {_DUCK_TOKENS} AS tk FROM documents),
    bg AS (
      SELECT concat_ws(' ', tk[i], tk[i+1]) AS bigram
      FROM t, (SELECT unnest(range(1, 100000)) AS i)
      WHERE i <= len(tk) - 1
    )
    SELECT bigram, count(*) AS n FROM bg
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def tx2_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tk = tokens(F.col("text"))
    # positional bigrams (NOT distinct per doc — corpus frequency needs
    # every occurrence) as (token, next-token) structs from two shifted
    # slices zipped: no per-bigram string building in the hot path, no
    # interpreted transform lambda (~4.5× faster than the array_join
    # formulation); the display string is concatenated AFTER the top-20
    # heap, i.e. for 20 rows instead of the whole corpus. Docs with
    # < 2 tokens produce zero-length slices and contribute nothing.
    ln = F.greatest(F.size(tk) - 1, F.lit(0))
    arr = F.arrays_zip(
        F.slice(tk, 1, ln).alias("t1"), F.slice(tk, 2, ln).alias("t2")
    )
    bigrams = d.select(F.explode(arr).alias("g"))
    return (
        bigrams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat_ws(" ", F.col("g.t1"), F.col("g.t2")).alias("bigram"), "n"
        )
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@register(
    "tx3_decontamination",
    survey="ext:text,ext:dedup",
    doc="Benchmark decontamination: flag every training document "
    "sharing at least one 3-gram shingle with the held-out set (here: "
    "doc_id % 50 == 0 stands in for the benchmark corpus). Exploded "
    "shingles LEFT SEMI-joined against the distinct benchmark "
    "shingles — one shuffle on the shingle value, and the contaminated "
    "id set comes back as a distinct aggregate; no per-pair work, no "
    "cross join. The n-gram-overlap check every LLM data pipeline "
    "runs before training.",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents),
    bench AS (
      SELECT DISTINCT unnest(sh) AS sh FROM s WHERE doc_id % 50 = 0
    ),
    train AS (SELECT doc_id, unnest(sh) AS sh FROM s WHERE doc_id % 50 <> 0)
    SELECT DISTINCT t.doc_id, TRUE AS contaminated
    FROM train t JOIN bench b USING (sh)
    """,
)
def tx3_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.dedup import with_shingles

    s = with_shingles(_docs(spark, sf_dir).select("doc_id", "text"), "text", 3)
    bench = (
        s.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    train = s.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    return (
        train.join(bench, on="sh", how="left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )


# One regexp pass per pattern, engine-portable (no lookarounds — RE2
# and Java regex agree on these).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\-\s]{7,}[0-9]"


@register(
    "tx4_redact_pii",
    survey="ext:text",
    doc="PII redaction pass: emails and phone-number-shaped spans "
    "replaced by typed placeholders — two JVM regexp_replace scans, "
    "no UDF, schema-preserving (the map step of a redaction pipeline; "
    "patterns chosen from the RE2 ∩ Java-regex portable subset so the "
    "oracle runs the identical expressions).",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text
    FROM documents
    """,
)
def tx4_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select("doc_id", clean.alias("clean_text"))


@register(
    "tx5_repetition_filter",
    bench=25,
    survey="ext:text,ext:quality",
    doc="Repetition-based quality filter (the Gopher-rules family): "
    "per-document duplicate-bigram fraction and top-bigram fraction "
    "from ONE explode of the in-order word-bigram stream, aggregated "
    "back to one row per doc (two map-side-combined shuffles on "
    "doc_id), then thresholded into a keep flag. Catches the "
    "boilerplate/template pages exact- and near-dedup both miss "
    "because the repetition is INTERNAL to the document.",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(t) - 1, 0) + 1),
               i -> concat_ws(' ', t[i], t[i+1]))) AS g
      FROM tok
    ),
    cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
    agg AS (
      SELECT doc_id, sum(c) AS total, max(c) AS mx,
             sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
      FROM cnt GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(total, 0) AS BIGINT) AS n_bigrams,
           round(coalesce(mx, 0) * 1.0 / greatest(coalesce(total, 1), 1), 6)
             AS top_bigram_frac,
           round(coalesce(dup, 0) * 1.0 / greatest(coalesce(total, 1), 1), 6)
             AS dup_bigram_frac,
           (coalesce(mx, 0) * 1.0 / greatest(coalesce(total, 1), 1) <= 0.0625
            AND coalesce(dup, 0) * 1.0 / greatest(coalesce(total, 1), 1) <= 0.12)
             AS keep
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
)
def tx5_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    tk = tokens(F.col("text"))
    # bigrams as (token, next-token) STRUCTS via two shifted slices
    # zipped — no per-bigram string building, no interpreted transform
    # lambda; measured ~4.5× faster than the array_join formulation on
    # the fixture corpus (the struct is only a grouping key here, so
    # its field values never need to be concatenated at all)
    ln = F.greatest(F.size(tk) - 1, F.lit(0))
    arr = F.arrays_zip(F.slice(tk, 1, ln), F.slice(tk, 2, ln))
    cnt = (
        d.select("doc_id", F.explode(arr).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("mx"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
    )
    total = F.greatest(F.coalesce(F.col("total"), F.lit(1)), F.lit(1))
    top_frac = F.coalesce(F.col("mx"), F.lit(0)) / total
    dup_frac = F.coalesce(F.col("dup"), F.lit(0)) / total
    return (
        d.select("doc_id")
        .join(agg, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("total"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(top_frac, 6).alias("top_bigram_frac"),
            F.round(dup_frac, 6).alias("dup_bigram_frac"),
            ((top_frac <= 0.0625) & (dup_frac <= 0.12)).alias("keep"),
        )
    )


@register(
    "pack1_token_budget_chunks",
    bench=39,
    survey="ext:sampling,ext:text,W1",
    doc="Token-budget sequence packing (operators/packing.py): "
    "concatenate each source stream in doc_id order and slice it into "
    "2048-token training sequences; a doc belongs to the chunk where "
    "it starts (offset div budget). The offset is a DISTRIBUTED "
    "two-level prefix sum — per-(stream, id-range-bucket) totals, a "
    "metadata-scale cumsum across buckets, broadcast offsets back, "
    "within-bucket window — never a one-task-per-stream global window, "
    "which is what the oracle's naive formulation would plan as and "
    "what a 100 TB corpus cannot run. Bit-identical output, scalable "
    "plan; returns per-chunk doc and token counts.",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             len({_DUCK_TOKENS}) AS n_tokens
      FROM documents
    ), c AS (
      SELECT source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM t
    )
    SELECT source, CAST(off // 2048 AS BIGINT) AS chunk_id,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
    FROM c GROUP BY source, chunk_id
    """,
)
def pack1_token_budget_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.packing import pack_chunks

    d = _docs(spark, sf_dir).select(
        "source", "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_chunks(
        d, "source", "doc_id", "n_tokens", budget=2048, bucket_size=1000
    )


@register(
    "d7_incremental_dedup",
    bench=40,
    survey="ext:dedup,§2.3",
    doc="Incremental exact dedup (operators/incremental.py): the "
    "ingest-batch contract. The standing corpus is docs with "
    "doc_id % 10 != 0; the incoming batch is the fresh docs "
    "(doc_id % 10 == 0) UNIONed with RE-CRAWLS — every doc_id % 7 == 3 "
    "document re-arriving under a new id (+1000000), same content. "
    "The delta first collapses internally (min doc_id per content "
    "fingerprint — the fresh original beats its own re-crawl), then a "
    "LEFT ANTI join on the fingerprint drops everything the corpus "
    "already holds (the re-crawls of corpus content). Work is "
    "delta-proportional: the corpus side ships only its pruned "
    "fingerprint column, no corpus×corpus pass.",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
      FROM documents
    ),
    delta AS (
      SELECT * FROM (
        SELECT doc_id, n_chars, f FROM fp WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, n_chars, f
        FROM fp WHERE doc_id % 7 = 3
      )
      QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
    )
    SELECT d.doc_id, d.n_chars FROM delta d
    WHERE NOT EXISTS (
      SELECT 1 FROM fp c WHERE c.doc_id % 10 <> 0 AND c.f = d.f
    )
    """,
)
def d7_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.incremental import incremental_dedup_exact

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    recrawl = d.filter(F.col("doc_id") % 7 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    delta = d.filter(F.col("doc_id") % 10 == 0).unionByName(recrawl)
    return incremental_dedup_exact(corpus, delta).select("doc_id", "n_chars")


@register(
    "d16_bloom_incremental_dedup",
    bench=136,
    survey="ext:dedup,§2.3",
    doc="d7's incremental exact dedup with the DELTA-side Bloom filter "
    "pushed into the CORPUS fingerprint scan "
    "(operators/incremental.incremental_dedup_bloom) — the w1/w1b "
    "precedent: SAME oracle answer, scale-path physical plan. The "
    "plain screen ships every corpus fingerprint into the anti-join "
    "shuffle; here a k-hash Bloom bitset built from the collapsed "
    "delta's fingerprints (delta-proportional driver metadata, an "
    "array<long> plan literal aliased in one projection) gates the "
    "corpus side with codegen'd shift/AND expressions, so at 100 TB "
    "the anti join sees ~|delta| corpus rows instead of |corpus| — "
    "Spark's InjectRuntimeFilter made explicit and deterministic. No "
    "false negatives by construction (pytest-pinned vs d7 row-for-"
    "row); false positives only add harmless join input. Same "
    "corpus/delta/re-crawl fixture as d7.",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
      FROM documents
    ),
    delta AS (
      SELECT * FROM (
        SELECT doc_id, n_chars, f FROM fp WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, n_chars, f
        FROM fp WHERE doc_id % 7 = 3
      )
      QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) = 1
    )
    SELECT d.doc_id, d.n_chars FROM delta d
    WHERE NOT EXISTS (
      SELECT 1 FROM fp c WHERE c.doc_id % 10 <> 0 AND c.f = d.f
    )
    """,
)
def d16_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.incremental import incremental_dedup_bloom

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    recrawl = d.filter(F.col("doc_id") % 7 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    delta = d.filter(F.col("doc_id") % 10 == 0).unionByName(recrawl)
    return incremental_dedup_bloom(corpus, delta).select("doc_id", "n_chars")


@register(
    "d17_lsh_index_screen",
    bench=140,
    survey="ext:dedup,S4,S7",
    doc="Incremental NEAR-dup against a MATERIALIZED LSH index — the "
    "missing cell in the incremental matrix (d7/d16 screen exact "
    "fingerprints, d8 recomputes both sides' shingles every batch): "
    "one build pass writes the corpus's MinHash(64)+LSH(16 bands) "
    "(id, band, bucket) keys partitionBy(band), bucket-sorted "
    "(operators/dedup.lsh_band_index_write — the v15 "
    "materialized-ANN-index precedent applied to dedup), then the "
    "ingest delta signs ONLY itself, Bloom-gates the index scan on "
    "xxhash64(band,bucket) (d16's gate, extracted to the shared "
    "bloom_prune), bucket-joins the survivors, and exact-Jaccard-"
    "verifies candidates with corpus text read for |candidates| "
    "documents via a left-semi join. Work per batch is delta-"
    "proportional; in production the corpus's signature cost is paid "
    "once per corpus version (the index is write-once on disk). Same "
    "corpus/delta/re-crawl fixture as d7/d16 (re-crawls guarantee "
    "jaccard-1.0 hits); same band geometry as d3, so the oracle "
    "restates the full signature/banding chain in exact md5 integer "
    "arithmetic, joined CROSS-side instead of self. The BENCHED query "
    "builds the index fresh EVERY call (v15's build-per-call "
    "discipline; the r14 verdict ruled the per-process cache "
    "gaming-adjacent — a steady figure that amortized the build "
    "across warm runs was not comparable to its peers), so its bench "
    "rank times build+probe honestly. Probe geometry is asserted "
    "against the index sidecar; the Bloom gate degrades to an ungated "
    "(still exact) scan past ~125k delta docs (bloom_prune max_keys).",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents),
    shc AS (SELECT doc_id, sh FROM base WHERE doc_id % 10 <> 0),
    shd AS (
      SELECT doc_id + 1000000 AS doc_id, sh FROM base WHERE doc_id % 7 = 3
      UNION ALL
      SELECT doc_id, sh FROM base WHERE doc_id % 10 = 0
    ),
    hc AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {_M31} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM shc)
    ),
    hd AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {_M31} AS h
      FROM (SELECT doc_id, unnest(sh) AS s FROM shd)
    ),
    sigc AS (
      SELECT doc_id,
             {_DUCK_MINHASH_MINS}
      FROM hc GROUP BY doc_id
    ),
    sigd AS (
      SELECT doc_id,
             {_DUCK_MINHASH_MINS}
      FROM hd GROUP BY doc_id
    ),
    bandsc AS (
      {_DUCK_MINHASH_BANDS.replace("FROM sig", "FROM sigc")}
    ),
    bandsd AS (
      {_DUCK_MINHASH_BANDS.replace("FROM sig", "FROM sigd")}
    ),
    cand AS (
      SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
      FROM bandsd d JOIN bandsc c USING (band, k1, k2, k3, k4)
    )
    SELECT cand.delta_id, cand.corpus_id,
           round({_DUCK_JACCARD}, 6) AS jaccard
    FROM cand
    JOIN shd a ON a.doc_id = cand.delta_id
    JOIN shc b ON b.doc_id = cand.corpus_id
    WHERE {_DUCK_JACCARD} > 0.3
    """,
)
def d17_lsh_index_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pypgsync_spark.operators.dedup import lsh_band_index_write
    from pypgsync_spark.operators.incremental import lsh_index_screen
    from pypgsync_spark.queries.syncq import _pid_scratch_dir

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    recrawl = d.filter(F.col("doc_id") % 7 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    delta = d.filter(F.col("doc_id") % 10 == 0).unionByName(recrawl)
    # build-per-call (r15, r14 verdict #1): the r14 per-process cache
    # (_D17_INDEX_CACHE) moved the build out of the bench's warm runs —
    # a precomputed intermediate keyed on the fixture, i.e. exactly the
    # measurement shape the rules forbid, even though the operator's
    # production contract IS write-once. v15 already settled the
    # honest form for materialized-index queries: rebuild every call,
    # under a pid-scoped reaped parent so repeated runs never grow
    # /tmp and a stale index from older code can never serve a probe.
    parent = _pid_scratch_dir("d17_lsh_index", sf_dir)
    os.makedirs(parent, exist_ok=True)
    path = os.path.join(tempfile.mkdtemp(prefix="run_", dir=parent), "idx")
    lsh_band_index_write(corpus, path)
    return lsh_index_screen(spark, path, corpus, delta)


@register(
    "pack2_sliding_windows",
    bench=41,
    survey="ext:text,ext:sampling",
    doc="Sliding context-window chunking: each document yields windows "
    "of 32 tokens at stride 16 (the overlap-chunking step of RAG / "
    "long-doc training prep) — window i covers tokens [16i, 16i+32), "
    "short docs get one window. Pure JVM sequence+explode projection: "
    "no shuffle at all until a consumer aggregates, output rows "
    "∝ corpus tokens / stride. Returns (doc_id, window_id, "
    "n_window_tokens).",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_DUCK_TOKENS}) AS n FROM documents
    ),
    w AS (
      SELECT doc_id, n,
             unnest(range(0, CASE WHEN n <= 32 THEN 1
                                  ELSE 1 + CAST(ceil((n - 32) / 16.0) AS INT)
                             END)) AS wid
      FROM t
    )
    SELECT doc_id, CAST(wid AS INT) AS window_id,
           CAST(least(32, n - wid * 16) AS BIGINT) AS n_window_tokens
    FROM w
    """,
)
def pack2_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n")
    )
    k = F.when(F.col("n") <= 32, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((F.col("n") - 32) / F.lit(16.0)).cast("int")
    )
    return d.select(
        "doc_id",
        F.col("n"),
        F.explode(F.sequence(F.lit(0), k - 1)).alias("window_id"),
    ).select(
        "doc_id",
        F.col("window_id").cast("int").alias("window_id"),
        F.least(F.lit(32), F.col("n") - F.col("window_id") * 16)
        .cast("long")
        .alias("n_window_tokens"),
    )


@register(
    "samp3_temperature_mixture",
    bench=44,
    survey="ext:sampling,A4",
    doc="Temperature-resampled language mixture (the multilingual "
    "rebalancing step): per-language token shares are raised to "
    "alpha=0.5 and renormalized into sampling probabilities — "
    "up-weighting tail languages exactly as multilingual pretraining "
    "mixtures do. ONE corpus scan and one map-side-combined groupBy; "
    "the share/renormalize math runs as windows over the per-language "
    "STATS table (a handful of rows — metadata-scale by construction, "
    "the deliberate place for an unpartitioned window).",
    oracle=f"""
    WITH s AS (
      SELECT lang, count(*) AS n_docs,
             SUM(len({_DUCK_TOKENS})) AS n_tokens
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs, n_tokens,
             sqrt(n_tokens * 1.0 / SUM(n_tokens) OVER ()) AS wt
      FROM s
    )
    SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(wt / SUM(wt) OVER (), 6) AS p_sample
    FROM w
    """,
)
def samp3_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w0 = Window.partitionBy()
    # sqrt, never pow(x, 0.5): libm pow is not correctly rounded and
    # Java/DuckDB disagree within an ulp, while sqrt is IEEE-exact on
    # both engines (the r8 seq_cosine lesson, CLAUDE.md)
    wt = F.sqrt(F.col("n_tokens") / F.sum("n_tokens").over(w0))
    return s.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(wt / F.sum(wt).over(w0), 6).alias("p_sample"),
    )


@register(
    "d8_delta_jaccard_pairs",
    bench=42,
    survey="ext:dedup,§2.3",
    doc="Cross-collection near-dup screen "
    "(operators/incremental.cross_jaccard_pairs): every (delta doc, "
    "corpus doc) pair with exact 3-gram Jaccard > 0.3, delta = "
    "doc_id % 10 == 0 vs the standing corpus — complete via the "
    "shared-canonical-order PPJoin prefix filter, so the oracle is "
    "the plain cross join. The near-dup face of the d7 ingest screen: "
    "candidate work scales with shared rare shingles, never "
    "delta × corpus.",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents)
    SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
           round(len(list_intersect(d.sh, c.sh)) * 1.0
                 / greatest(len(list_distinct(list_concat(d.sh, c.sh))), 1), 6) AS jaccard
    FROM s d JOIN s c
      ON d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    WHERE len(list_intersect(d.sh, c.sh)) * 1.0
          / greatest(len(list_distinct(list_concat(d.sh, c.sh))), 1) > 0.3
    """,
)
def d8_delta_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.incremental import cross_jaccard_pairs

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    return cross_jaccard_pairs(corpus, delta, threshold=0.3)


@register(
    "d9_cluster_canonical",
    bench=50,
    survey="ext:dedup,W1",
    doc="Canonical-document selection per near-dup cluster: for every "
    "cluster of ≥2 mutual near-dups (3-gram Jaccard > 0.3, connected "
    "components over the pair graph), keep the LONGEST member "
    "(max n_chars, tie → min doc_id) — the curation rule that "
    "preserves the most content instead of an arbitrary survivor. "
    "One window over the component-keyed join; the oracle rebuilds "
    "the identical closure with a recursive CTE and the same "
    "deterministic argmax.",
    oracle=f"""
    WITH RECURSIVE s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) > 0.3
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    sel AS (
      SELECT c.component, d.doc_id, d.n_chars,
             row_number() OVER (
               PARTITION BY c.component ORDER BY d.n_chars DESC, d.doc_id
             ) AS rn,
             count(*) OVER (PARTITION BY c.component) AS n_docs
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT CAST(component AS BIGINT) AS component,
           doc_id AS canonical_doc_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           n_chars AS canonical_chars
    FROM sel WHERE rn = 1 AND n_docs > 1
    """,
)
def d9_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pypgsync_spark.operators.dedup import connected_components_hybrid

    docs = _docs(spark, sf_dir)
    edges = ngram_jaccard_pairs(docs, threshold=0.3)
    comp = connected_components_hybrid(edges).select(
        F.col("id").alias("doc_id"), "component"
    )
    members = comp.join(docs.select("doc_id", "n_chars"), on="doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        members.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc))
        .filter((F.col("__rn") == 1) & (F.col("n_docs") > 1))
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_chars").alias("canonical_chars"),
        )
    )


@register(
    "pipe2_dedup_pack_pipeline",
    bench=54,
    survey="ext:pipeline,ext:dedup,ext:sampling",
    doc="Flagship curation-to-packing pipeline: near-dup clusters "
    "(exact 3-gram Jaccard > 0.3 → connected components) → canonical "
    "member per cluster (longest, tie min doc_id; singletons keep "
    "themselves) → minimum-length gate (≥ 20 tokens) → token-budget "
    "packing of the survivors into 2048-token training sequences per "
    "source via the distributed prefix sum. Every stage is an "
    "individually-verified operator (d5/d9 clustering, pack1 "
    "packing); the oracle restates the whole composition in one "
    "closed form (recursive CTE + windows).",
    oracle=f"""
    WITH RECURSIVE s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) > 0.3
    ),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    members AS (
      SELECT d.doc_id, d.source, c.component, d.n_chars,
             len({_DUCK_TOKENS}) AS n_tokens
      FROM documents d JOIN comp c USING (doc_id)
    ),
    winners AS (
      SELECT * FROM members
      QUALIFY row_number() OVER (
        PARTITION BY component ORDER BY n_chars DESC, doc_id) = 1
    ),
    kept AS (SELECT * FROM winners WHERE n_tokens >= 20),
    packed AS (
      SELECT source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM kept
    )
    SELECT source, CAST(off // 2048 AS BIGINT) AS chunk_id,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
    FROM packed GROUP BY source, chunk_id
    """,
)
def pipe2_dedup_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pypgsync_spark.operators.dedup import connected_components_hybrid
    from pypgsync_spark.operators.packing import pack_chunks

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", "n_chars", token_count(F.col("text")).alias("n_tokens")
    )
    edges = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)
    comp = connected_components_hybrid(edges).select(
        F.col("id").alias("doc_id"), "component"
    )
    members = docs.join(comp, on="doc_id", how="left").withColumn(
        "component", F.coalesce("component", "doc_id")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    kept = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("n_tokens") >= 20))
        .select("doc_id", "source", "n_tokens")
    )
    return pack_chunks(
        kept, "source", "doc_id", "n_tokens", budget=2048, bucket_size=1000
    )


# ------------------------------------------------------ tx6/tx7: fingerprint + entropy

_WINNOW_K, _WINNOW_W = 5, 4

# Shared winnowing CTE chain for the tx6/d10 oracles. The CASE guards
# mirror Spark's winnow_fingerprints NULL-propagation (ADVICE r7): a
# NULL document must yield NULL fingerprints, not the junk
# [NULL]-derived list DuckDB's greatest()-clamped range would produce
# (greatest ignores NULLs, Postgres semantics, so len(NULL)-k clamps
# to 1 and the transform runs over NULL slices).
_DUCK_WINNOW_CTES = f"""
    t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
    k AS (
      SELECT doc_id, CASE WHEN toks IS NULL THEN NULL ELSE list_transform(
        range(1, greatest(len(toks) - {_WINNOW_K - 1}, 1) + 1),
        i -> ('0x' || substr(md5(array_to_string(toks[i:i+{_WINNOW_K - 1}], ' ')),
                             1, 12))::BIGINT
      ) END AS h FROM t
    ),
    f AS (
      SELECT doc_id, CASE WHEN h IS NULL THEN NULL ELSE list_distinct(
        list_transform(
          range(1, greatest(len(h) - {_WINNOW_W - 1}, 1) + 1),
          j -> list_min(h[j:j+{_WINNOW_W - 1}])
        )
      ) END AS fps FROM k
    )"""


@register(
    "tx6_winnow_fingerprints",
    bench=57,
    survey="ext:text",
    doc="MOSS-style winnowing document fingerprints (Schleimer et al., "
    "SIGMOD 2003) — the rolling-hash fingerprinting primitive: hash "
    "every 5-token gram (portable 48-bit md5-derived int), keep the "
    "min of every 4-hash window, dedup. Any shared run of >= 8 tokens "
    "between two docs shares a fingerprint while only ~2/(w+1) of "
    "hashes are stored. Pure array HOFs per row (no UDF, no explode "
    "shuffle) — embarrassingly parallel, scales as a map-only pass; "
    "downstream pair-finding joins on exploded fingerprints exactly "
    "like the MinHash band join. Output is per-doc fingerprint-set "
    "aggregates (the set itself is order-unstable across engines).",
    oracle=f"""
    WITH {_DUCK_WINNOW_CTES}
    SELECT doc_id, len(fps) AS n_fps, list_min(fps) AS fp_min,
           list_max(fps) AS fp_max, CAST(list_sum(fps) AS BIGINT) AS fp_sum
    FROM f
    """,
)
def tx6_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.functions.text import winnow_fingerprints
    from pypgsync_spark.operators.dedup import spread_if_underpartitioned

    d = spread_if_underpartitioned(_docs(spark, sf_dir))
    # alias the fingerprint set in its own projection: four consumers
    # below reference it, and CollapseProject's cost guard then keeps
    # the winnowing evaluated once per row instead of four times
    f = d.select(
        "doc_id",
        winnow_fingerprints(F.col("text"), k=_WINNOW_K, w=_WINNOW_W).alias("fps"),
    )
    return f.select(
        "doc_id",
        F.size("fps").alias("n_fps"),
        F.array_min("fps").alias("fp_min"),
        F.array_max("fps").alias("fp_max"),
        F.aggregate("fps", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "fp_sum"
        ),
    )


@register(
    "tx7_token_entropy",
    bench=58,
    survey="ext:text",
    doc="Shannon token entropy per document — the information-density "
    "quality signal (low entropy = boilerplate/repetition, used "
    "alongside tx5's repetition filter in web-corpus curation). "
    "H = log2(n) - sum(c*log2 c)/n over per-doc token counts: one "
    "explode + two map-side-combined aggregations; the shuffle "
    "carries (doc, token) counts, never text. Final value rounded to "
    "6 (float-determinism discipline, CLAUDE.md).",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2)
    SELECT doc_id, count(*) AS n_distinct_tokens,
           round(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6) AS entropy
    FROM c GROUP BY doc_id
    """,
)
def tx7_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum("c").alias("__n"),
            F.sum(F.col("c") * F.log2("c")).alias("__clc"),
        )
        .select(
            "doc_id",
            "n_distinct_tokens",
            F.round(F.log2("__n") - F.col("__clc") / F.col("__n"), 6).alias(
                "entropy"
            ),
        )
    )


_WINNOW_MAXDF = 10  # drop fingerprints appearing in more docs (stopword runs)


def _winnow_pair_index(spark, sf_dir):
    """Shared winnowing pair index for d10/d11 (r10 review: the whole
    fingerprint -> rare-df filter -> checkpoint -> self-join pipeline
    was duplicated verbatim; a df-threshold or checkpoint change in
    one copy would silently diverge the other). Returns ``(pairs, sa,
    sb)``: shared>=2 fingerprint-collision pairs, and the per-doc
    rare-fingerprint sizes aliased for the a/b join sides."""
    from pypgsync_spark.functions.text import winnow_fingerprints
    from pypgsync_spark.operators.dedup import spread_if_underpartitioned

    d = spread_if_underpartitioned(_docs(spark, sf_dir))
    f = d.select(
        "doc_id",
        winnow_fingerprints(F.col("text"), k=_WINNOW_K, w=_WINNOW_W).alias("fps"),
    )
    # materialize the exploded (doc_id, fp) stream BEFORE the df split:
    # both the rare-fingerprint build and the join probe consume ``e``,
    # and without this checkpoint each branch re-ran the whole
    # scan -> repartition -> winnow chain (r14 profile: two identical
    # single-task 0.78 s scan stages per run — the winnowing paid
    # twice). ~0.8 MB of longs, metadata-scale at any SF.
    e = f.select("doc_id", F.explode("fps").alias("fp")).localCheckpoint(
        eager=False
    )
    rare = (
        e.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= _WINNOW_MAXDF)
        .select("fp")
    )
    # the df-filtered index feeds the size aggregate AND both self-join
    # sides; localCheckpoint materializes the winnowing + df-join ONCE
    # (same rationale as ngram_jaccard_pairs' shingle checkpoint -
    # the branches otherwise each re-run the interpreted fingerprinting
    # over the full corpus; plan showed no ReusedExchange)
    ee = e.join(rare, on="fp").localCheckpoint(eager=False)
    sz = ee.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ee.select(F.col("doc_id").alias("doc_a"), "fp")
    b = ee.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, on="fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("__na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("__nb"))
    return pairs, sa, sb


@register(
    "d10_winnow_substring_pairs",
    bench=60,
    survey="ext:text,§2.3",
    doc="Substring-level near-dup pairs via winnowing fingerprints "
    "(tx6's scale path, the MOSS pair-finding stage): explode each "
    "doc's fingerprint set, drop ubiquitous fingerprints (df > "
    f"{_WINNOW_MAXDF} docs — boilerplate runs, the inverted-index "
    "stopword rule), inverted-index self-join on the fingerprint, "
    "count shared per pair, Jaccard over the df-filtered sets. Each "
    "shared fingerprint witnesses a >= w+k-1 = 8-token verbatim "
    "overlap, so pairs here are copy/quote relationships that "
    "whole-document Jaccard (d2) dilutes away. All-integer Jaccard "
    "(exact on both engines, round 6); the join is equi on the "
    "fingerprint — shuffle carries (doc, fp) pairs, ~2/(w+1) of "
    "token count, never text.",
    oracle=f"""
    WITH {_DUCK_WINNOW_CTES},
    e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
    rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= {_WINNOW_MAXDF}),
    ee AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
    sz AS (SELECT doc_id, count(*) AS n FROM ee GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared,
           round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
    FROM p
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE shared >= 2
    """,
)
def d10_winnow_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, sa, sb = _winnow_pair_index(spark, sf_dir)
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(
                F.col("shared") / (F.col("__na") + F.col("__nb") - F.col("shared")), 6
            ).alias("jaccard"),
        )
    )


@register(
    "mm3_resize_signature",
    bench=61,
    survey="ext:multimodal",
    doc="The media pipeline's RESIZE stage (decode -> resize -> "
    "featurize): downsample each binary payload to <= 16 strided byte "
    "samples through a row-expanding Arrow-batched mapInPandas — the "
    "batch shape, schema contract and one-row-to-k-rows plumbing a "
    "real interpolating image/audio resize keeps; only the sampling "
    "kernel is the deploy seam. ASCII fixture ==> byte positions == "
    "char positions, so the oracle states every sample in SQL.",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CAST(ceil(octet_length(text::BLOB) / 16.0) AS BIGINT) AS stride
      FROM documents WHERE octet_length(text::BLOB) > 0
    )
    SELECT doc_id, CAST(j AS INT) AS sample_idx,
           ascii(substr(text, CAST(j * stride + 1 AS INT), 1)) AS byte_val
    FROM d, (SELECT unnest(range(0, 16)) AS j) g
    WHERE j * stride < octet_length(text::BLOB)
    """,
)
def mm3_resize_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        resize_signature,
        with_binary_payload,
    )

    d = with_binary_payload(_docs(spark, sf_dir))
    return resize_signature(d, target=16)


@register(
    "mm4_image_decode_stats",
    bench=119,
    survey="ext:multimodal",
    doc="The media pipeline's DECODE stage, end-to-end on REAL "
    "containers (r10 verdict #4 — the NotImplementedError stub is "
    "gone): per document, build a deterministic 6×4 RGB image, "
    "serialize it as binary PPM P6 (even ids) or padded 24-bit BMP "
    "(odd ids), ship the container bytes through a binary column, "
    "parse them back with the dependency-free reference decoder "
    "(magic-byte sniff, BMP bottom-up/BGR/row-padding handling), and "
    "emit per-channel pixel sums. Pixel byte i is (doc_id*31+i*7)%256 "
    "so the oracle restates the decoded sums in pure SQL — any "
    "container-layout bug fails the hash. Compressed codecs remain "
    "the documented deploy seam (decode_image raises ValueError for "
    "unknown magic).",
    oracle="""
    WITH px AS (SELECT doc_id, unnest(range(24)) AS k FROM documents)
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
           CAST(SUM((doc_id * 31 + (3 * k) * 7) % 256) AS BIGINT) AS r_sum,
           CAST(SUM((doc_id * 31 + (3 * k + 1) * 7) % 256) AS BIGINT) AS g_sum,
           CAST(SUM((doc_id * 31 + (3 * k + 2) * 7) % 256) AS BIGINT) AS b_sum
    FROM px GROUP BY doc_id
    """,
)
def mm4_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        image_decode_stats,
        with_image_payload,
    )

    return image_decode_stats(with_image_payload(_docs(spark, sf_dir)))


@register(
    "mm7_image_resize_stats",
    bench=123,
    survey="ext:multimodal",
    doc="The media pipeline's RESIZE stage on REAL pixels (mm3's "
    "byte-strided signature validates the plumbing; this is the "
    "pixel-accurate form now that decode is real): decode each "
    "PPM/BMP container (mm4's payloads), nearest-neighbor downsample "
    "by 2 (output pixel (y,x) = input pixel (2y,2x); ceil-division "
    "output dims), and emit resized dims + per-channel sums. The "
    "oracle restates the sampled-pixel sums in pure SQL via the "
    "fixture byte formula — an off-by-one in the sampling grid (the "
    "classic resize bug) fails the hash. Interpolating kernels "
    "(bilinear/Lanczos) are the documented swap-in at this seam.",
    oracle="""
    WITH g AS (
      SELECT doc_id, y, x, c FROM documents,
           (SELECT unnest(range(2)) AS y) ys,
           (SELECT unnest(range(3)) AS x) xs,
           (SELECT unnest(range(3)) AS c) cs
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
           CAST(2 AS INT) AS out_h, CAST(3 AS INT) AS out_w,
           CAST(SUM(CASE WHEN c = 0 THEN
                (doc_id * 31 + ((2 * y * 6 + 2 * x) * 3 + c) * 7) % 256
                END) AS BIGINT) AS r_sum,
           CAST(SUM(CASE WHEN c = 1 THEN
                (doc_id * 31 + ((2 * y * 6 + 2 * x) * 3 + c) * 7) % 256
                END) AS BIGINT) AS g_sum,
           CAST(SUM(CASE WHEN c = 2 THEN
                (doc_id * 31 + ((2 * y * 6 + 2 * x) * 3 + c) * 7) % 256
                END) AS BIGINT) AS b_sum
    FROM g GROUP BY doc_id
    """,
)
def mm7_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        image_resize_stats,
        with_image_payload,
    )

    return image_resize_stats(with_image_payload(_docs(spark, sf_dir)), factor=2)


@register(
    "mm5_audio_decode_stats",
    bench=120,
    survey="ext:multimodal",
    doc="The media pipeline's AUDIO decode stage, end-to-end on REAL "
    "containers: per document, build a deterministic 64-frame stereo "
    "int16 waveform, serialize it as a genuine RIFF/WAVE 16-bit PCM "
    "file (odd ids additionally carry an odd-sized junk LIST chunk, "
    "so the decoder must walk chunks and honor the RIFF pad-byte "
    "rule), ship the bytes through a binary column, parse them back "
    "with the dependency-free chunk-walking decoder, and emit frame "
    "count, per-channel sample sums, and peak amplitude. Interleaved "
    "sample i is (doc_id*37+i*11)%4096-2048, so the oracle restates "
    "the decoded stats in pure SQL — any layout bug (chunk walk, pad "
    "byte, little-endian int16, L/R interleave) fails the hash. "
    "Compressed codecs (mp3/aac/opus) remain the documented deploy "
    "seam (decode_wav16 raises ValueError for non-PCM-16).",
    oracle="""
    WITH s AS (SELECT doc_id, unnest(range(128)) AS i FROM documents)
    SELECT doc_id,
           CAST(count(*) // 2 AS INT) AS n_frames,
           CAST(SUM(CASE WHEN i % 2 = 0
                         THEN (doc_id * 37 + i * 11) % 4096 - 2048 END)
                AS BIGINT) AS l_sum,
           CAST(SUM(CASE WHEN i % 2 = 1
                         THEN (doc_id * 37 + i * 11) % 4096 - 2048 END)
                AS BIGINT) AS r_sum,
           CAST(MAX(abs((doc_id * 37 + i * 11) % 4096 - 2048)) AS INT) AS peak
    FROM s GROUP BY doc_id
    """,
)
def mm5_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        audio_decode_stats,
        with_audio_payload,
    )

    return audio_decode_stats(with_audio_payload(_docs(spark, sf_dir)))


@register(
    "mm8_audio_window_energy",
    bench=124,
    survey="ext:multimodal",
    doc="The media pipeline's temporal AUDIO featurize stage "
    "(mm6's frame sampling is the video twin): decode each RIFF/WAVE "
    "payload (mm5's real containers, junk-chunk variants included), "
    "split the 64 frames into 16-frame analysis windows, and emit "
    "per-window per-channel signal ENERGY (sum of squared samples — "
    "the integer-exact core of RMS, so the oracle restates it with "
    "no float anywhere) plus the window peak. Row-EXPANDING "
    "decode→window→featurize (one payload in, 4 feature rows out, "
    "partitioning inherited); a VAD / loudness / silence-trim kernel "
    "swaps in at this seam.",
    oracle="""
    WITH s AS (SELECT doc_id, unnest(range(128)) AS i FROM documents),
    v AS (
      SELECT doc_id, CAST((i // 2) // 16 AS INT) AS win_idx, i % 2 AS ch,
             (doc_id * 37 + i * 11) % 4096 - 2048 AS val
      FROM s
    )
    SELECT doc_id, win_idx,
           CAST(SUM(CASE WHEN ch = 0 THEN val * val END) AS BIGINT) AS l_energy,
           CAST(SUM(CASE WHEN ch = 1 THEN val * val END) AS BIGINT) AS r_energy,
           CAST(MAX(abs(val)) AS INT) AS peak
    FROM v GROUP BY doc_id, win_idx
    """,
)
def mm8_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        audio_window_energy,
        with_audio_payload,
    )

    return audio_window_energy(with_audio_payload(_docs(spark, sf_dir)))


# The dHash decode-to-signature chain in DuckDB SQL, shared verbatim by
# mm9 (self-join pairs) and mm10 (streaming ingest screen): md5 pixel
# bytes -> role-2 single-byte bump -> integer luma -> 64 comparison
# bits -> 4x16-bit bands -> per-doc signature. Defines CTEs bytes/
# bumped/gray/bits/bands(doc_id, bi, bv)/sig(doc_id, b0..b3).
_DUCK_PH_SIG_CHAIN = """WITH bytes AS (
      SELECT doc_id, 16 * blk + j AS i,
             CAST(concat('0x', substr(md5(
               CASE WHEN doc_id % 5 <= 2 THEN 'g:' || (doc_id - doc_id % 5)
                    ELSE 'u:' || doc_id END || ':' || blk
             ), 2 * j + 1, 2)) AS BIGINT) AS v
      FROM documents,
           (SELECT unnest(range(14)) AS blk) blks,
           (SELECT unnest(range(16)) AS j) js
      WHERE 16 * blk + j < 216
    ),
    bumped AS (
      SELECT doc_id, i,
             CASE WHEN doc_id % 5 = 2
                       AND i = 3 * (((doc_id - 2) // 5) % 72)
                  THEN (v + 64) % 256 ELSE v END AS v
      FROM bytes
    ),
    gray AS (
      SELECT doc_id, (i // 3) // 9 AS y, (i // 3) % 9 AS x, SUM(v) AS gv
      FROM bumped GROUP BY doc_id, i // 3
    ),
    bits AS (
      SELECT l.doc_id, l.y * 8 + l.x AS k,
             CASE WHEN l.gv < r.gv THEN 1 ELSE 0 END AS bit
      FROM gray l JOIN gray r
        ON l.doc_id = r.doc_id AND l.y = r.y AND r.x = l.x + 1
    ),
    bands AS (
      SELECT doc_id, k // 16 AS bi,
             CAST(SUM(bit * (1 << (k % 16))) AS BIGINT) AS bv
      FROM bits GROUP BY doc_id, k // 16
    ),
    sig AS (
      SELECT doc_id,
             MAX(CASE WHEN bi = 0 THEN bv END) AS b0,
             MAX(CASE WHEN bi = 1 THEN bv END) AS b1,
             MAX(CASE WHEN bi = 2 THEN bv END) AS b2,
             MAX(CASE WHEN bi = 3 THEN bv END) AS b3
      FROM bands GROUP BY doc_id
    ),"""


@register(
    "mm9_image_phash_pairs",
    bench=125,
    survey="ext:multimodal,ext:dedup",
    doc="MULTIMODAL near-dup: perceptual-hash (dHash) pairs over REAL "
    "decoded pixels (r11 verdict #2) — the capability real decode "
    "unlocked. Per document, a 9×8 RGB image with md5-derived "
    "near-dup group structure (groups of 5: two exact duplicates, one "
    "single-pixel near-dup, two unrelated) rides a genuine PPM/BMP "
    "container through a binary column; decode → integer-luma "
    "grayscale → 64 horizontal-comparison bits packed as 4×16-bit "
    "bands → banded-LSH equi-join candidates (pigeonhole-complete at "
    "radius 3 with one shuffle, the d3/d4 formulation on pixels "
    "instead of tokens) → exact hamming verify via per-band "
    "bit_count(xor). The oracle restates the ENTIRE decode-to-pair "
    "chain — md5 pixel bytes, bump, gray, bits, bands, bucket join, "
    "hamming — so the hash check covers container parsing, the "
    "sampling grid, and the LSH recall argument at once. Arithmetic "
    "pixel formulas were rejected: near-constant gray gradients made "
    "thousands of docs share one dHash (quadratic pair growth); md5 "
    "content keeps pairs exactly linear (0.6/doc at every scale).",
    oracle=f"""
    {_DUCK_PH_SIG_CHAIN}
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
              + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
             AS INT) AS hamming
    FROM cand
    JOIN sig sa ON cand.id_a = sa.doc_id
    JOIN sig sb ON cand.id_b = sb.doc_id
    WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
        + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) <= 3
    """,
)
def mm9_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        dhash_near_pairs,
        image_dhash_bands,
        with_neardup_image_payload,
    )

    return dhash_near_pairs(
        image_dhash_bands(with_neardup_image_payload(_docs(spark, sf_dir))),
        max_hamming=3,
    )


def _screen_verdict(drained: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Batch verdict on a banded screen's drained rows — THE one copy
    mm10 (image) and mm12 (audio) share: collapse multi-band
    multiplicity, keep radius-``max_hamming`` hits, aggregate per
    incoming row to (n_matches, best_hamming, is_novel)."""
    hits = (
        drained.filter(
            F.col("cand_id").isNotNull() & (F.col("hamming") <= max_hamming)
        )
        .dropDuplicates(["doc_id", "cand_id"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nm"), F.min("hamming").alias("bh"))
        .withColumnRenamed("doc_id", "doc_id_r")
    )
    base = drained.select("doc_id").dropDuplicates(["doc_id"])
    return base.join(
        hits, on=base["doc_id"] == hits["doc_id_r"], how="left"
    ).select(
        "doc_id",
        F.coalesce(F.col("nm"), F.lit(0)).cast("long").alias("n_matches"),
        F.coalesce(F.col("bh"), F.lit(-1)).cast("int").alias("best_hamming"),
        F.when(F.col("nm").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("int")
        .alias("is_novel"),
    )


@register(
    "mm10_stream_image_screen",
    bench=127,
    survey="ext:multimodal,ext:dedup,§2.10 ext",
    doc="Streaming MULTIMODAL ingest screen (r12 verdict #4) — live "
    "image ingest near-dup'd against a standing corpus: mm9's "
    "perceptual-hash chain (real PPM/BMP container decode → integer "
    "dHash → 4×16-bit bands) as the stream side of pipe6's stateless "
    "band screen. Incoming = every doc_id % 10 == 0 document's image "
    "(role 0 of its content group, so the standing corpus holds its "
    "exact duplicate at id+1 and a single-pixel near-dup at id+2 — "
    "guaranteed cross-split matches); corpus = all other documents. "
    "The stream stage is entirely STATELESS (plan-asserted): one "
    "Arrow-batched encode→decode→dHash map, a ×4 band explode, and a "
    "stream-STATIC left outer equi-join on (band index, band value) "
    "against the PERSISTED corpus band table — payloads never ride "
    "the stream shuffle, the corpus decode is paid once per corpus "
    "version (single-slot cache), and the exact hamming rides the "
    "joined row as a map-only bit_count(xor) (pigeonhole-complete at "
    "radius 3, dhash_near_pairs' argument). The per-incoming verdict "
    "(match count / best hamming / novelty) is batch work on the "
    "drained rows (production: foreachBatch). The oracle restates the "
    "ENTIRE chain — md5 pixels, bump, gray, bits, bands, split, "
    "bucket join, hamming, aggregate — so the hash check covers "
    "container parsing, the LSH recall argument, and the "
    "incoming/corpus split at once.",
    oracle=f"""
    {_DUCK_PH_SIG_CHAIN}
    inc AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    cand AS (
      SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS cand_id
      FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    ham AS (
      SELECT c.in_id, c.cand_id,
             bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
           + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
             AS hamming
      FROM cand c
      JOIN sig sa ON c.in_id = sa.doc_id
      JOIN sig sb ON c.cand_id = sb.doc_id
    ),
    hits AS (
      SELECT in_id, count(*) AS nm, min(hamming) AS bh
      FROM ham WHERE hamming <= 3 GROUP BY in_id
    )
    SELECT i.doc_id,
           CAST(coalesce(h.nm, 0) AS BIGINT) AS n_matches,
           CAST(coalesce(h.bh, -1) AS INT) AS best_hamming,
           CAST(CASE WHEN h.nm IS NULL THEN 1 ELSE 0 END AS INT) AS is_novel
    FROM inc i LEFT JOIN hits h ON i.doc_id = h.in_id
    """,
)
def mm10_stream_image_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming.balance import _file_stream, drain_to_memory
    from pypgsync_spark.streaming.dedupe import image_screen_stream

    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    stream = _file_stream(spark, schema, path).filter(F.col("doc_id") % 10 == 0)
    corpus = spark.read.parquet(path).filter(F.col("doc_id") % 10 != 0)
    drained = drain_to_memory(
        spark,
        image_screen_stream(stream, corpus, max_hamming=3),
        "mm10_screen_mem",
        output_mode="append",
    )
    return _screen_verdict(drained, max_hamming=3)


# The audio fingerprint decode-to-signature chain in DuckDB SQL — the
# modality twin of _DUCK_PH_SIG_CHAIN, shared by mm11 (self-join
# pairs) and any future streaming audio screen: md5 sample bytes ->
# role-2 single-sample bump -> int16 -> per-frame energy l^2+r^2 ->
# 64 circular-comparison bits -> 4x16-bit bands -> per-doc signature.
# Defines CTEs au/asamp/aenergy/abits/abands(doc_id, bi, bv)/
# asig(doc_id, b0..b3).
_DUCK_AUD_KEY = (
    "CASE WHEN doc_id % 5 <= 2 THEN 'ag:' || (doc_id - doc_id % 5) "
    "ELSE 'au:' || doc_id END || ':' || blk"
)
_DUCK_AUD_SIG_CHAIN = f"""WITH au AS (
      SELECT doc_id, 8 * blk + s AS si,
             CAST(concat('0x', substr(md5({_DUCK_AUD_KEY}), 4 * s + 1, 2))
                  AS BIGINT) * 256
           + CAST(concat('0x', substr(md5({_DUCK_AUD_KEY}), 4 * s + 3, 2))
                  AS BIGINT) AS u
      FROM documents,
           (SELECT unnest(range(16)) AS blk) blks,
           (SELECT unnest(range(8)) AS s) ss
    ),
    asamp AS (
      SELECT doc_id, si,
             CASE WHEN doc_id % 5 = 2
                       AND si = ((doc_id - 2) // 5) % 128
                  THEN (u + 4096) % 65536 ELSE u END - 32768 AS v
      FROM au
    ),
    aenergy AS (
      SELECT doc_id, si // 2 AS f, SUM(v * v) AS e
      FROM asamp GROUP BY doc_id, si // 2
    ),
    abits AS (
      SELECT l.doc_id, l.f AS k,
             CASE WHEN l.e < r.e THEN 1 ELSE 0 END AS bit
      FROM aenergy l JOIN aenergy r
        ON l.doc_id = r.doc_id AND r.f = (l.f + 1) % 64
    ),
    abands AS (
      SELECT doc_id, k // 16 AS bi,
             CAST(SUM(bit * (1 << (k % 16))) AS BIGINT) AS bv
      FROM abits GROUP BY doc_id, k // 16
    ),
    asig AS (
      SELECT doc_id,
             MAX(CASE WHEN bi = 0 THEN bv END) AS b0,
             MAX(CASE WHEN bi = 1 THEN bv END) AS b1,
             MAX(CASE WHEN bi = 2 THEN bv END) AS b2,
             MAX(CASE WHEN bi = 3 THEN bv END) AS b3
      FROM abands GROUP BY doc_id
    ),"""


@register(
    "mm11_audio_fp_pairs",
    bench=129,
    survey="ext:multimodal,ext:dedup",
    doc="AUDIO near-dup pairs — modality parity with mm9 (r13 verdict "
    "#4): per document, a deterministic md5-derived stereo PCM stream "
    "with near-dup group structure (groups of 5: two exact "
    "duplicates, one single-SAMPLE edit, two unrelated) rides a "
    "genuine RIFF/WAVE container (odd ids carry the junk LIST chunk, "
    "so the chain exercises the chunk walk + pad-byte rule) through a "
    "binary column; decode → integer frame energies l²+r² → 64 "
    "circular energy-derivative comparison bits (the Haitsma-Kalker "
    "sign core, FFT subbands being the documented production seam) "
    "packed as 4×16-bit bands → the SAME banded-LSH bucket join and "
    "exact hamming verify as the image chain (pigeonhole-complete at "
    "radius 3, one shuffle). A single-sample edit flips at most the 2 "
    "bits whose comparisons touch its frame, so role-2 docs are "
    "guaranteed candidates. The oracle restates the ENTIRE "
    "decode-to-pair chain: md5 sample bytes, bump, energies, bits, "
    "bands, bucket join, hamming.",
    oracle=f"""
    {_DUCK_AUD_SIG_CHAIN}
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM abands a JOIN abands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
              + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
             AS INT) AS hamming
    FROM cand
    JOIN asig sa ON cand.id_a = sa.doc_id
    JOIN asig sb ON cand.id_b = sb.doc_id
    WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
        + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) <= 3
    """,
)
def mm11_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        audio_fingerprint_bands,
        audio_near_pairs,
        with_neardup_audio_payload,
    )

    return audio_near_pairs(
        audio_fingerprint_bands(with_neardup_audio_payload(_docs(spark, sf_dir))),
        max_hamming=3,
    )


@register(
    "mm6_video_frame_stats",
    bench=121,
    survey="ext:multimodal",
    doc="The media pipeline's VIDEO decode + temporal-sampling stage, "
    "end-to-end on REAL containers: per document, build a "
    "deterministic 8-frame 6×4 YUV444 clip, serialize it as a genuine "
    "YUV4MPEG2 (Y4M) stream (the ffmpeg/mjpegtools uncompressed "
    "interchange format: parameterized stream header, FRAME marker "
    "line per frame, raw Y/U/V planes), ship the bytes through a "
    "binary column, parse them back with the dependency-free stream "
    "parser, keep every 3rd frame (the row-EXPANDING decode→sample "
    "shape real video featurization uses), and emit per-frame plane "
    "sums. Plane byte i of plane p in frame f is "
    "(doc_id*19+f*23+p*41+i*7)%256, so the oracle restates the "
    "sampled sums in pure SQL. Compressed codecs (h264/vp9/av1) and "
    "chroma subsampling remain the documented deploy seam "
    "(decode_y4m rejects non-C444).",
    oracle="""
    WITH px AS (
      SELECT doc_id, f, unnest(range(24)) AS i
      FROM documents, (SELECT unnest([0, 3, 6]) AS f) fr
    )
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(SUM((doc_id * 19 + f * 23 + i * 7) % 256) AS BIGINT) AS y_sum,
           CAST(SUM((doc_id * 19 + f * 23 + 41 + i * 7) % 256) AS BIGINT) AS u_sum,
           CAST(SUM((doc_id * 19 + f * 23 + 82 + i * 7) % 256) AS BIGINT) AS v_sum
    FROM px GROUP BY doc_id, f
    """,
)
def mm6_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        video_frame_stats,
        with_video_payload,
    )

    return video_frame_stats(with_video_payload(_docs(spark, sf_dir)), every_k=3)


@register(
    "tx9_corpus_cross_entropy",
    bench=65,
    survey="ext:text",
    doc="Per-document cross-entropy against the corpus unigram "
    "distribution — the CCNet-style LM-filter proxy (a doc of tokens "
    "rare in the corpus scores high = out-of-distribution; tx7's "
    "self-entropy sees only internal repetition). "
    "H(doc, corpus) = log2(T) - sum(log2 cf)/n over the doc's tokens, "
    "T the corpus token count riding along as a scalar subquery (no "
    "driver-side count barrier, no join node — tx1's pattern). Two "
    "map-side-combined shuffles (corpus frequencies, per-doc rollup); "
    "the frequency join is equi on the token.",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS tok FROM documents),
    corpus AS (SELECT tok, count(*) AS cf FROM t GROUP BY tok),
    tot AS (SELECT count(*) AS n FROM t)
    SELECT doc_id,
           round(log2((SELECT n FROM tot)) - SUM(log2(cf)) / count(*), 6) AS xent
    FROM t JOIN corpus USING (tok)
    GROUP BY doc_id
    """,
)
def tx9_corpus_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    t.createOrReplaceTempView("pypgsync_tx9_toks")
    tot = F.expr("(SELECT count(*) FROM pypgsync_tx9_toks)")
    corpus = t.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    return (
        t.join(corpus, on="tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.log2("cf")).alias("__slc"),
        )
        .select(
            "doc_id",
            F.round(F.log2(tot) - F.col("__slc") / F.col("__n"), 6).alias("xent"),
        )
    )


@register(
    "a20_filter_funnel",
    bench=73,
    survey="ext:quality,A3",
    doc="Curation filter funnel: ONE pass over documents computing, "
    "as conditional aggregates, how many docs each quality gate "
    "would drop — too short (< 20 tokens), non-English (fixture lang "
    "label), punctuation-heavy (ratio > 0.10), stopword-starved "
    "(ratio < 0.01, the word-soup tell) — plus the count passing ALL "
    "gates. The observability face of pipe1's curation pipeline: at "
    "100 TB this is how you budget a filter chain before running it, "
    "and it costs one map-side-combined scan (flags projected once "
    "per row, then SUM(CASE) partials merge; no joins, no shuffle of "
    "documents themselves).",
    oracle=f"""
    WITH f AS (
      SELECT (len({_DUCK_TOKENS}) < 20) AS f_short,
             (lang <> 'en') AS f_nonen,
             (round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                    / greatest(length(text), 1), 6) > 0.10) AS f_punct,
             (round(len(list_filter({_DUCK_TOKENS},
                        w -> list_contains({list(EN_STOPWORDS)!r}::VARCHAR[], w))) * 1.0
                    / greatest(len({_DUCK_TOKENS}), 1), 6) < 0.01) AS f_lowsw
      FROM documents
    )
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(sum(CASE WHEN f_nonen THEN 1 ELSE 0 END) AS BIGINT) AS n_nonenglish,
           CAST(sum(CASE WHEN f_punct THEN 1 ELSE 0 END) AS BIGINT) AS n_punct_heavy,
           CAST(sum(CASE WHEN f_lowsw THEN 1 ELSE 0 END) AS BIGINT) AS n_low_stopword,
           CAST(sum(CASE WHEN NOT (f_short OR f_nonen OR f_punct OR f_lowsw)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM f
    """,
)
def a20_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = quality_features(F.col("text"))
    flags = _docs(spark, sf_dir).select(
        (feats["n_tokens"] < 20).alias("f_short"),
        (F.col("lang") != "en").alias("f_nonen"),
        (feats["punct_ratio"] > 0.10).alias("f_punct"),
        (feats["stopword_ratio"] < 0.01).alias("f_lowsw"),
    )

    def _n(flag: F.Column) -> F.Column:
        return F.sum(F.when(flag, 1).otherwise(0)).cast("long")

    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        _n(F.col("f_short")).alias("n_short"),
        _n(F.col("f_nonen")).alias("n_nonenglish"),
        _n(F.col("f_punct")).alias("n_punct_heavy"),
        _n(F.col("f_lowsw")).alias("n_low_stopword"),
        _n(
            ~(
                F.col("f_short")
                | F.col("f_nonen")
                | F.col("f_punct")
                | F.col("f_lowsw")
            )
        ).alias("n_kept"),
    )


_OOV_VOCAB_K = 1000


@register(
    "tx10_oov_rate",
    bench=74,
    survey="ext:text,ext:quality,O2",
    doc="Out-of-vocabulary rate per document against the corpus's own "
    f"top-{_OOV_VOCAB_K} token vocabulary (count desc, token asc "
    "tie-break) — the CCNet-family quality feature that flags "
    "word-soup and wrong-domain documents without any external model. "
    "Two map-side-combined shuffles build (doc, token) instance "
    "counts and the global token counts; the vocabulary selection is "
    "TakeOrderedAndProject (no global-sort window), and the bounded "
    f"{_OOV_VOCAB_K}-row vocab BROADCASTS to the instance stream for "
    "the membership flag — the per-doc rollup then shuffles doc-keyed "
    "counts only, never text. At a larger corpus swap the exact "
    "global count for a frequency threshold; the join shape is "
    "unchanged.",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS w FROM documents),
    cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    vocab AS (
      SELECT w FROM cnt
      QUALIFY row_number() OVER (ORDER BY c DESC, w) <= {_OOV_VOCAB_K}
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_ratio
    FROM tok t LEFT JOIN vocab v USING (w)
    GROUP BY t.doc_id
    """,
)
def tx10_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.topk import topk

    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = topk(cnt, [F.col("c").desc(), F.col("w")], _OOV_VOCAB_K).select(
        "w", F.lit(1).alias("__in_vocab")
    )
    oov = F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).cast("long")
    return (
        tok.join(F.broadcast(vocab), on="w", how="left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            oov.alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_ratio"),
        )
    )


@register(
    "d11_winnow_containment",
    bench=78,
    survey="ext:text,§2.3",
    doc="ASYMMETRIC containment pairs from winnowing fingerprints — "
    "the quote/subset detector d10's symmetric Jaccard dilutes away: "
    "containment(A in B) = shared / |A| is high when a short doc is "
    "quoted wholesale inside a long one even though their Jaccard is "
    "tiny. Same inverted-index machinery as d10 (df-filtered "
    "fingerprint explode, equi self-join on the fingerprint, "
    "metadata-scale shuffle), different measure: pairs kept when "
    "either direction's containment >= 0.5 with >= 2 shared "
    "fingerprints; both directions reported.",
    oracle=f"""
    WITH {_DUCK_WINNOW_CTES},
    e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
    rare AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= {_WINNOW_MAXDF}),
    ee AS (SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)),
    sz AS (SELECT doc_id, count(*) AS n FROM ee GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared,
           round(shared * 1.0 / sa.n, 6) AS cont_a,
           round(shared * 1.0 / sb.n, 6) AS cont_b
    FROM p
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE shared >= 2
      AND greatest(shared * 1.0 / sa.n, shared * 1.0 / sb.n) >= 0.5
    """,
)
def d11_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs, sa, sb = _winnow_pair_index(spark, sf_dir)
    ca = F.col("shared") / F.col("__na")
    cb = F.col("shared") / F.col("__nb")
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .filter(F.greatest(ca, cb) >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(ca, 6).alias("cont_a"),
            F.round(cb, 6).alias("cont_b"),
        )
    )


@register(
    "tx11_type_token_ratio",
    bench=86,
    survey="ext:text,A4",
    doc="Per-language vocabulary profile: type-token ratio and hapax-"
    "legomena share — the lexical-diversity curation signals (low TTR "
    "= templated/boilerplate corpus slice; high hapax share = noisy "
    "OCR/spam vocabulary). One explode to (lang, token) counts — the "
    "shuffle carries token COUNTS, never text — then a 5-row rollup; "
    "both ratios are single divisions of exact longs, rounded to 6.",
    oracle=f"""
    WITH t AS (
      SELECT lang, unnest({_DUCK_TOKENS}) AS tok FROM documents
    ),
    c AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(count(*) * 1.0 / SUM(c), 6) AS ttr,
           round(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS hapax_share
    FROM c GROUP BY lang
    """,
)
def tx11_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnt.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .select(
            "lang",
            "n_types",
            "n_tokens",
            "n_hapax",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_types"), 6).alias(
                "hapax_share"
            ),
        )
    )


@register(
    "d12_cross_source_neardup",
    bench=88,
    survey="ext:dedup,A4",
    doc="Cross-source contamination census: d2's complete 3-gram-"
    "Jaccard near-dup pairs, split into intra-source vs cross-source "
    "scope with pair count and mean similarity. The per-pair jaccard "
    "is rounded to 6 THEN decimal-summed (exact, order-independent) "
    "before the final double division — the only way a mean of "
    "doubles hashes identically across engines. The (doc_id, source) "
    "dim broadcasts onto the pair list twice; pair discovery itself "
    "reuses the PPJoin prefix-filter path, so the census costs two "
    "broadcast joins more than d2.",
    oracle=f"""
    WITH s AS (SELECT doc_id, source, {_DUCK_SHINGLES} AS sh FROM documents),
    p AS (
      SELECT CASE WHEN a.source = b.source THEN 'intra' ELSE 'cross' END
               AS scope,
             round(len(list_intersect(a.sh, b.sh)) * 1.0
                   / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1),
                   6) AS j
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) > 0.3
    )
    SELECT scope, count(*) AS n_pairs,
           round(CAST(SUM(CAST(j AS DECIMAL(18,6))) AS DOUBLE) / count(*),
                 6) AS avg_jaccard
    FROM p GROUP BY scope
    """,
)
def d12_cross_source_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.3)
    src = docs.select("doc_id", "source")
    sa = F.broadcast(
        src.select(
            F.col("doc_id").alias("__ida"), F.col("source").alias("__sa")
        )
    )
    sb = F.broadcast(
        src.select(
            F.col("doc_id").alias("__idb"), F.col("source").alias("__sb")
        )
    )
    return (
        pairs.join(sa, F.col("id_a") == F.col("__ida"))
        .join(sb, F.col("id_b") == F.col("__idb"))
        .select(
            F.when(F.col("__sa") == F.col("__sb"), "intra")
            .otherwise("cross")
            .alias("scope"),
            F.col("jaccard").cast("decimal(18,6)").alias("j"),
        )
        .groupBy("scope")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("j").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_jaccard"),
        )
    )


@register(
    "samp4_quality_weighted",
    bench=91,
    survey="ext:sampling,A4",
    doc="Quality-weighted acceptance sampling: each doc's keep "
    "probability is its length-based quality proxy least(1, "
    "n_chars/2000), accepted when a Knuth multiplicative hash of "
    "doc_id lands under the per-doc threshold — seedless, "
    "engine-exact (pure BIGINT multiply/modulo, no float hash), "
    "embarrassingly parallel (no shuffle until the 5-row per-lang "
    "report). doc_id reduces mod 1000 BEFORE the multiply: the "
    "composite (id*K) % 1000 only ever depended on id % 1000, so the "
    "reduction is value-identical for every id while keeping the "
    "product under 2^63 — the unreduced form silently wraps in Spark "
    "and hard-errors DuckDB once ids pass ~3.5e9 (real at 100 TB). "
    "The residue-class structure makes this a systematic sample over "
    "dense ids, which is what web-corpus curation wants anyway. "
    "Kept-share and kept-quality are audited per language.",
    oracle="""
    WITH d AS (
      SELECT lang,
             least(1.0, length(text) / 2000.0) AS q,
             ((doc_id % 1000) * 2654435761) % 1000 AS h
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN h < ceil(q * 1000) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           round(SUM(CASE WHEN h < ceil(q * 1000) THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS kept_share,
           round(CAST(SUM(CASE WHEN h < ceil(q * 1000)
                          THEN CAST(round(q, 6) AS DECIMAL(18,6))
                          ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                 / greatest(SUM(CASE WHEN h < ceil(q * 1000)
                                THEN 1 ELSE 0 END), 1), 6) AS kept_avg_q
    FROM d GROUP BY lang
    """,
)
def samp4_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    q = F.least(F.lit(1.0), F.length("text") / 2000.0)
    h = F.pmod(F.pmod(F.col("doc_id"), 1000) * F.lit(2654435761), 1000)
    kept = F.when(h < F.ceil(q * 1000), 1).otherwise(0)
    q6 = F.round(q, 6).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        d.select("lang", q.alias("q"), kept.alias("kept"), q6.alias("q6"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("kept_share"),
            F.round(
                F.sum(F.when(F.col("kept") == 1, F.col("q6")).otherwise(zero))
                .cast("double")
                / F.greatest(F.sum("kept"), F.lit(1)),
                6,
            ).alias("kept_avg_q"),
        )
    )


@register(
    "pack3_length_buckets",
    bench=92,
    survey="ext:packing,A4",
    doc="Sequence-length bucketing for training-batch planning: docs "
    "binned by whitespace-token count into width-64 buckets (pure "
    "integer division — no float log2, whose libm rounding differs "
    "across engines), per bucket the doc count, token mass and the "
    "number of 4096-token batches that bucket fills. One map-side-"
    "combined groupBy over a single corpus scan; the length histogram "
    "is what a sequence-packing scheduler consumes to bound padding "
    "waste.",
    oracle=f"""
    WITH d AS (
      SELECT len({_DUCK_TOKENS}) AS n_tokens FROM documents
    )
    SELECT CAST(n_tokens // 64 AS BIGINT) AS bucket,
           CAST((n_tokens // 64) * 64 AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(ceil(SUM(n_tokens) / 4096.0) AS BIGINT) AS n_batches
    FROM d GROUP BY bucket, bucket_lo
    """,
)
def pack3_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    nt = token_count(F.col("text"))
    b = d.select(nt.alias("n_tokens")).select(
        F.expr("n_tokens div 64").alias("bucket"), "n_tokens"
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            (F.col("bucket") * 64).cast("long").alias("bucket_lo"),
            "n_docs",
            "total_tokens",
            F.ceil(F.col("total_tokens") / 4096.0).cast("long").alias("n_batches"),
        )
    )


@register(
    "pack4_shard_manifest",
    bench=141,
    survey="ext:packing,ext:sampling,S4",
    doc="Training-shard manifest — the writer-side 'global shuffle' "
    "last mile of a data pipeline: every document routes to one of 16 "
    "shards by an engine-portable md5 key (split1's md5(doc_id||text) "
    "family — stable under reruns, repartitioning and engines, unlike "
    "rand()), intra-shard order is route-key ascending (the "
    "deterministic pseudo-random permutation training ingestion "
    "reads), and the manifest carries what a reader needs to VERIFY a "
    "shard without rescanning the corpus: doc count, token mass, "
    "id bounds, the first/last route keys (min/max md5 — the order's "
    "boundary witnesses), and an order-insensitive additive checksum "
    "(sum of each key's top-60-bit value mod 1e15 — exact integer "
    "arithmetic both engines share; commutative, so it is map-side-"
    "combinable and append-mergeable at any scale). ONE aggregate "
    "pass, no collect, no window; the physical write this manifests "
    "is s4b's partitionBy layout + s7b's sortWithinPartitions "
    "clustering, cited rather than repeated.",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
             md5(doc_id || text) AS k
      FROM documents
    )
    SELECT CAST(CAST(concat('0x', substr(k, 1, 2)) AS INT) % 16 AS INT)
             AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id,
           min(k) AS first_key,
           max(k) AS last_key,
           CAST(sum(CAST(concat('0x', substr(k, 1, 15)) AS BIGINT))
                % 1000000000000000 AS BIGINT) AS checksum
    FROM keyed
    GROUP BY shard_id
    """,
)
def pack4_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    keyed = d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.col("text"))).alias(
            "k"
        ),
    )
    shard = (
        F.conv(F.substring("k", 1, 2), 16, 10).cast("int") % 16
    ).cast("int")
    kval = F.conv(F.substring("k", 1, 15), 16, 10).cast("decimal(38,0)")
    return (
        keyed.select(shard.alias("shard_id"), "doc_id", "n_tokens", "k")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.min("k").alias("first_key"),
            F.max("k").alias("last_key"),
            (F.sum(kval) % F.lit(10**15)).cast("long").alias("checksum"),
        )
    )


@register(
    "d13_threshold_sensitivity",
    bench=97,
    survey="ext:dedup,A4",
    doc="Dedup threshold tuning curve: from ONE run of the complete "
    "3-gram-Jaccard pair finder at the 0.3 floor, the surviving pair "
    "count at 0.5 / 0.7 / 0.9 — the sensitivity sweep that picks a "
    "production dedup threshold WITHOUT re-running pair discovery "
    "per candidate value (at 100 TB the pair join is the cost; the "
    "curve is a free 1-row conditional aggregate on top). Counts "
    "compare the 6-rounded jaccard (identical on both engines by "
    "the d2/d12 discipline).",
    oracle=f"""
    WITH s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents),
    p AS (
      SELECT round(len(list_intersect(a.sh, b.sh)) * 1.0
                   / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1),
                   6) AS j
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) > 0.3
    )
    SELECT count(*) AS n_pairs_03,
           CAST(SUM(CASE WHEN j > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_05,
           CAST(SUM(CASE WHEN j > 0.7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_07,
           CAST(SUM(CASE WHEN j > 0.9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_09,
           round(max(j), 6) AS max_jaccard
    FROM p
    """,
)
def d13_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)
    j = F.col("jaccard")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs_03"),
        F.sum(F.when(j > 0.5, 1).otherwise(0)).cast("long").alias("n_pairs_05"),
        F.sum(F.when(j > 0.7, 1).otherwise(0)).cast("long").alias("n_pairs_07"),
        F.sum(F.when(j > 0.9, 1).otherwise(0)).cast("long").alias("n_pairs_09"),
        F.round(F.max(j), 6).alias("max_jaccard"),
    )


@register(
    "d15_paragraph_dedup",
    bench=128,
    survey="ext:dedup,S3",
    doc="Corpus-wide paragraph-level exact dedup — the C4/RefinedWeb "
    "curation pass the document-level family (d1-d14) doesn't cover: "
    "explode documents into 12-token paragraphs (the fixture has no "
    "newlines, so the chunker is deterministic fixed-width; real "
    "corpora swap in split-on-newline), keep the FIRST occurrence of "
    "each distinct paragraph corpus-wide (min (doc_id, para_idx) — "
    "the S3 keep-first-by-key merge semantic, reference "
    "session.py:135-151, at sub-document grain), reassemble each "
    "document from its survivors. Per-doc output: paragraph counts, "
    "removed fraction, md5 of the reassembled text (so the oracle "
    "hash-checks the full reassembly, not just the counts). Exactly "
    "two shuffles — keep-first window on the paragraph, reassembly "
    "groupBy on doc_id — both skew-free (plan-asserted).",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS ws FROM documents),
    paras AS (
      SELECT doc_id, CAST(i AS INT) AS para_idx,
             array_to_string(
               ws[(CAST(i AS INT)*12+1):(CAST(i AS INT)*12+12)], ' ') AS para
      FROM toks,
           UNNEST(range(greatest(CAST(ceil(len(ws)/12.0) AS BIGINT), 1))) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, para_idx, para,
             row_number() OVER (PARTITION BY para
                                ORDER BY doc_id, para_idx) AS rn
      FROM paras
    )
    SELECT doc_id,
           count(*) AS n_paras,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_paras,
           round(1.0 - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) * 1.0
                       / count(*), 6) AS removed_frac,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN para END, ' '
                                   ORDER BY para_idx), '')) AS clean_md5
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def d15_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cleaned = paragraph_dedup(_docs(spark, sf_dir), para_words=12)
    return cleaned.select(
        "doc_id",
        "n_paras",
        "kept_paras",
        "removed_frac",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


@register(
    "tx12_pretoken_vocab",
    bench=108,
    survey="ext:text",
    doc="Pre-tokenizer word-frequency table — BPE training's one "
    "corpus-scale job (operators/bpe.py step 1): regexp pre-tokenize "
    "(letter / digit / punctuation runs, the BPE_ISH_PATTERN shared "
    "with bpe_ish_token_count), explode, map-side-combined count. "
    "The shuffle carries (word, partial count) — vocabulary-scale, "
    "a ~10⁶× reduction of the corpus — and every BPE merge round "
    "iterates this table, never the documents.",
    oracle=r"""
    SELECT word, count(*) AS freq
    FROM (SELECT unnest(regexp_extract_all(
                   lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS word
          FROM documents)
    GROUP BY word
    """,
)
def tx12_pretoken_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return word_frequencies(_docs(spark, sf_dir), "text").select(
        "word", F.col("freq").cast("long").alias("freq")
    )


@register(
    "tx13_bpe_merges",
    bench=109,
    survey="ext:text",
    doc="BPE tokenizer training (Sennrich et al. 2016) over the "
    "documents corpus: 30 merge rounds on the word-frequency table "
    "(operators/bpe.py). Rows-only for the driver — the merge table "
    "is the output of an iterative argmax loop no single SQL "
    "statement expresses — but fully deterministic (exact integer "
    "pair counts, lexicographic tie-break), bit-identical to the "
    "pure-Python Sennrich kernel in pytest (tests/test_bpe.py), and "
    "golden-pinned. The corpus is scanned exactly once (tx12's job); "
    "the merge loop is hybrid — driver-side when the vocabulary fits "
    "(as sentencepiece/HF train), per-round vocabulary-scale "
    "aggregations when it doesn't (both paths pinned identical).",
    oracle=None,
)
def tx13_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    wf = word_frequencies(_docs(spark, sf_dir), "text")
    merges = train_bpe(wf, n_merges=30)
    return merges_df(spark, merges)

@register(
    "tx14_gopher_rules",
    bench=110,
    survey="ext:quality",
    doc="Gopher/MassiveText document-quality ruleset (Rae et al. 2021 "
    "appendix A1.1) as per-document flags: word-count bounds "
    "[50, 100000], mean word length in [3, 10], symbol-to-word ratio "
    "(# / ellipsis) <= 0.1, >= 80% of words containing an alphabetic "
    "character, and >= 2 distinct marker stopwords present (the "
    "'required words' rule, using the repo's EN marker list). All five "
    "flags plus the conjunction come from ONE projection over the "
    "let-bound token array — no join, no shuffle of the documents; at "
    "100 TB this is a map-only stage whose output is the keep/drop "
    "column the downstream curation sample reads. Ratios are rounded "
    "to 6 BEFORE thresholding on both engines so no boundary ULP "
    "divergence can flip a flag.",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             round(list_sum(list_transform(tk, w -> length(w))) * 1.0
                   / greatest(len(tk), 1), 6) AS mean_word_len,
             round(len(list_filter(tk, w -> regexp_matches(w, '#|\\.\\.\\.'))) * 1.0
                   / greatest(len(tk), 1), 6) AS symbol_word_ratio,
             round(len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) * 1.0
                   / greatest(len(tk), 1), 6) AS alpha_word_frac,
             CAST(len(list_intersect(list_distinct(tk),
                      {list(EN_STOPWORDS)!r}::VARCHAR[])) AS BIGINT)
               AS n_marker_stopwords
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           alpha_word_frac, n_marker_stopwords,
           CAST(CASE WHEN n_words BETWEEN {GOPHER_WORD_COUNT_RANGE[0]} AND {GOPHER_WORD_COUNT_RANGE[1]} THEN 1 ELSE 0 END
                AS BIGINT) AS r_word_count,
           CAST(CASE WHEN mean_word_len BETWEEN {GOPHER_MEAN_WORD_LEN_RANGE[0]} AND {GOPHER_MEAN_WORD_LEN_RANGE[1]} THEN 1 ELSE 0 END
                AS BIGINT) AS r_mean_word_len,
           CAST(CASE WHEN symbol_word_ratio <= {GOPHER_MAX_SYMBOL_WORD_RATIO} THEN 1 ELSE 0 END
                AS BIGINT) AS r_symbol_ratio,
           CAST(CASE WHEN alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC} THEN 1 ELSE 0 END
                AS BIGINT) AS r_alpha_words,
           CAST(CASE WHEN n_marker_stopwords >= 2 THEN 1 ELSE 0 END
                AS BIGINT) AS r_stopwords,
           CAST(CASE WHEN {gopher_gate_sql(n_words='n_words', mwl='mean_word_len', swr='symbol_word_ratio', awf='alpha_word_frac')}
                      AND n_marker_stopwords >= 2 THEN 1 ELSE 0 END
                AS BIGINT) AS passes
    FROM m
    """,
)
def tx14_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token array aliased in its own select so CollapseProject's cost
    # guard evaluates the split once for all six derived metrics.
    d = _docs(spark, sf_dir).select(
        "doc_id", tokens(F.col("text")).alias("tk")
    )
    tk = F.col("tk")
    # the ONE structural-metric formulation, shared with pipe4 (r10
    # review: the lambdas had drifted into two character-level copies)
    gm = gopher_metrics(tk)
    m = d.select(
        "doc_id",
        gm["n_words"].alias("n_words"),
        gm["mean_word_len"].alias("mean_word_len"),
        gm["symbol_word_ratio"].alias("symbol_word_ratio"),
        gm["alpha_word_frac"].alias("alpha_word_frac"),
        F.size(
            F.array_intersect(
                F.array_distinct(tk),
                F.array(*[F.lit(s) for s in EN_STOPWORDS]),
            )
        )
        .cast("long")
        .alias("n_marker_stopwords"),
    )
    # the ONE gate policy (functions/text.py constants), shared with
    # pipe4/pipe5 and imported by the composed-restart test
    rules = gopher_structural_rules(
        F.col("n_words"),
        F.col("mean_word_len"),
        F.col("symbol_word_ratio"),
        F.col("alpha_word_frac"),
    )
    r_wc = rules["word_count"]
    r_mwl = rules["mean_word_len"]
    r_sym = rules["symbol_ratio"]
    r_alpha = rules["alpha_words"]
    r_sw = F.col("n_marker_stopwords") >= 2

    def _flag(c: F.Column) -> F.Column:
        return F.when(c, 1).otherwise(0).cast("long")

    return m.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_word_ratio",
        "alpha_word_frac",
        "n_marker_stopwords",
        _flag(r_wc).alias("r_word_count"),
        _flag(r_mwl).alias("r_mean_word_len"),
        _flag(r_sym).alias("r_symbol_ratio"),
        _flag(r_alpha).alias("r_alpha_words"),
        _flag(r_sw).alias("r_stopwords"),
        _flag(r_wc & r_mwl & r_sym & r_alpha & r_sw).alias("passes"),
    )


@register(
    "tx18_c4_rules",
    bench=139,
    survey="ext:quality",
    doc="C4 cleaning ruleset (Raffel et al. 2020, §2.2) — the LINE-grain "
    "companion to tx14's document-grain Gopher gate, closing the "
    "canonical-curation-ruleset pair: chunk each document into 12-token "
    "lines (d15's fixed-width convention; real corpora split on "
    "newline), drop lines under 5 words or containing the blocklist "
    "token, then apply the two DOCUMENT rules — >= 5 surviving lines "
    "(C4's five-sentence rule) and no blocked phrase anywhere in the "
    "normalized text (C4's 'lorem ipsum' rule; the punctuation-free "
    "fixture uses documented token/phrase stand-ins from ONE constant "
    "set shared by plan and oracle, functions/text.py). Output per "
    "document: line counts, removed fraction, each rule flag, the "
    "conjunction, and md5 of the reassembled text so the oracle "
    "hash-checks the full line-order-preserving reassembly. Entirely "
    "map-side: no shuffle, no explode, no UDF — the same gate class as "
    "tx14; C4's remaining pass (cross-document span dedup) is d15, and "
    "the two compose in that order exactly as in the paper.",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS ws,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    lines AS (
      SELECT doc_id, norm,
             list_transform(
               range(greatest(CAST(ceil(len(ws)/{C4_LINE_WORDS}.0) AS BIGINT), 1)),
               i -> ws[(CAST(i AS INT)*{C4_LINE_WORDS}+1):(CAST(i AS INT)*{C4_LINE_WORDS}+{C4_LINE_WORDS})]) AS lns
      FROM toks
    ),
    k AS (
      SELECT doc_id, norm, CAST(len(lns) AS BIGINT) AS n_lines,
             list_filter(lns, ln -> len(ln) >= {C4_MIN_LINE_WORDS}
                         AND NOT list_contains(ln, '{C4_LINE_BLOCK_TOKEN}')) AS kept
      FROM lines
    )
    SELECT doc_id, n_lines,
           CAST(len(kept) AS BIGINT) AS kept_lines,
           round(1.0 - len(kept) * 1.0 / n_lines, 6) AS removed_frac,
           CAST(CASE WHEN len(kept) >= {C4_MIN_KEPT_LINES} THEN 1 ELSE 0 END
                AS BIGINT) AS r_min_lines,
           CAST(CASE WHEN position('{C4_DOC_BLOCK_PHRASE}' IN norm) > 0
                     THEN 0 ELSE 1 END AS BIGINT) AS r_phrase,
           CAST(CASE WHEN len(kept) >= {C4_MIN_KEPT_LINES}
                      AND position('{C4_DOC_BLOCK_PHRASE}' IN norm) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS doc_pass,
           md5(coalesce(array_to_string(
                 list_transform(kept, ln -> array_to_string(ln, ' ')),
                 ' '), '')) AS clean_md5
    FROM k
    """,
)
def tx18_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    cleaned = c4_line_clean(_docs(spark, sf_dir))
    return cleaned.select(
        "doc_id",
        "n_lines",
        "kept_lines",
        "removed_frac",
        "r_min_lines",
        "r_phrase",
        "doc_pass",
        F.md5("clean_text").alias("clean_md5"),
    )


@register(
    "pipe9_c4_pipeline",
    bench=142,
    survey="ext:quality,ext:dedup",
    doc="The FULL C4 pipeline (Raffel et al. 2020, §2.2) in the "
    "paper's order, end to end over the corpus: (1) LINE rules clean "
    "every document (tx18's c4_line_clean — length + blocklist token, "
    "map-only); (2) corpus-wide PARAGRAPH dedup runs across ALL "
    "cleaned documents (d15's paragraph_dedup over the cleaned text — "
    "keep-first corpus-wide; dedup must see the whole cleaned corpus, "
    "not just doc-rule survivors, or cross-document duplicates hiding "
    "in short documents survive); (3) DOCUMENT rules drop pages with "
    "< 5 surviving lines or the blocked phrase; (4) the Gopher "
    "structural gate (pipe4's shared policy) scores the FINAL deduped "
    "text. Output per surviving document: line/paragraph counts at "
    "each stage, final word count, md5 of the final text (the oracle "
    "hash-checks the entire four-stage transformation, not just who "
    "survived). Plan: stages 1/3/4 are map-only; stage 2 pays d15's "
    "two hash shuffles; the stats re-join on doc_id rides the same "
    "key as stage 2's reassembly groupBy. Composes three "
    "already-verified operators with zero copied logic — the "
    "one-formulation discipline (gopher_metrics, c4_line_clean, "
    "paragraph_dedup are each THE single copy).",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKENS} AS ws,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
      FROM documents
    ),
    lines AS (
      SELECT doc_id, norm,
             list_transform(
               range(greatest(CAST(ceil(len(ws)/{C4_LINE_WORDS}.0) AS BIGINT), 1)),
               i -> ws[(CAST(i AS INT)*{C4_LINE_WORDS}+1):(CAST(i AS INT)*{C4_LINE_WORDS}+{C4_LINE_WORDS})]) AS lns
      FROM toks
    ),
    cleaned AS (
      SELECT doc_id, norm, CAST(len(lns) AS BIGINT) AS n_lines,
             list_filter(lns, ln -> len(ln) >= {C4_MIN_LINE_WORDS}
                         AND NOT list_contains(ln, '{C4_LINE_BLOCK_TOKEN}')) AS kept
      FROM lines
    ),
    c4 AS (
      SELECT doc_id, norm, n_lines, CAST(len(kept) AS BIGINT) AS kept_lines,
             flatten(kept) AS ctok
      FROM cleaned
    ),
    paras AS (
      SELECT doc_id, CAST(i AS INT) AS para_idx,
             coalesce(array_to_string(
               ctok[(CAST(i AS INT)*{C4_LINE_WORDS}+1):(CAST(i AS INT)*{C4_LINE_WORDS}+{C4_LINE_WORDS})],
               ' '), '') AS para
      FROM c4,
           UNNEST(range(greatest(CAST(ceil(len(ctok)/{C4_LINE_WORDS}.0) AS BIGINT), 1))) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, para_idx, para,
             row_number() OVER (PARTITION BY para
                                ORDER BY doc_id, para_idx) AS rn
      FROM paras
    ),
    dd AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_paras,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_paras,
             coalesce(string_agg(CASE WHEN rn = 1 THEN para END, ' '
                                 ORDER BY para_idx), '') AS final_text
      FROM flagged GROUP BY doc_id
    ),
    g AS (
      SELECT doc_id, n_paras, kept_paras, final_text,
             string_split_regex(lower(trim(final_text)), '\\s+') AS tk
      FROM dd
    ),
    m AS (
      SELECT doc_id, n_paras, kept_paras, final_text,
             CAST(len(tk) AS BIGINT) AS n_words,
             round(list_sum(list_transform(tk, w -> length(w))) * 1.0
                   / greatest(len(tk), 1), 6) AS mwl,
             round(len(list_filter(tk, w -> regexp_matches(w, '#|\\.\\.\\.'))) * 1.0
                   / greatest(len(tk), 1), 6) AS swr,
             round(len(list_filter(tk, w -> regexp_matches(w, '[a-z]'))) * 1.0
                   / greatest(len(tk), 1), 6) AS awf
      FROM g
    )
    SELECT c4.doc_id, c4.n_lines, c4.kept_lines, m.n_paras, m.kept_paras,
           m.n_words, md5(m.final_text) AS final_md5
    FROM m JOIN c4 ON m.doc_id = c4.doc_id
    WHERE c4.kept_lines >= {C4_MIN_KEPT_LINES}
      AND position('{C4_DOC_BLOCK_PHRASE}' IN c4.norm) = 0
      AND {gopher_gate_sql(n_words='m.n_words', mwl='m.mwl', swr='m.swr', awf='m.awf')}
    """,
)
def pipe9_c4_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stage 1: line rules over every document (map-only); checkpointed
    # lazily — consumed by the dedup input AND the stats/doc-rule join
    c4 = c4_line_clean(_docs(spark, sf_dir)).localCheckpoint(eager=False)
    # stage 2: corpus-wide paragraph dedup across ALL cleaned docs
    dd = paragraph_dedup(
        c4.select("doc_id", "clean_text"), text_col="clean_text"
    )
    merged = c4.select(
        "doc_id", "n_lines", "kept_lines", "r_min_lines", "r_phrase"
    ).join(
        dd.select(
            "doc_id",
            "n_paras",
            "kept_paras",
            F.col("clean_text").alias("final_text"),
        ),
        on="doc_id",
    )
    # stage 4 metrics over the FINAL text: token array aliased in its
    # own select (tx6 CollapseProject discipline), THE shared
    # gopher_metrics formulation
    t = merged.select(
        "doc_id",
        "n_lines",
        "kept_lines",
        "r_min_lines",
        "r_phrase",
        "n_paras",
        "kept_paras",
        "final_text",
        tokens(F.col("final_text")).alias("tk"),
    )
    gm = gopher_metrics(F.col("tk"))
    m = t.select(
        "doc_id",
        "n_lines",
        "kept_lines",
        "r_min_lines",
        "r_phrase",
        "n_paras",
        "kept_paras",
        "final_text",
        gm["n_words"].alias("n_words"),
        gm["mean_word_len"].alias("mwl"),
        gm["symbol_word_ratio"].alias("swr"),
        gm["alpha_word_frac"].alias("awf"),
    )
    # stage 3 (document rules) + stage 4 (shared Gopher gate policy)
    out = m.filter(
        (F.col("r_min_lines") == 1)
        & (F.col("r_phrase") == 1)
        & gopher_structural_gate(
            F.col("n_words"), F.col("mwl"), F.col("swr"), F.col("awf")
        )
    )
    return out.select(
        "doc_id",
        "n_lines",
        "kept_lines",
        "n_paras",
        "kept_paras",
        "n_words",
        F.md5("final_text").alias("final_md5"),
    )


@register(
    "tx15_bigram_lm_ppl",
    bench=111,
    survey="ext:text",
    doc="Per-document cross-entropy under an add-k-smoothed BIGRAM "
    "language model trained on the corpus itself — the KenLM-style "
    "quality filter one order up from tx9's unigram proxy (wiki-like "
    "text scores low; shuffled/word-soup text scores high even when "
    "its unigrams are in-distribution, because its TRANSITIONS are "
    "not). p(w2|w1) = (c(w1,w2)+0.5) / (c(w1)+0.5·V); the bigram "
    "stream is built from two shifted slices zipped (tx2's shape, no "
    "interpreted per-position lambda) and lazily checkpointed so the "
    "model counts and the scoring probe read ONE materialization. "
    "Three map-side-combined aggregations + two equi-joins on the "
    "bigram/prefix keys; V rides as a scalar subquery (no driver "
    "barrier). At 100 TB the count tables are vocabulary²-bounded — "
    "orders of magnitude below corpus scale — and the scoring join "
    "shuffles (doc_id, w1, w2) only.",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
    bg0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(tk), 1)),
                    i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS g
      FROM t
    ),
    bg AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM bg0),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(tk) AS tok FROM t))
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(SUM(log2(c1.c1 + 0.5 * (SELECT v FROM v))
                     - log2(c2.c2 + 0.5)) / count(*), 6) AS xent2
    FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY bg.doc_id
    """,
)
def tx15_bigram_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tk = tokens(F.col("text"))
    ln = F.greatest(F.size(tk) - 1, F.lit(0))
    arr = F.arrays_zip(
        F.slice(tk, 1, ln).alias("w1"), F.slice(tk, 2, ln).alias("w2")
    )
    bg = (
        d.select("doc_id", F.explode(arr).alias("g"))
        .select("doc_id", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .localCheckpoint(eager=False)
    )
    # lazy scalar subquery (the j29/a21 pattern): no temp-view side
    # effect on the session catalog, no driver barrier
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    v = toks.agg(F.count_distinct("tok")).scalar()
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .select(
            "doc_id",
            (
                F.log2(F.col("c1") + 0.5 * v)
                - F.log2(F.col("c2") + F.lit(0.5))
            ).alias("nll"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nll").alias("__s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("__s") / F.col("n_bigrams"), 6).alias("xent2"),
        )
    )


@register(
    "tx16_dup_shingle_fraction",
    bench=112,
    survey="ext:quality,ext:dedup",
    doc="Per-document CROSS-CORPUS duplicate n-gram fraction — the "
    "RefinedWeb/MassiveText dedup-side quality column (tx5 measures "
    "repetition WITHIN a document; this measures how much of a "
    "document's distinct 3-gram content also appears in OTHER "
    "documents, the boilerplate/template tell that survives exact "
    "dedup). Shingle document frequencies from one map-side-combined "
    "count (shingles are distinct per doc, so count(*) IS the df), "
    "joined back equi on the shingle — the d2/tx3 shuffle shape, "
    "carrying (doc_id, shingle) at shingle cardinality, never text.",
    oracle=f"""
    WITH s AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh
               FROM documents),
    df AS (SELECT sh, count(*) AS df FROM s GROUP BY sh)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles,
           round(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS dup_frac
    FROM s JOIN df USING (sh)
    GROUP BY s.doc_id
    """,
)
def tx16_dup_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    s = d.select(
        "doc_id",
        F.explode(word_shingles(tokens(F.col("text")))).alias("sh"),
    ).localCheckpoint(eager=False)
    df_tbl = s.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        s.join(df_tbl, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(F.col("n_dup_shingles") / F.col("n_shingles"), 6).alias(
                "dup_frac"
            ),
        )
    )


@register(
    "pipe3_bpe_tokenize_pack",
    bench=114,
    survey="ext:pipeline,ext:text",
    doc="End-to-end tokenize-and-pack: train a 20-merge BPE table on "
    "the corpus word frequencies (tx12/tx13's vocabulary-scale loop), "
    "BPE-encode every document with the Arrow-batched rank-greedy "
    "encoder (map-only; merge ranks ride the closure broadcast, "
    "per-word memoization within each batch), then pack the encoded "
    "token counts into 1024-token training sequences per source via "
    "the distributed two-level prefix sum (pack1's operator). This is "
    "the last mile of the training-data story: dedup/filter feed it, "
    "its output is the batch manifest a trainer reads. Rows-only for "
    "the driver (the merge loop is not one SQL statement); the full "
    "composition is golden-pinned at sf0.001 and replayed in pure "
    "Python (encode + prefix-sum) in pytest.",
    oracle=None,
)
def pipe3_bpe_tokenize_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.bpe import bpe_tokens
    from pypgsync_spark.operators.packing import pack_chunks

    d = _docs(spark, sf_dir)
    merges = train_bpe(word_frequencies(d, "text"), n_merges=20)
    counted = d.select(
        "doc_id",
        "source",
        F.size(bpe_tokens("text", merges)).alias("n_tokens"),
    )
    return pack_chunks(
        counted, "source", "doc_id", "n_tokens", budget=1024, bucket_size=1000
    )


# DSIR importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): hashed-bigram bag
# features, per-document average log-likelihood ratio between a
# TARGET distribution (here: the src0 slice standing in for the
# curated/high-quality corpus) and the RAW pool distribution, add-1
# smoothed over the hashed feature space. The log-ratio decomposes as
# [log2(c_t(f)+1) - log2(c_r(f)+1)] + [log2(T_r+B) - log2(T_t+B)] —
# every log2 argument is an INTEGER-valued double, the tx9 parity
# class, so no log-of-ratio rounding seam between the engines.
_DSIR_B = 512  # hashed feature buckets
_DSIR_TARGET = "src0"

# the per-doc DSIR weight chain in DuckDB SQL, shared by tx17 (the
# weights themselves) and pipe8 (weights -> per-source top-rank
# selection -> packing). Defines CTEs t/bg/cr/ct/lr/nd/konst/
# dsir(doc_id, dsir_w); ends WITHOUT a trailing comma so consumers
# either SELECT from dsir directly or chain ", more AS (...)".
_DUCK_DSIR_CHAIN = f"""WITH t AS (SELECT doc_id, source, {_DUCK_TOKENS} AS tk FROM documents),
    bg AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(
               unnest(list_transform(range(1, len(tk)),
                                     i -> concat_ws(' ', tk[i], tk[i + 1])))
             ), 1, 15)) AS BIGINT) % {_DSIR_B} AS f
      FROM t
    ),
    cr AS (SELECT f, count(*) AS c_r FROM bg GROUP BY f),
    ct AS (SELECT f, count(*) AS c_t FROM bg
           WHERE source = '{_DSIR_TARGET}' GROUP BY f),
    lr AS (
      SELECT cr.f,
             log2(CAST(COALESCE(ct.c_t, 0) + 1 AS DOUBLE))
           - log2(CAST(cr.c_r + 1 AS DOUBLE)) AS lr
      FROM cr LEFT JOIN ct USING (f)
    ),
    nd AS (SELECT doc_id, f, count(*) AS n FROM bg GROUP BY doc_id, f),
    konst AS (
      SELECT log2((SELECT CAST(sum(c_r) AS DOUBLE) FROM cr) + {_DSIR_B})
           - log2((SELECT CAST(sum(c_t) AS DOUBLE) FROM ct) + {_DSIR_B}) AS kc
    ),
    dsir AS (
      SELECT nd.doc_id,
             round(SUM(nd.n * lr.lr) / SUM(nd.n) + (SELECT kc FROM konst), 6)
               AS dsir_w
      FROM nd JOIN lr USING (f)
      GROUP BY nd.doc_id
    )"""


@register(
    "tx17_dsir_weights",
    bench=132,
    survey="ext:text,ext:sampling",
    doc="DSIR importance weights — per-document hashed-bigram "
    "log-likelihood ratio of the src0 target distribution vs the raw "
    "pool (add-1 smoothing over 512 md5-hashed buckets), the "
    "importance-resampling score that upsamples pool documents "
    "distributionally close to a curated target. One explode feeding "
    "three map-side-combined aggregates off a lazily checkpointed "
    "bigram-bucket table (computed once, not thrice), a broadcast "
    "join of the 512-row bucket ratio table onto per-doc bucket "
    "counts, and scalar normalizer constants from 1-row cross joins "
    "(no driver-side collect). Every log2 argument is an integer "
    "(counts + 1, totals + B) so the cross-engine parity class is "
    "tx9's log2-of-integer, not log-of-ratio.",
    oracle=f"""
    {_DUCK_DSIR_CHAIN}
    SELECT doc_id, dsir_w FROM dsir
    """,
)
def tx17_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_weights(_docs(spark, sf_dir))


def dsir_weights(
    d: DataFrame,
    target: str = _DSIR_TARGET,
    n_buckets: int = _DSIR_B,
    view: str = "pypgsync_tx17_bg",
) -> DataFrame:
    """The DSIR chain over any (doc_id, source, text) frame — tx17's
    body, parametrized so the scale probe can drive it over staged
    multiplied corpora (scripts/probe_scale.py dsir)."""
    # deliberately NOT spread_if_underpartitioned (r14 optimization
    # round): the 1-split fixture input makes the bucket build and the
    # two normalizer counts one-task 0.5 s stages, but the spread was
    # MEASURED worse, not better — isolated min-of-4 same-session A/B:
    # tx17 1.27 -> 2.04 s, pipe8 1.80 -> 2.63 s (every downstream
    # stage fans to 32 tasks whose per-task overhead exceeds the
    # parallelism gain at this data size; the kmeans_fit finding
    # repeated). A real corpus arrives many-split and parallelizes
    # without the extra round-robin shuffle.
    tk = tokens(F.col("text"))
    ln_ = F.greatest(F.size(tk) - 1, F.lit(0))
    arr = F.arrays_zip(
        F.slice(tk, 1, ln_).alias("t1"), F.slice(tk, 2, ln_).alias("t2")
    )
    bg = (
        d.select("doc_id", "source", F.explode(arr).alias("g"))
        .select(
            "doc_id",
            "source",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(" ", F.col("g.t1"), F.col("g.t2"))
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % n_buckets
            ).alias("f"),
        )
        # three aggregates consume this; checkpoint lazily so the
        # explode+md5 runs once (v8's shared-branch lesson)
        .localCheckpoint(eager=False)
    )
    cr = bg.groupBy("f").agg(F.count(F.lit(1)).alias("c_r"))
    ct = (
        bg.filter(F.col("source") == target)
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    lr = cr.join(ct, "f", "left").select(
        "f",
        (
            F.log2(F.coalesce(F.col("c_t"), F.lit(0)).cast("double") + F.lit(1.0))
            - F.log2(F.col("c_r").cast("double") + F.lit(1.0))
        ).alias("lr"),
    )
    nd = bg.groupBy("doc_id", "f").agg(F.count(F.lit(1)).alias("n"))
    # normalizer constants as SCALAR SUBQUERIES over the checkpointed
    # bigram table (tx9's pattern — no 1-row crossJoin, which Spark
    # plans as a BroadcastNestedLoopJoin the plan sweep forbids);
    # T_r/T_t are plain counts of the table the aggregates consumed
    bg.createOrReplaceTempView(view)
    kc = F.expr(
        f"log2((SELECT CAST(count(*) AS DOUBLE) FROM {view})"
        f" + {n_buckets}.0D)"
        f" - log2((SELECT CAST(count(*) AS DOUBLE) FROM {view}"
        f" WHERE source = '{target}') + {n_buckets}.0D)"
    )
    return (
        nd.join(lr, "f")
        .groupBy("doc_id")
        .agg((F.sum(F.col("n") * F.col("lr")) / F.sum("n")).alias("__avg"))
        .select("doc_id", F.round(F.col("__avg") + kc, 6).alias("dsir_w"))
    )


@register(
    "mm12_stream_audio_screen",
    bench=133,
    survey="ext:multimodal,ext:dedup,§2.10 ext",
    doc="Streaming AUDIO ingest screen — the modality matrix closed: "
    "image has mm9 batch pairs + mm10 stream screen, audio has mm11 "
    "batch pairs + this. mm11's energy-envelope fingerprint chain "
    "(real RIFF/WAVE container decode → integer frame energies l²+r² "
    "→ 64 circular comparison bits → 4×16-bit bands) rides the SAME "
    "signer-generic stateless band screen as mm10 "
    "(streaming/dedupe.banded_screen_stream — one copy of the "
    "geometry, plan-asserted stateless, corpus signed once per "
    "version into the audio family's own persist slot, pigeonhole-"
    "complete at radius 3). Incoming = every doc_id % 10 == 0 "
    "document's audio (role 0 of its group of 5, so the standing "
    "corpus holds its exact duplicate at id+1 and a single-SAMPLE "
    "edit at id+2 — guaranteed cross-split matches); corpus = all "
    "other documents. The oracle restates the ENTIRE chain — md5 "
    "sample bytes, role-2 bump, energies, bits, bands, split, bucket "
    "join, hamming, per-incoming verdict — so the hash check covers "
    "container parsing (odd ids carry the junk LIST chunk), the LSH "
    "recall argument, and the incoming/corpus split at once.",
    oracle=f"""
    {_DUCK_AUD_SIG_CHAIN}
    inc AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    cand AS (
      SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS cand_id
      FROM abands a JOIN abands b ON a.bi = b.bi AND a.bv = b.bv
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    ham AS (
      SELECT c.in_id, c.cand_id,
             bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
           + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
             AS hamming
      FROM cand c
      JOIN asig sa ON c.in_id = sa.doc_id
      JOIN asig sb ON c.cand_id = sb.doc_id
    ),
    hits AS (
      SELECT in_id, count(*) AS nm, min(hamming) AS bh
      FROM ham WHERE hamming <= 3 GROUP BY in_id
    )
    SELECT i.doc_id,
           CAST(coalesce(h.nm, 0) AS BIGINT) AS n_matches,
           CAST(coalesce(h.bh, -1) AS INT) AS best_hamming,
           CAST(CASE WHEN h.nm IS NULL THEN 1 ELSE 0 END AS INT) AS is_novel
    FROM inc i LEFT JOIN hits h ON i.doc_id = h.in_id
    """,
)
def mm12_stream_audio_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming.balance import _file_stream, drain_to_memory
    from pypgsync_spark.streaming.dedupe import audio_screen_stream

    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    stream = _file_stream(spark, schema, path).filter(F.col("doc_id") % 10 == 0)
    corpus = spark.read.parquet(path).filter(F.col("doc_id") % 10 != 0)
    drained = drain_to_memory(
        spark,
        audio_screen_stream(stream, corpus, max_hamming=3),
        "mm12_screen_mem",
        output_mode="append",
    )
    return _screen_verdict(drained, max_hamming=3)


@register(
    "pipe8_dsir_select_pack",
    bench=135,
    survey="ext:sampling,ext:text,W1",
    doc="DSIR importance RESAMPLING into training sequences — the "
    "selection tx17's weights exist for: rank every document within "
    "its source by (dsir_w DESC, doc_id), keep the top 40% per "
    "source (ceil(0.4·n), deterministic rounded-weight rank — both "
    "engines rank the identical round-6 value tx17 hash-verifies), "
    "then pack the survivors into 2048-token sequences with pack1's "
    "distributed two-level prefix sum. The per-source selection "
    "window sorts (doc_id, weight) pairs only — text never rides it; "
    "at 100 TB the exact rank becomes a sampled weight-quantile "
    "threshold + map-side filter (samp1 composes), which this "
    "oracle-checkable exact form bounds. One pipeline: weights → "
    "rank → filter → pack, the full chain restated in SQL off the "
    "shared _DUCK_DSIR_CHAIN.",
    oracle=f"""
    {_DUCK_DSIR_CHAIN},
    ranked AS (
      SELECT d.doc_id, d.source, ds.dsir_w,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY ds.dsir_w DESC, d.doc_id) AS rn,
             count(*) OVER (PARTITION BY d.source) AS cnt
      FROM documents d JOIN dsir ds ON d.doc_id = ds.doc_id
    ),
    sel AS (
      SELECT doc_id, source FROM ranked
      WHERE rn <= CAST(ceil(0.4 * cnt) AS BIGINT)
    ),
    tok AS (
      SELECT s.source, s.doc_id, len({_DUCK_TOKENS}) AS n_tokens
      FROM sel s JOIN documents USING (doc_id)
    ),
    c AS (
      SELECT source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM tok
    )
    SELECT source, CAST(off // 2048 AS BIGINT) AS chunk_id,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
    FROM c GROUP BY source, chunk_id
    """,
)
def pipe8_dsir_select_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pypgsync_spark.operators.packing import pack_chunks

    d = _docs(spark, sf_dir)
    w = dsir_weights(d, view="pypgsync_pipe8_bg")
    base = d.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    j = base.join(w, "doc_id")
    win = Window.partitionBy("source").orderBy(F.col("dsir_w").desc(), "doc_id")
    cw = Window.partitionBy("source")
    sel = (
        j.withColumn("__rn", F.row_number().over(win))
        .withColumn("__cnt", F.count(F.lit(1)).over(cw))
        .filter(F.col("__rn") <= F.ceil(F.lit(0.4) * F.col("__cnt")))
        .select("doc_id", "source", "n_tokens")
    )
    return pack_chunks(
        sel, "source", "doc_id", "n_tokens", budget=2048, bucket_size=1000
    )


# the video fingerprint decode-to-signature chain in DuckDB SQL — the
# modality twin of _DUCK_PH_SIG_CHAIN / _DUCK_AUD_SIG_CHAIN: md5 Y
# bytes -> role-2 single-pixel bump -> per-block luma sums -> 64
# circular-comparison bits -> 4x16-bit bands -> per-doc signature.
# Defines CTEs vy/vsamp/venergy/vbits/vbands(doc_id, bi, bv)/
# vsig(doc_id, b0..b3).
_DUCK_VID_KEY = (
    "CASE WHEN doc_id % 5 <= 2 THEN 'vg:' || (doc_id - doc_id % 5) "
    "ELSE 'vu:' || doc_id END || ':' || f || ':' || (j // 16)"
)
_DUCK_VID_SIG_CHAIN = f"""WITH vy AS (
      SELECT doc_id, f, j,
             CAST(concat('0x', substr(md5({_DUCK_VID_KEY}),
                                      2 * (j % 16) + 1, 2)) AS BIGINT) AS u
      FROM documents,
           (SELECT unnest(range(8)) AS f) fs,
           (SELECT unnest(range(24)) AS j) js
    ),
    vsamp AS (
      SELECT doc_id, f, j,
             CASE WHEN doc_id % 5 = 2
                       AND f * 24 + j = ((doc_id - 2) // 5) % 192
                  THEN (u + 16) % 256 ELSE u END AS v
      FROM vy
    ),
    venergy AS (
      SELECT doc_id, f * 8 + j // 3 AS k, SUM(v) AS s
      FROM vsamp GROUP BY doc_id, f * 8 + j // 3
    ),
    vbits AS (
      SELECT l.doc_id, l.k,
             CASE WHEN l.s < r.s THEN 1 ELSE 0 END AS bit
      FROM venergy l JOIN venergy r
        ON l.doc_id = r.doc_id AND r.k = (l.k + 1) % 64
    ),
    vbands AS (
      SELECT doc_id, k // 16 AS bi,
             CAST(SUM(bit * (1 << (k % 16))) AS BIGINT) AS bv
      FROM vbits GROUP BY doc_id, k // 16
    ),
    vsig AS (
      SELECT doc_id,
             MAX(CASE WHEN bi = 0 THEN bv END) AS b0,
             MAX(CASE WHEN bi = 1 THEN bv END) AS b1,
             MAX(CASE WHEN bi = 2 THEN bv END) AS b2,
             MAX(CASE WHEN bi = 3 THEN bv END) AS b3
      FROM vbands GROUP BY doc_id
    )"""


@register(
    "mm13_video_fp_pairs",
    bench=138,
    survey="ext:multimodal,ext:dedup",
    doc="VIDEO near-dup pairs — the modality matrix's last cell "
    "(image: mm9 pairs + mm10 screen; audio: mm11 pairs + mm12 "
    "screen; video: decode/sample in mm6, near-dup HERE). Per "
    "document a deterministic md5-derived 8-frame YUV444 clip with "
    "near-dup group structure (groups of 5: two exact duplicates, "
    "one single-PIXEL luma edit, two unrelated) rides a genuine "
    "YUV4MPEG2 container through a binary column; decode → 8 integer "
    "Y-block sums per frame (3 px each, 64 spatio-temporal values) → "
    "64 circular luma-derivative comparison bits (the TIRI/"
    "Haitsma-Kalker sign core; DCT/keyframe front-ends are the "
    "documented production seam) packed as 4×16-bit bands → the SAME "
    "banded-LSH bucket join and exact hamming verify as the image "
    "and audio chains (pigeonhole-complete at radius 3, one "
    "shuffle). A single-pixel edit changes one block sum and flips "
    "at most the 2 bits whose comparisons touch it, so role-2 docs "
    "are guaranteed candidates. The oracle restates the ENTIRE "
    "decode-to-pair chain: md5 Y bytes, bump, block sums, bits, "
    "bands, bucket join, hamming.",
    oracle=f"""
    {_DUCK_VID_SIG_CHAIN},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM vbands a JOIN vbands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
              + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
             AS INT) AS hamming
    FROM cand
    JOIN vsig sa ON cand.id_a = sa.doc_id
    JOIN vsig sb ON cand.id_b = sb.doc_id
    WHERE bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
        + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) <= 3
    """,
)
def mm13_video_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.operators.multimodal import (
        video_fingerprint_bands,
        video_near_pairs,
        with_neardup_video_payload,
    )

    return video_near_pairs(
        video_fingerprint_bands(with_neardup_video_payload(_docs(spark, sf_dir))),
        max_hamming=3,
    )


@register(
    "mm14_stream_video_screen",
    bench=143,
    survey="ext:multimodal,ext:dedup,§2.10 ext",
    doc="Streaming VIDEO ingest screen — the 3×2 modality matrix "
    "closed on BOTH axes: image mm9 pairs + mm10 screen, audio mm11 "
    "pairs + mm12 screen, video mm13 pairs + this. mm13's "
    "luma-envelope fingerprint chain (real YUV4MPEG2 container "
    "decode → 8 integer Y-block sums per frame → 64 circular "
    "comparison bits → 4×16-bit bands) rides the SAME signer-generic "
    "stateless band screen as mm10/mm12 "
    "(streaming/dedupe.banded_screen_stream — one copy of the "
    "geometry, plan-asserted stateless, corpus signed once per "
    "version into the video family's own persist slot, pigeonhole-"
    "complete at radius 3). Incoming = every doc_id % 10 == 0 "
    "document's clip (role 0 of its group of 5, so the standing "
    "corpus holds its exact duplicate at id+1 and a single-PIXEL "
    "luma edit at id+2 — guaranteed cross-split matches); corpus = "
    "all other documents. The oracle restates the ENTIRE chain — md5 "
    "Y bytes, role-2 bump, block sums, bits, bands, split, bucket "
    "join, hamming, per-incoming verdict.",
    oracle=f"""
    {_DUCK_VID_SIG_CHAIN},
    inc AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
    cand AS (
      SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS cand_id
      FROM vbands a JOIN vbands b ON a.bi = b.bi AND a.bv = b.bv
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    ham AS (
      SELECT c.in_id, c.cand_id,
             bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1))
           + bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3))
             AS hamming
      FROM cand c
      JOIN vsig sa ON c.in_id = sa.doc_id
      JOIN vsig sb ON c.cand_id = sb.doc_id
    ),
    hits AS (
      SELECT in_id, count(*) AS nm, min(hamming) AS bh
      FROM ham WHERE hamming <= 3 GROUP BY in_id
    )
    SELECT i.doc_id,
           CAST(coalesce(h.nm, 0) AS BIGINT) AS n_matches,
           CAST(coalesce(h.bh, -1) AS INT) AS best_hamming,
           CAST(CASE WHEN h.nm IS NULL THEN 1 ELSE 0 END AS INT) AS is_novel
    FROM inc i LEFT JOIN hits h ON i.doc_id = h.in_id
    """,
)
def mm14_stream_video_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming.balance import _file_stream, drain_to_memory
    from pypgsync_spark.streaming.dedupe import video_screen_stream

    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    stream = _file_stream(spark, schema, path).filter(F.col("doc_id") % 10 == 0)
    corpus = spark.read.parquet(path).filter(F.col("doc_id") % 10 != 0)
    drained = drain_to_memory(
        spark,
        video_screen_stream(stream, corpus, max_hamming=3),
        "mm14_screen_mem",
        output_mode="append",
    )
    return _screen_verdict(drained, max_hamming=3)
