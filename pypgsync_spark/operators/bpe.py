"""Byte-pair-encoding tokenizer training — the vocabulary-building step
of a pretraining pipeline, as iterated DataFrame algebra.

BPE (Sennrich, Haddow & Birch, ACL 2016 — "Neural Machine Translation
of Rare Words with Subword Units") learns a merge table: starting from
characters, repeatedly merge the most frequent adjacent symbol pair.
The naive formulation rescans the corpus once per merge — O(n_merges)
full passes, a non-starter at 100 TB. The standard scalable
formulation (used by the original implementation and by sentencepiece)
observes that merges never cross word boundaries, so training state
collapses to the WORD-FREQUENCY table:

1. ONE corpus-scale job: pre-tokenize (the same ``BPE_ISH_PATTERN``
   regex as ``functions.text.bpe_ish_token_count``), explode, group by
   word — map-side-combined, one shuffle, output is vocabulary-sized
   (millions of rows for a 100 TB corpus, a ~10⁶× reduction).
2. Each merge round touches only the vocabulary DataFrame: adjacent
   pairs are exploded per word WEIGHTED by word frequency, summed, and
   the argmax pair (count desc, then lexicographic — deterministic)
   becomes the round's merge. The per-word symbol arrays are rewritten
   with a greedy left-to-right fold and lazily checkpointed (the CC
   pattern: the next round's aggregate materializes them, keeping the
   lineage one round deep without an extra barrier).

Every round is vocabulary-scale: a driver loop of n_merges small jobs,
each with one map-side-combined aggregation — never a corpus rescan.
The only driver-side data is one (pair, count) row per round.

Encoding new text with a learned merge table is a map-only stage: the
merge ranks broadcast to executors inside an Arrow-batched pandas UDF
(the classic rank-greedy replay, genuinely not expressible as built-in
Column algebra because the merge loop is data-dependent per word).

No reference analogue: the reference (a table-sync CLI, session.py) has
no text layer; this extends the LLM-pipeline operator family.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pypgsync_spark.functions.text import BPE_ISH_PATTERN

END_OF_WORD = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(word, freq)`` under the BPE-ish pre-tokenizer — the one
    corpus-scale job of BPE training (map-side combine, one shuffle)."""
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(BPE_ISH_PATTERN), 0
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    """Character symbols plus the end-of-word marker (Sennrich §3.2:
    the marker lets suffix merges differ from mid-word merges)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END_OF_WORD)))


def _adjacent_pairs(syms: Column) -> Column:
    """``struct(l, r)`` for each adjacent symbol position. Caller must
    filter ``size(syms) >= 2`` first (``sequence(1, 0)`` would count
    DOWN, not produce an empty array)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(syms) - 1),
        lambda i: F.struct(
            F.element_at(syms, i).alias("l"),
            F.element_at(syms, i + 1).alias("r"),
        ),
    )


def _merge_pair(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right replacement of adjacent (left, right) with
    the concatenated symbol — a fold whose accumulator only ever grows
    by one element per step (``try_element_at`` keeps the empty-prefix
    probe NULL-safe under ANSI mode). The lambda body touches only the
    bound accumulator/element and string literals, so the interpreted
    HOF evaluator has nothing expensive to re-evaluate (the let_bound
    rule, CLAUDE.md)."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == left) & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    words: DataFrame,
    n_merges: int,
    min_pair_freq: int = 2,
    driver_vocab_limit: int = 2_000_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a ``(word, freq)`` table.

    Returns the merge list in training order; stops early when the
    best remaining pair occurs fewer than ``min_pair_freq`` times
    (weighted). Deterministic: ties break lexicographically on the
    pair, independent of partitioning.

    Hybrid execution, the way production trainers work: when the
    vocabulary has at most ``driver_vocab_limit`` rows (probed and
    collected by ONE ``limit(n+1).collect()`` job — the corpus was
    already collapsed to word counts by :func:`word_frequencies`, and
    an over-limit vocabulary ships at most n+1 rows), the merge loop runs
    driver-side on the collected table via the reference kernel —
    sentencepiece/HF train exactly this way, and a distributed round
    on a vocabulary that fits in one task is pure scheduling overhead
    (n_merges jobs for zero parallelism). Past the limit, each round
    is one vocabulary-scale aggregation plus a top-1 collect (one
    row) — the beyond-memory path a 100 TB corpus with a 10⁸-row
    vocabulary needs. Both paths are bit-identical by construction
    (pinned in tests/test_bpe.py, which forces the distributed path
    with ``driver_vocab_limit=0``)."""
    if driver_vocab_limit:
        # ONE job probes and collects: limit(n+1) caps the transfer, so
        # an over-limit vocabulary ships at most n+1 rows before the
        # distributed path takes over.
        probe = words.select("word", "freq").limit(
            driver_vocab_limit + 1
        ).collect()
        if len(probe) <= driver_vocab_limit:
            wf: dict[str, int] = {}
            for r in probe:
                # sum duplicates: the distributed loop weights every row
                # independently, which is summation per word — a dict
                # last-wins would silently diverge on non-unique input
                wf[r[0]] = wf.get(r[0], 0) + r[1]
            return train_bpe_reference(wf, n_merges, min_pair_freq)
    vocab = words.select("freq", _initial_symbols(F.col("word")).alias("syms"))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            vocab.filter(F.size("syms") >= 2)
            .select("freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_freq:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))
        # Lazy checkpoint: the NEXT round's pair aggregate materializes
        # the rewrite, truncating lineage without an extra barrier job
        # (the CC-round pattern). Vocabulary-scale rows only.
        vocab = vocab.withColumn(
            "syms", _merge_pair(F.col("syms"), left, right)
        ).localCheckpoint(eager=False)
    return merges


def merges_df(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The merge table as a DataFrame ``(rank, left, right, merged)``
    — the persisted artifact a 100 TB run would write once and every
    encode job would broadcast."""
    rows = [(i, l, r, l + r) for i, (l, r) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank int, left string, right string, merged string")


# ---------------------------------------------------------------------------
# Encode: rank-greedy replay of the merge table (reference kernel +
# Arrow-batched UDF). The kernel is also the pytest oracle for the
# DataFrame trainer (bit-identity, the seq_cosine pattern).
# ---------------------------------------------------------------------------


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic BPE encode of one pre-token: repeatedly merge all
    occurrences of the lowest-rank adjacent pair present."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) >= 2:
        best_rank, best_pair = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        left, right = best_pair
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def train_bpe_reference(
    word_freq: dict[str, int], n_merges: int, min_pair_freq: int = 2
) -> list[tuple[str, str]]:
    """Pure-Python Sennrich trainer — the pytest oracle for
    ``train_bpe`` (same tie-break: count desc, lexicographic pair)."""
    vocab = {w: list(w) + [END_OF_WORD] for w in word_freq}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_freq:
            break
        (left, right), _ = best
        merges.append((left, right))
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def bpe_tokens(text_col: str, merges: list[tuple[str, str]]):
    """Arrow-batched encoder Column: ``array<string>`` of BPE symbols
    for each document. The merge table rides into executors via UDF
    closure broadcast (KB-scale); the stage is map-only."""
    import re

    ranks = {pair: i for i, pair in enumerate(merges)}
    # re.ASCII (r10 review): Java regex (training/counting side) and
    # RE2 (the DuckDB oracles) both read \s as ASCII whitespace, while
    # Python's default is Unicode — a U+00A0 in scraped text would be
    # a punctuation-run WORD to the trainer but invisible whitespace
    # to this encoder, silently diverging the encoded stream from the
    # trained vocabulary's distribution.
    pattern = re.compile(BPE_ISH_PATTERN, re.ASCII)

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def doc(t):
            if t is None:
                return None
            out: list[str] = []
            for w in pattern.findall(t.lower()):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w, ranks)
                out.extend(got)
            return out

        return texts.map(doc)

    return enc(F.col(text_col))
