"""Physical-plan property tests — the 100 TB scale contract.

Correctness says the right rows come out; these assert the right PLAN
comes out: filters reach the parquet scan (PushedFilters), projections
prune the read schema, small dimensions broadcast instead of shuffling,
top-k plans as TakeOrderedAndProject (heap, no global sort),
aggregations have a map-side partial phase, and the merge's
row_number-dedup gets the WindowGroupLimit (per-partition top-1 before
the shuffle). A regression in any of these would still pass the value
oracles while becoming a bottleneck at 1000 executors.
"""

from __future__ import annotations

import pytest

from pypgsync_spark.queries import REGISTRY
from tests.plan_capture import plan_nodes, sql_plans


def plan_of(spark, sf_small, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_small)
    return df._jdf.queryExecution().executedPlan().toString()


# Streaming specs execute a real (drain-and-stop) query just to build
# their result DataFrame — too slow for a per-plan sweep and their
# batch-side plan is trivial (memory-sink scan).
_SWEEP_SKIP = {"t5_stateful_balance", "t6_windowed_counts"}


def test_no_cartesian_or_nested_loop_anywhere(spark, sf_small):
    """No registered query may plan a CartesianProduct or a
    BroadcastNestedLoopJoin — every pairwise operator must go through
    an equi-join on a blocking/bucket key (LSH bands, id blocks,
    signature chunks). A cross join that 'works' at sf0.01 is O(N²)
    shuffle at 100 TB."""
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in _SWEEP_SKIP:
            continue
        plan = spec.fn(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
        hits = [m for m in ("CartesianProduct", "BroadcastNestedLoopJoin") if m in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, f"quadratic join strategies found: {offenders}"


@pytest.mark.parametrize("name", ["w1b_distributed_rank", "w1c_rank_desc"])
def test_distributed_rank_no_single_partition(spark, sf_small, name):
    """The two-pass rank must never funnel rows through one task: no
    SinglePartition exchange anywhere in the plan (the Window-based
    w1/w2 keep the reference's literal single-task semantics; these are
    the scale path)."""
    plan = plan_of(spark, sf_small, name)
    assert "SinglePartition" not in plan
    # The range exchange runs inside the localCheckpoint materialization
    # (pass 1); the final plan reads the checkpointed partitions back.
    assert "scan existingrdd" in plan.lower()


def test_filter_pushdown_reaches_scan(spark, sf_small):
    plan = plan_of(spark, sf_small, "p6_filter_eq")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan


def test_column_pruning_reaches_scan(spark, sf_small):
    """p6 projects 4 of events' 6 columns — the scan must not read
    ts/props (props is the widest column in the table)."""
    plan = plan_of(spark, sf_small, "p6_filter_eq")
    scan = plan[plan.index("FileScan") :]
    assert "ReadSchema" in scan and "props" not in scan.split("ReadSchema")[1]


def test_star_join_broadcasts_dimensions(spark, sf_small):
    """region/nation/customer are dimensions — all three join steps
    must be broadcast, never a shuffled sort-merge join."""
    plan = plan_of(spark, sf_small, "j7_region_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_topk_plans_take_ordered(spark, sf_small):
    """ORDER BY ... LIMIT k must be a TakeOrderedAndProject (per-
    partition heap + driver merge), not a global Sort — the Spark
    analogue of the reference's index-backward-scan top-k
    (reference README.md:258-272)."""
    for name in ("o2_topk_single_key", "j6_shipping_topk"):
        plan = plan_of(spark, sf_small, name)
        assert "TakeOrderedAndProject" in plan, name


def test_aggregate_has_partial_phase(spark, sf_small):
    """Grouped aggregation must combine map-side (partial_sum) so the
    shuffle carries one row per (flag,status) per task, not per input
    row."""
    plan = plan_of(spark, sf_small, "q1_pricing_summary")
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_merge_dedup_gets_window_group_limit(spark, sf_small):
    """The upsert merge (row_number over pk, keep rn=1) must plan the
    WindowGroupLimit pushdown: each map task keeps only its local
    newest row per key BEFORE the shuffle, so shuffle volume is
    ~|keys| not |rows| — this is what makes last-writer-wins viable
    at 100 TB."""
    plan = plan_of(spark, sf_small, "s3_upsert_merge")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan  # the pre-shuffle phase specifically


def test_single_shuffle_for_merge(spark, sf_small):
    """The whole merge pipeline needs exactly one hash exchange (on the
    merge key); a second exchange would mean the union sides were
    repartitioned separately."""
    plan = plan_of(spark, sf_small, "s3_upsert_merge")
    assert plan.count("Exchange hashpartitioning") == 1


def test_paragraph_dedup_exactly_two_hash_shuffles(spark, sf_small):
    """d15's scale contract: exactly two hash exchanges — the
    keep-first window partitioned by the paragraph string and the
    reassembly groupBy on doc_id — and no SinglePartition funnel
    anywhere (the final orderBy is a range exchange). A third hash
    exchange would mean the exploded paragraph stream was
    repartitioned separately from the window."""
    plan = plan_of(spark, sf_small, "d15_paragraph_dedup")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SinglePartition" not in plan


@pytest.mark.parametrize("name", ["q6_forecast_revenue", "p3_filter_range_closed"])
def test_range_predicates_push_to_parquet(spark, sf_small, name):
    """Range filters must appear in PushedFilters so parquet row-group
    min/max statistics can skip IO — the Spark analogue of the
    reference's BRIN-index reasoning (reference README.md:295-299)."""
    plan = plan_of(spark, sf_small, name)
    scan = plan[plan.index("FileScan") :]
    pushed = scan.split("PushedFilters: ")[1].split("]")[0]
    assert "GreaterThan" in pushed or "LessThan" in pushed


def test_having_join_broadcasts_survivors(spark, sf_small):
    """j11 (Q18 shape): the post-HAVING aggregate output is a tiny
    fraction of orders — it must broadcast onto the orders fact, and
    the quantity sum must have a map-side partial phase."""
    plan = plan_of(spark, sf_small, "j11_having_bigorders")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_decorrelated_avg_broadcasts_both_sides(spark, sf_small):
    """j12 (Q17 shape): both the brand-filter reduction and the
    per-part average must broadcast — lineitem is never shuffled for
    a join, only for the (partial-then-final) per-part aggregate."""
    plan = plan_of(spark, sf_small, "j12_small_qty_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_window_analytics_single_exchange(spark, sf_small):
    """w5: ntile/lead/first_value share one partition key and order —
    exactly one hash-partition exchange may appear (one Window node
    serves all three functions)."""
    plan = plan_of(spark, sf_small, "w5_window_analytics")
    assert plan.count("Exchange hashpartitioning") == 1


def test_events_range_pred_branches_on_legacy_nanos(spark):
    """events_range_pred must state the range on whichever column is
    physically in the parquet file: legacy TIMESTAMP(NANOS) fixtures
    surface a BIGINT ts_nanos (catalog.ensure_events_ts keeps it as a
    raw alias) and only a predicate on THAT column can reach
    PushedFilters; micros fixtures push on ts itself."""
    from pyspark.sql import functions as F

    from pypgsync_spark.functions.time import events_range_pred

    rows = [(i, i * 1_000_000) for i in (999, 1000, 1500, 2000, 2001)]
    legacy = spark.createDataFrame(rows, "event_id: long, ts_nanos: long").withColumn(
        "ts", F.expr("timestamp_micros(ts_nanos div 1000)")
    )
    pred = events_range_pred(legacy, lo_ms=1000, hi_ms=2000)
    # stated on the raw bigint column, not the derived timestamp
    assert "ts_nanos" in str(pred)
    got = {r.event_id for r in legacy.filter(pred).collect()}
    assert got == {1000, 1500, 2000}

    micros = legacy.drop("ts_nanos")
    pred2 = events_range_pred(micros, lo_ms=1000, hi_ms=2000)
    assert "ts_nanos" not in str(pred2)
    got2 = {r.event_id for r in micros.filter(pred2).collect()}
    assert got2 == {1000, 1500, 2000}


def test_large_orders_aggregates_before_join(spark, sf_small):
    """j15: the lineitem quantity rollup must appear BELOW the join —
    aggregate-then-join collapses the fact table before any shuffle
    join; join-then-aggregate would move the fact x dim product."""
    p = plan_of(spark, sf_small, "j15_large_orders")
    agg_pos = p.find("HashAggregate")
    join_pos = p.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # executedPlan prints top-down: the join must appear BEFORE (above)
    # the aggregate that feeds it
    assert join_pos < agg_pos, "lineitem aggregate is not below the join"
    assert "BroadcastHashJoin" in p, "customer dim should broadcast"


def test_multi_distinct_uses_single_expand(spark, sf_small):
    """a15: two COUNT(DISTINCT) columns + a plain count must plan ONE
    Expand (each row fans to one tagged row per distinct spec), not a
    self-join per distinct column."""
    p = plan_of(spark, sf_small, "a15_multi_distinct")
    assert p.count("Expand") == 1, f"expected exactly one Expand:\n{p}"
    assert "Join" not in p, "multi-distinct must not plan a self-join"


def test_range_frame_is_value_bounded_window(spark, sf_small):
    """w7: the trailing-24h frame must be a RANGE specification on the
    millis order key (value-based membership), partitioned by user —
    no single-partition window, no self-join formulation."""
    p = plan_of(spark, sf_small, "w7_range_frame")
    assert "specifiedwindowframe(RangeFrame" in p, f"no RANGE frame:\n{p}"
    assert "Join" not in p
    assert "partitionspec(user_id" in p.replace(" ", "").lower() or "user_id" in p


def test_late_shipments_single_fact_shuffle(spark, sf_small):
    """j14: lineitem joins orders once on the orderkey; the priority
    rollup must be map-side combined (partial aggregate), adding no
    second fact-table shuffle."""
    p = plan_of(spark, sf_small, "j14_late_shipments")
    assert "partial_count" in p or "partial" in p, "rollup lacks map-side combine"


def test_knn_join_shuffles_candidates_not_scores(spark, sf_small):
    """v7: after the block-GEMM stage the plan must reduce via a
    row_number window over the B*k candidates; no cartesian/nested
    loop (covered registry-wide) and no global sort."""
    p = plan_of(spark, sf_small, "v7_knn_join")
    assert "RunningWindowFunction" in p or "Window" in p
    assert "GlobalLimit" not in p or "TakeOrdered" not in p


def test_packing_no_stream_wide_window(spark, sf_small):
    """Token packing must never funnel a stream through one task: the
    corpus-sized windows are partitioned by (stream, bucket), the only
    stream-wide window runs over bucket TOTALS (metadata-scale), and
    the offsets come back via a size-estimated join — Catalyst/AQE
    broadcasts when the offsets table measures small (as here) and
    falls back to a shuffle join when rows/bucket_size is huge; no
    forced broadcast hint (a corpus/1000-row table force-broadcast
    would blow the driver at scale). A naive
    Window.partitionBy(source) over the corpus would be correct and
    unusable at 100 TB."""
    plan = plan_of(spark, sf_small, "pack1_token_budget_chunks")
    assert "SinglePartition" not in plan
    # at fixture scale the estimator picks broadcast on its own (no hint)
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # bucket totals are map-side combined
    # every corpus-sized window is keyed by (stream, bucket), never by
    # stream alone: the stream-alone spec may only appear over totals,
    # whose input is the aggregated (post-Exchange) side
    assert "windowspecdefinition(source" in plan  # totals cumsum exists


def test_incremental_dedup_plan_shape(spark, sf_small):
    """d7's two steps must plan as: WindowGroupLimit (per-partition
    top-1 before the fingerprint shuffle) for the intra-delta collapse,
    and a LeftAnti equi-join for the corpus screen whose corpus side
    reads ONLY (doc_id, text) — the screen never ships corpus payload."""
    plan = plan_of(spark, sf_small, "d7_incremental_dedup")
    assert "WindowGroupLimit" in plan
    assert "LeftAnti" in plan
    assert "struct<doc_id:bigint,text:string>" in plan  # pruned corpus read


@pytest.fixture(scope="module")
def ngram_join_plans(spark, sf_small) -> dict[str, list[str]]:
    """Every executed plan of d2's and d8's joins over the one-file
    fixture ``documents``, checkpoint materializations included."""
    from pyspark.sql import functions as F

    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.operators.dedup import ngram_jaccard_pairs
    from pypgsync_spark.operators.incremental import cross_jaccard_pairs

    docs = load_table(spark, sf_small, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return {
        "ngram_jaccard_pairs": sql_plans(
            spark, lambda: ngram_jaccard_pairs(docs).collect()
        ),
        "cross_jaccard_pairs": sql_plans(
            spark, lambda: cross_jaccard_pairs(corpus, delta).collect()
        ),
    }


def test_ngram_jaccard_joins_start_no_python_worker(ngram_join_plans):
    """The n-gram/PPJoin family (d2, d8 and every query built on
    ngram_jaccard_pairs / cross_jaccard_pairs) shingles, ranks and
    verifies in JVM expressions: no plan the joins execute — the shingle,
    frequency and prefix checkpoints' included — may carry a
    Python-evaluation node."""
    python_nodes = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")
    offenders = {}
    for key, plans in ngram_join_plans.items():
        assert any("localCheckpoint" in p for p in plans), key
        hits = {node for p in plans for node in python_nodes if node in p}
        if hits:
            offenders[key] = sorted(hits)
    assert not offenders, f"Python-evaluation nodes found: {offenders}"


def test_ngram_jaccard_joins_shingle_each_document_once(ngram_join_plans):
    """The shingling higher-order function runs once per document, after
    the spread: no Filter may evaluate it (a filter on the shingle array
    is pushed below its projection and below the round-robin spread,
    which runs the HOF twice, the first time on the input's own
    splits), and on the one-file fixture every node that evaluates it
    sits above the RoundRobinPartitioning exchange."""
    shingle_hof = "transform(sequence(1,"
    for key, plans in ngram_join_plans.items():
        nodes = [n for p in plans for n in plan_nodes(p)]
        filters = [
            n["details"] for n in nodes
            if n["name"] == "Filter" and shingle_hof in n["details"]
        ]
        assert not filters, (key, filters)
        spreads = [
            n for n in nodes
            if n["name"] == "Exchange" and "RoundRobinPartitioning" in n["details"]
        ]
        assert spreads, key
        for n in spreads:
            assert not any(shingle_hof in d for d in n["below"]), key
        assert any(
            n["name"] == "Project"
            and shingle_hof in n["details"]
            and any("RoundRobinPartitioning" in d for d in n["below"])
            for n in nodes
        ), key


def _executed_nodes(description: str) -> list[dict]:
    """:func:`plan_nodes` of the plan an execution ran: an adaptive
    plan's initial plan is dropped, so each operator counts once."""
    head, sep, body = description.partition("\n\n")
    return plan_nodes(head.split("+- == Initial Plan ==")[0] + sep + body)


def test_ngram_jaccard_joins_build_shared_tables_once(ngram_join_plans):
    """The self-join ranks its prefixes once and feeds that one prefix
    table to both sides of the candidate join; the cross join counts
    shingle frequencies over both collections once and ranks one prefix
    per collection. Counted over every executed plan, checkpoint
    materializations included."""
    for key, windows in (("ngram_jaccard_pairs", 1), ("cross_jaccard_pairs", 2)):
        nodes = [n for p in ngram_join_plans[key] for n in _executed_nodes(p)]
        ranks = [
            n for n in nodes
            if n["name"] == "Window" and "row_number()" in n["details"]
        ]
        assert len(ranks) == windows, (key, len(ranks))
        freqs = [
            n for n in nodes
            if n["name"] == "HashAggregate"
            and "Functions [1]: [count(1)]" in n["details"]
        ]
        assert len(freqs) == 1, (key, len(freqs))
        unions = [d for d in freqs[0]["below"] if " Union" in d.split("\n")[0]]
        assert len(unions) == (key == "cross_jaccard_pairs"), key


def test_unpivot_is_map_only_expand(spark, sf_small):
    """a19 (UNPIVOT) must plan as Expand inside the scan stage: a
    map-only 3x row emission with NO exchange, reading only the five
    referenced columns."""
    p = plan_of(spark, sf_small, "a19_unpivot_features")
    assert "Expand" in p
    assert "Exchange" not in p
    assert "l_extendedprice" not in p  # unreferenced column pruned


def test_sliding_window_map_side_combines(spark, sf_small):
    """a17's hopping-window rollup must partial-aggregate before the
    shuffle - the exchange carries (window x type) partials, never the
    2x-expanded event stream."""
    p = plan_of(spark, sf_small, "a17_sliding_window_counts")
    assert "partial_count" in p or "partial" in p.lower()
    assert "Expand" in p or "explode" in p.lower()  # window membership expansion


def test_sync_lag_single_aggregate(spark, sf_small):
    """c8 must resolve all four freshness figures in ONE aggregate over
    the source - no joins, no subquery re-scan."""
    p = plan_of(spark, sf_small, "c8_sync_lag")
    assert "Join" not in p
    assert p.count("FileScan") == 1


def test_winnow_pairs_materialize_once(spark, sf_small):
    """d10's df-filtered fingerprint index feeds three consumers; the
    executed plan must read it from the localCheckpoint scan, not
    re-run the winnowing per branch (ExistingRDD appears, and at most
    one parquet scan of documents survives)."""
    p = plan_of(spark, sf_small, "d10_winnow_substring_pairs")
    assert "ExistingRDD" in p or "Scan ExistingRDD" in p
    assert p.count("FileScan parquet") <= 1


def test_min_cost_supplier_one_fact_exchange(spark, sf_small):
    """j27: the explicit repartition on l_partkey must be the ONLY
    non-broadcast exchange — partitioning on the leading key serves
    both the (partkey,suppkey) groupBy and the partkey window (without
    it Spark inserts a second exchange for the window), and the
    top-100 must plan as TakeOrderedAndProject, not a global sort."""
    p = plan_of(spark, sf_small, "j27_min_cost_supplier")
    fact_exchanges = [
        ln for ln in p.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
        and "ReusedExchange" not in ln
    ]
    assert len(fact_exchanges) == 1, fact_exchanges
    assert "REPARTITION_BY_COL" in fact_exchanges[0]
    assert "TakeOrderedAndProject" in p


def test_important_parts_aggregates_once(spark, sf_small):
    """j29: the per-part aggregate is checkpointed, so the main plan
    (scalar-subquery threshold + filter) reads the materialized rdd —
    a second lineitem scan would double the fact work per run."""
    df = REGISTRY["j29_important_parts"].fn(spark, sf_small)
    df.collect()  # materializes the lazy checkpoint + subquery
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in p, "final plan re-scans the fact table"
    assert "existingrdd" in p.lower()


def test_supplier_census_dedups_before_shuffle(spark, sf_small):
    """j30: the count-distinct must shuffle pair-DISTINCT
    (brand,type,size,suppkey) tuples, never raw lineitem rows — the
    partial HashAggregate (keys incl. l_suppkey, no functions) sits
    below the first exchange, and the complaint-exclusion anti join
    never degrades to a SortMergeJoin (its build side is dim-sized;
    at sf0.001 AQE may eliminate it outright — empty build side)."""
    p = plan_of(spark, sf_small, "j30_supplier_part_census")
    assert "SortMergeJoin" not in p
    assert "partial_count(distinct" in p
    fact_exchanges = [
        ln for ln in p.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
        and "ReusedExchange" not in ln
    ]
    assert len(fact_exchanges) <= 2, fact_exchanges
    # the wide (4-key) exchange input is the dedup aggregate
    assert "hashpartitioning(p_brand" in p


def test_excess_shippers_one_fact_exchange(spark, sf_small):
    """j31: the partkey repartition is the ONLY non-broadcast
    exchange — it serves the (suppkey,partkey) groupBy AND the partkey
    window (the j27 trick), and the supplier semi join builds from the
    broadcast qualified-key set, so the dimension side never
    shuffles."""
    p = plan_of(spark, sf_small, "j31_excess_shippers")
    fact_exchanges = [
        ln for ln in p.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
        and "ReusedExchange" not in ln
    ]
    assert len(fact_exchanges) == 1, fact_exchanges
    assert "REPARTITION_BY_COL" in fact_exchanges[0]
    assert "LeftSemi, BuildRight" in p


def test_gopher_rules_is_map_only(spark, sf_small):
    """tx14 must be one pass over documents: no exchange, a single
    parquet scan, and the unreferenced columns pruned from it (the
    Gopher gate runs at scan speed or it isn't a filter)."""
    p = plan_of(spark, sf_small, "tx14_gopher_rules")
    assert "Exchange" not in p
    assert p.count("FileScan") == 1
    assert "lang" not in p  # unreferenced column pruned from ReadSchema


def test_bigram_lm_materializes_stream_once(spark, sf_small):
    """tx15's bigram stream feeds the c2 counts, the c1 counts and the
    scoring probe; the executed plan must read it back from the lazy
    localCheckpoint (ExistingRDD) instead of re-exploding documents
    per consumer."""
    p = plan_of(spark, sf_small, "tx15_bigram_lm_ppl")
    assert "ExistingRDD" in p
    # the only parquet re-scan is the token view behind the scalar V
    assert p.count("FileScan parquet") <= 1


def test_dup_shingle_reuses_exploded_shingles(spark, sf_small):
    """tx16 joins the shingle stream against its own df table; both
    sides must come from ONE materialization of the explode."""
    p = plan_of(spark, sf_small, "tx16_dup_shingle_fraction")
    assert "ExistingRDD" in p
    assert "FileScan parquet" not in p


def test_semdedup_gemm_grouped_by_cell_blocks(spark, sf_small):
    """d14's GEMM groups must be keyed by (cell, block-pair): a hot
    cell splits into bounded sub-block tasks instead of one
    n_cell-squared task (power-law cluster sizes)."""
    p = plan_of(spark, sf_small, "d14_semdedup_cells")
    assert "FlatMapGroupsInPandas" in p
    assert "__bp" in p and "__bq" in p  # sub-block keys in the grouping


def test_pipe3_encoder_is_arrow_batched_map(spark, sf_small, monkeypatch):
    """pipe3's BPE encode must run as an Arrow-batched pandas UDF in a
    map stage (no per-row Python), and the packing must keep pack1's
    no-stream-wide-window contract. Packing materialization would
    truncate the plan at a Scan ExistingRDD and hide the encoder
    stage from the assertion — disable it (computation-identical)."""
    monkeypatch.setenv("SPARK_GRAFT_PACK_MATERIALIZE", "0")
    p = plan_of(spark, sf_small, "pipe3_bpe_tokenize_pack")
    assert "ArrowEvalPython" in p
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p  # never the row-at-a-time path


def test_pipe4_plan_shape(spark, sf_small, monkeypatch):
    """pipe4 composes three scale contracts in one plan: the SemDeDup
    GEMM stays keyed by (cell, block-pair) — a hot cell splits into
    bounded sub-block tasks; the packing keeps pack1's
    no-stream-wide-window contract; and no per-row Python anywhere
    (the gopher stage is pure Column HOFs, the GEMM is Arrow-batched
    applyInPandas). Packing materialization would truncate the plan
    at a Scan ExistingRDD and hide every upstream stage from these
    assertions — disable it (computation-identical)."""
    monkeypatch.setenv("SPARK_GRAFT_PACK_MATERIALIZE", "0")
    p = plan_of(spark, sf_small, "pipe4_curation_pipeline")
    assert "FlatMapGroupsInPandas" in p
    assert "__bp" in p and "__bq" in p  # sub-block keys in the grouping
    assert "SinglePartition" not in p
    assert "BatchEvalPython" not in p  # never the row-at-a-time path


def test_phash_pairs_one_bucket_shuffle_decode_once(spark, sf_small):
    """mm9: the banded-LSH candidate join must be a shuffle EQUI-join
    on (band, value) — never a nested-loop/cartesian — and both sides
    must read the PERSISTED band table (InMemoryTableScan), so the
    Arrow-batched image-decode stage runs once per action, not once
    per join side (the expensive stage on real payloads)."""
    df = REGISTRY["mm9_image_phash_pairs"].fn(spark, sf_small)
    df.collect()  # materializes the persist so the cache shows in-plan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # both join sides read the persisted band table, so the decode
    # stage executes only at cache fill (the plan TEXT still prints
    # the cached subtree's MapInPandas lineage under each scan — node
    # occurrences in the string are not execution counts)
    assert p.count("InMemoryTableScan") >= 2
    assert "BatchEvalPython" not in p  # never the row-at-a-time path

def test_screen_corpus_band_tables_are_persisted(spark, sf_small):
    """ADVICE r12: a stream-static join re-evaluates the static side
    on EVERY micro-batch, so pipe6's and mm10's corpus band tables
    must be PERSISTED — corpus signing/decoding paid once per corpus
    version, not once per micro-batch. Assert the cache is live on the
    operator's static side (an InMemoryTableScan in the corpus band
    plan once materialized), for both screens."""
    from pyspark.sql import functions as F

    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming import dedupe as sd

    path = table_path(sf_small, "embeddings")
    corpus = spark.read.parquet(path).filter(F.col("vec_id") % 10 != 0)
    stream = (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .parquet(path)
        .filter(F.col("vec_id") % 10 == 0)
    )
    sd.semantic_screen_stream(stream, corpus)
    assert len(sd._CORPUS_BANDS_CACHE) == 1
    cached = sd._CORPUS_BANDS_CACHE[0]
    cached.count()  # materialize the cache
    p = cached._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in p

    dpath = table_path(sf_small, "documents")
    dcorpus = spark.read.parquet(dpath).filter(F.col("doc_id") % 10 != 0)
    dstream = (
        spark.readStream.schema(spark.read.parquet(dpath).schema)
        .parquet(dpath)
        .filter(F.col("doc_id") % 10 == 0)
    )
    sd.image_screen_stream(dstream, dcorpus)
    assert len(sd._IMG_BANDS_CACHE) == 1
    icached = sd._IMG_BANDS_CACHE[0]
    icached.count()
    ip = icached._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in ip

    # single-slot discipline: a second call releases the previous copy
    sd.semantic_screen_stream(stream, corpus)
    assert len(sd._CORPUS_BANDS_CACHE) == 1


def test_audio_screen_corpus_band_table_is_persisted(spark, sf_small):
    """mm12: the audio screen's corpus band table must be PERSISTED in
    the audio family's OWN slot (corpus decode/signing paid once per
    corpus version, not per micro-batch — and never evicting the image
    screen's slot: the two modalities' screens may run in one pipeline,
    pipe7's composition argument)."""
    from pyspark.sql import functions as F

    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming import dedupe as sd

    dpath = table_path(sf_small, "documents")
    dcorpus = spark.read.parquet(dpath).filter(F.col("doc_id") % 10 != 0)
    dstream = (
        spark.readStream.schema(spark.read.parquet(dpath).schema)
        .parquet(dpath)
        .filter(F.col("doc_id") % 10 == 0)
    )
    img_before = list(sd._IMG_BANDS_CACHE)
    sd.audio_screen_stream(dstream, dcorpus)
    assert len(sd._AUD_SCREEN_BANDS_CACHE) == 1
    cached = sd._AUD_SCREEN_BANDS_CACHE[0]
    cached.count()  # materialize the cache
    p = cached._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in p
    # scoped slot: signing the audio corpus must not evict the image one
    assert list(sd._IMG_BANDS_CACHE) == img_before

    # single-slot discipline within the family: a second call releases
    # the previous copy
    sd.audio_screen_stream(dstream, dcorpus)
    assert len(sd._AUD_SCREEN_BANDS_CACHE) == 1


def test_video_screen_corpus_band_table_is_persisted(spark, sf_small):
    """mm14: the video screen's corpus band table must be PERSISTED in
    the video family's OWN slot (corpus decode/signing paid once per
    corpus version, not per micro-batch — and never evicting the image
    or audio screens' slots: all three modality screens may run in one
    composed pipeline)."""
    from pyspark.sql import functions as F

    from pypgsync_spark.catalog import table_path
    from pypgsync_spark.streaming import dedupe as sd

    dpath = table_path(sf_small, "documents")
    dcorpus = spark.read.parquet(dpath).filter(F.col("doc_id") % 10 != 0)
    dstream = (
        spark.readStream.schema(spark.read.parquet(dpath).schema)
        .parquet(dpath)
        .filter(F.col("doc_id") % 10 == 0)
    )
    img_before = list(sd._IMG_BANDS_CACHE)
    aud_before = list(sd._AUD_SCREEN_BANDS_CACHE)
    sd.video_screen_stream(dstream, dcorpus)
    assert len(sd._VID_SCREEN_BANDS_CACHE) == 1
    cached = sd._VID_SCREEN_BANDS_CACHE[0]
    cached.count()  # materialize the cache
    p = cached._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in p
    # scoped slot: signing the video corpus must not evict the others
    assert list(sd._IMG_BANDS_CACHE) == img_before
    assert list(sd._AUD_SCREEN_BANDS_CACHE) == aud_before

    # single-slot discipline within the family: a second call releases
    # the previous copy
    sd.video_screen_stream(dstream, dcorpus)
    assert len(sd._VID_SCREEN_BANDS_CACHE) == 1


def _nodes(node):
    """``node`` and every node below it, for a Spark plan or expression
    tree (both are Catalyst TreeNodes)."""
    out = [node]
    children = node.children()
    for i in range(children.length()):
        out += _nodes(children.apply(i))
    return out


def _names(seq) -> list[str]:
    return [seq.apply(i).name() for i in range(seq.length())]


def test_ppjoin_candidates_shuffle_ids_and_verify_intersects_once(spark, sf_small):
    """The n-gram/PPJoin joins (d2, d8 and the queries built on them):
    the positional filter runs on each matching prefix row, so the
    candidate step is an aggregate with no functions over the two pair
    ids, and its shuffle carries only those ids. The verify join's
    condition starts with a bound test that evaluates array_intersect
    once; the exact test after it runs only for the pairs that pass."""
    from pyspark.sql import functions as F

    from pypgsync_spark.catalog import load_table
    from pypgsync_spark.operators.dedup import ngram_jaccard_pairs
    from pypgsync_spark.operators.incremental import cross_jaccard_pairs

    docs = load_table(spark, sf_small, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    frames = {
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs),
        "cross_jaccard_pairs": cross_jaccard_pairs(corpus, delta),
    }
    ids = ["id_a", "id_b"]  # the candidate columns of dedup.ppjoin_pairs
    exchanged = []
    for key, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the plan AQE starts from
        nodes = _nodes(plan)
        cand = [
            n for n in nodes
            if n.nodeName() == "HashAggregate" and _names(n.groupingExpressions()) == ids
        ]
        assert cand, key
        for agg in cand:
            assert agg.aggregateExpressions().length() == 0, (key, agg.toString())
            child = agg.child()
            if child.nodeName() == "Exchange":
                assert _names(child.output()) == ids, (key, child.toString())
                exchanged.append(key)
        verify = [
            n for n in nodes
            if "Join" in n.nodeName()
            and n.condition().isDefined()
            and "array_intersect" in n.condition().get().toString()
        ]
        assert len(verify) == 1, key
        first = verify[0].condition().get()
        while first.getClass().getSimpleName() == "And":
            first = first.left()
        intersects = [e for e in _nodes(first) if e.getClass().getSimpleName() == "ArrayIntersect"]
        assert len(intersects) == 1, (key, first.toString())
    # the checkpointed prefix tables carry no id partitioning, so both
    # candidate steps shuffle
    assert set(exchanged) == {"ngram_jaccard_pairs", "cross_jaccard_pairs"}, exchanged
