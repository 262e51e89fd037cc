"""Generate COVERAGE.md: SURVEY §2 operator inventory → query catalog map.

Run: python scripts/gen_coverage.py  (writes COVERAGE.md at repo root)
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pypgsync_spark.queries import REGISTRY  # noqa: E402

# SURVEY §2 inventory: id → one-line description (from SURVEY.md tables).
SURVEY_IDS = {
    "S1": "JDBC table source (range scan)",
    "S2": "Chunked fetch (cursor pagination)",
    "S3": "Upsert sink (INSERT..ON CONFLICT → last-writer-wins merge)",
    "S4": "Batched writes",
    "S5": "DDL clone of source schema",
    "S6": "Catalog existence checks",
    "S7": "File formats (parquet primary; orc/csv/json/text via sources/files.py)",
    "P1": "Full projection", "P2": "Single-column projection",
    "P3": "Closed-range predicate", "P4": "Half-open range predicate",
    "P5": "Modulo predicate", "P6": "Equality predicate",
    "P7": "Inequality predicate", "P8": "NULL predicates",
    "P9": "Expression predicate", "P10": "Conjunctive composition",
    "§2.3": "Joins (merge-implied: inner/left/semi/anti + analytics)",
    "A1": "Ungrouped MAX (watermark)", "A2": "Ungrouped MIN (cold start)",
    "A3": "COUNT(*) under filter", "A4": "Grouped SUM",
    "A5": "Incremental grouped SUM (trigger-maintained)",
    "A6": "Cardinality estimate (EXPLAIN → exact count/stats)",
    "A7": "Approximate total / distinct",
    "W1": "ROW_NUMBER global rank", "W2": "Window-boundary extraction",
    "O1": "ORDER BY ASC", "O2": "ORDER BY DESC + LIMIT (top-k)",
    "O3": "Ascending window traversal",
    "§2.7": "Set operations",
    "F1": "epoch-millis now()", "F2": "abs()", "F3": "epoch arithmetic",
    "F4": "Interval construction/compare", "F5": "epoch-millis ↔ timestamp",
    "F6": "Modulo", "F7": "URI formatting (config plumbing)",
    "§2.8": "Scalar functions (string/date/case/json)",
    "C1": "intervals() slice grid", "C2": "calculate_optimal_slices()",
    "C3": "Incremental watermark protocol", "C4": "merge_chunks orchestrator",
    "T1": "Micro-batch loop", "T2": "Batch boundary (high watermark)",
    "T3": "Late/out-of-order data", "T4": "Exactly-once / idempotency",
    "T5": "Stateful aggregation",
    "§2.4 ext": "Aggregation extensions (rollup/cube/grouping sets/percentiles)",
    "§2.10 ext": "Streaming extensions (session windows)",
    "ext:dedup": "Deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash, cosine)",
    "ext:similarity": "Similarity search (brute-force, LSH-ANN, IVF)",
    "ext:text": "Text analysis (tokens, quality, lang-ID, fingerprint)",
    "ext:multimodal": "Multimodal binary plumbing (features, frame sampling)",
    "ext:skew": "Skew mitigation (salted join, two-stage distinct)",
}

# Covered by engine code + pytest rather than a driver query.
NON_QUERY_COVERAGE = {
    "S1": "c2_slice_plan renders the JDBC predicates "
          "(plans/intervals.py SlicePlan.jdbc_predicates)",
    "S2": "subsumed by Spark partitioning + the slice reader's fetch_size "
          "(sources/pysource.py)",
    "S4": "JDBC writer batchsize / parquet vectorized writes "
          "(sources/jdbc.py write_upsert execute_batch)",
    "S5": "ParquetSyncedTable.write auto-creates dest (sync.py; "
          "tests/test_sync.py cold start)",
    "S6": "catalog.load_tables existence-gated; AnalysisException on "
          "missing tables (catalog.py)",
    "S7": "sources/files.py read_table/write_table: orc/csv/json/text "
          "round-trips, partitioned layout, pushdown (tests/test_files.py)",
    "T2": "sync_once high watermark bound (tests/test_sync.py noop test)",
    "T3": "withWatermark in t6/t7 (documented improvement over silent loss)",
    "T4": "idempotent re-run test (tests/test_sync.py convergence)",
    "F7": "config plumbing, not an operator (reference utils.py:5-13)",
    "O3": "driver-side ordered traversal inside w2_windowed_ranges_ts",
}


def main() -> None:
    by_id: dict[str, list[str]] = defaultdict(list)
    for name, spec in sorted(REGISTRY.items()):
        for sid in [s.strip() for s in spec.survey.split(",")]:
            by_id[sid].append(name + ("" if spec.oracle else " (rows-only)"))

    lines = [
        "# COVERAGE — SURVEY §2 operator inventory → query catalog",
        "",
        "Generated by `scripts/gen_coverage.py` from the live registry; every",
        "query name is a `queries()` entry the driver hash-checks against its",
        "`oracle_sql()` (rows-only where noted: hash-based candidates whose",
        "correctness is pytest-asserted against exact formulations instead).",
        "",
        "| Survey ID | Operator | Covered by |",
        "|---|---|---|",
    ]
    for sid, desc in SURVEY_IDS.items():
        qs = by_id.get(sid, [])
        cover = "; ".join(f"`{q}`" for q in qs)
        if sid in NON_QUERY_COVERAGE:
            extra = NON_QUERY_COVERAGE[sid]
            cover = f"{cover}; {extra}" if cover else extra
        lines.append(f"| {sid} | {desc} | {cover or '—'} |")

    extras = {
        sid: qs for sid, qs in by_id.items() if sid not in SURVEY_IDS
    }
    if extras:
        lines += ["", "Additional registry tags not in the §2 tables:", ""]
        for sid, qs in sorted(extras.items()):
            lines.append(f"- **{sid}**: " + ", ".join(f"`{q}`" for q in qs))

    lines += [
        "",
        f"Total queries: {len(REGISTRY)} "
        f"({sum(1 for s in REGISTRY.values() if s.oracle)} oracle-checked, "
        f"{sum(1 for s in REGISTRY.values() if not s.oracle)} rows-only).",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
