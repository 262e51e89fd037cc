"""No public name without a caller, no parameter without a setter.

Every public top-level ``def``/``class`` in ``pypgsync_spark/`` (catalog
queries registered with ``@register`` aside: the registry is their
caller) must be referenced by code that a product path runs: another
package module, ``scripts/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py``, or its own module outside its own body. A
reference is a ``Name``, an ``Attribute`` or an import alias; text in
docstrings and comments does not count, and neither does ``tests/``.
A reference from the body of a name that itself has no caller does not
count either, so a helper that only a dead function calls is reported
with it.

A name that is deliberately public without such a caller (a deploy-time
sink, a test reference other tests compare against) goes into ``KEEP``
with its reason; its body counts as live code. Anything else is a helper
nothing calls: delete it.

Every defaulted parameter of a module-level ``def`` in the package must
be passed by at least one call of that name, in the caller files or in
``tests/``: by keyword, positionally at or past its index, or through
``*``/``**``. A default no call overrides is a constant: fold it in.
``KEEP_PARAMS`` and ``PENDING`` list the exceptions. Stdlib ``ast``
only, so it runs without Spark.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "pypgsync_spark"

CALLER_FILES = [
    *PKG.rglob("*.py"),
    *(ROOT / "scripts").glob("*.py"),
    *(ROOT / "perfbench").glob("*.py"),
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]
TEST_FILES = [*(ROOT / "tests").rglob("*.py")]

# module-qualified name -> why it stays public with no caller in the product
KEEP = {
    # the deploy-time Postgres ON CONFLICT sink (SURVEY S3);
    # tests/test_upsert_exec.py runs its statement against DuckDB
    "sources.jdbc.write_upsert": "deploy-time Postgres upsert sink",
    "sources.jdbc.upsert_sql": "the statement write_upsert executes",
    # the reference's missing-destination clone (_init_db, SURVEY S5);
    # tests/test_ddl.py executes its DDL on DuckDB
    "ddl.ensure_destination": "deploy-time destination clone",
    "ddl.clone_table_ddl": "the DDL ensure_destination renders",
    # the SQL -> store streaming sync (SCALE.md)
    "streaming.continuous.stream_sync_cdc": "SQL-source streaming sync",
    # test references that other tests compare the catalog operators against
    "operators.dedup.connected_components": "reference for the hybrid components",
    "streaming.balance.batch_balance": "batch reference for the streaming balance",
    "operators.similarity.cosine_pairs_expr": "reference for the cosine pair kernels",
    "operators.similarity.hyperplane_signature": "reference for the SimHash kernel",
}


def _refs(node) -> set[str]:
    """Identifiers that ``node`` references as code."""
    out: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.update(sub.name.split("."))
    return out


def _is_public_def(node) -> bool:
    if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return False
    for dec in node.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(target, "id", getattr(target, "attr", None)) == "register":
            return False
    return not node.name.startswith("_")


def _scan():
    """Each top-level statement of the caller files as ``(qualified name
    if it is a public package def else None, node, referenced names)``."""
    out = []
    for path in CALLER_FILES:
        in_pkg = path.is_relative_to(PKG)
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts) if in_pkg else ""
        for node in ast.parse(path.read_text(), str(path)).body:
            qual = f"{mod}.{node.name}" if in_pkg and _is_public_def(node) else None
            out.append((qual, node, _refs(node)))
    return out


def _called(stmts, dead: set[str], qual: str, name: str, skip=()) -> bool:
    """Whether live code other than ``qual``'s own body (and ``skip``)
    references ``name``."""
    return any(
        name in refs
        for q, _, refs in stmts
        if q != qual and q not in dead and q not in skip
    )


def unused_public_names() -> set[str]:
    """Public names outside ``KEEP`` that no live code references."""
    stmts = _scan()
    dead: set[str] = set()
    while True:
        now = {
            q
            for q, node, _ in stmts
            if q and q not in KEEP and not _called(stmts, dead, q, node.name)
        }
        if now == dead:
            return dead
        dead = now


def test_every_public_name_has_a_caller():
    orphans = sorted(unused_public_names())
    assert not orphans, (
        "public names that only tests use; delete them, make them private, "
        f"or add each to KEEP with a reason: {orphans}"
    )


def test_keep_lists_only_names_without_a_caller():
    stmts = _scan()
    dead = unused_public_names()
    defs = {q: node for q, node, _ in stmts if q}
    stale = sorted(
        q
        for q in KEEP
        if q not in defs or _called(stmts, dead, q, defs[q].name, skip=KEEP)
    )
    assert not stale, f"KEEP entries that are gone or have a caller: {stale}"


# module-qualified parameter -> why it keeps a default that no call passes
KEEP_PARAMS = {
    # deploy-time entry points (KEEP): a deployment sets these
    "sources.jdbc.write_upsert.batch_size": "rows per execute_batch at deploy time",
    "sources.jdbc.write_upsert.dialect": "target database at deploy time",
    "streaming.continuous.stream_sync_cdc.trigger": "deploy-time trigger",
    # pinned into the checkpoint by pin_num_buckets on the first start
    "streaming.gated.gated_balance.num_buckets": "deploy-time state keyspace",
    # test references (KEEP): same signature as the operator they check
    "operators.dedup.connected_components.id_a": "test reference",
    "operators.dedup.connected_components.id_b": "test reference",
    "operators.dedup.connected_components.max_iter": "test reference",
    "operators.similarity.cosine_pairs_expr.id_col": "test reference",
    "operators.similarity.cosine_pairs_expr.vec_col": "test reference",
    "operators.similarity.hyperplane_signature.seed": "test reference",
}

# function -> the green sweep closures it sits in. Editing it would
# re-stale those queries (CLAUDE.md "Sweep-cap discipline"); its unset
# parameters fold into constants in a round that re-stales them anyway.
PENDING = {
    "plans.intervals.plan_slices": "green closure: c2, c5",
    "streaming.balance.drain_to_memory": (
        "green closure: mm10, mm12, mm14, pipe5, pipe6, pipe7, "
        "t5, t6, t7, t9, t13, t14"
    ),
    "streaming.balance.qualifying": "green closure: t5",
    "streaming.balance.streaming_balance": "green closure: t5",
    "streaming.balance.session_window_stats": "green closure: t7",
    "streaming.balance.windowed_event_counts": "green closure: t6",
    "streaming.balance.sliding_event_counts": "green closure: t13",
    "streaming.balance.enriched_segment_rollup": "green closure: t14",
    "streaming.dedupe.dedup_within_watermark": "green closure: t9",
    "streaming.dedupe.stream_ingest_curation": "green closure: pipe5",
    "streaming.dedupe.semantic_screen_stream": "green closure: pipe6",
    "streaming.dedupe.image_screen_stream": "green closure: mm10, pipe7",
    "streaming.dedupe.audio_screen_stream": "green closure: mm12",
    "streaming.dedupe.video_screen_stream": "green closure: mm14",
    "operators.windowed.distributed_row_number": "green closure: w1c",
    "operators.dedup.paragraph_dedup": "green closure: d15, pipe9",
    "operators.dedup.with_shingles": "green closure: tx3",
    "operators.dedup.simhash_pairs": "green closure: d4",
    "operators.incremental.incremental_dedup_bloom": "green closure: d16",
    "operators.packing.packed_offsets": "green closure: pipe4, pipe8",
    "operators.packing.pack_chunks": "green closure: pipe4, pipe8",
    "operators.multimodal.with_binary_payload": "green closure: mm1, mm2, mm3",
    "operators.multimodal.frame_sample": "green closure: mm2",
    "operators.multimodal.extract_binary_features": "green closure: mm1",
    "operators.multimodal.resize_signature": "green closure: mm3",
    "operators.multimodal.with_image_payload": "green closure: mm4, mm7",
    "operators.multimodal.with_audio_payload": "green closure: mm5, mm8",
    "operators.multimodal.with_video_payload": "green closure: mm6",
    "operators.multimodal.audio_window_energy": "green closure: mm8",
    "operators.rangejoin.range_join": "green closure: c5",
    "operators.asof.asof_join": "green closure: j13",
    "operators.similarity.lsh_ann_topk": "green closure: v4",
    "operators.similarity.ivf_assign": "green closure: d14, pipe4, v5, v8, v14, v15",
    "operators.similarity.ivf_topk": "green closure: v5, v8",
    "operators.similarity.cell_cosine_pairs": "green closure: d14, pipe4",
    "operators.similarity.cosine_scores_seq": "green closure: pipe6",
    "operators.similarity.sq8_approx_scores": "green closure: v13, v14",
    "operators.similarity.sq8_index_write": "green closure: v15",
    "operators.similarity.sq8_index_topk": "green closure: v15",
    "operators.skew.distinct_count_two_stage": "green closure: a13",
    "sources.partitioned.with_event_date": "green closure: s4b, s9",
    "sources.partitioned.write_date_partitioned": "green closure: s4b, s9",
    "sources.files.read_table": "green closure: s10",
    "sources.files.write_table": "green closure: s10",
    "sources.bucketed.write_bucketed": "green closure: s3c",
    "functions.text.c4_line_clean": "green closure: pipe9, tx18",
    "queries.textops.dsir_weights": "green closure: pipe8, tx17",
}


def _defaulted(args: ast.arguments):
    """``(positional index or None, name)`` of each defaulted parameter."""
    pos = args.posonlyargs + args.args
    first = len(pos) - len(args.defaults)
    for i, a in enumerate(pos[first:], first):
        yield i, a.arg
    for a, default in zip(args.kwonlyargs, args.kw_defaults):
        if default is not None:
            yield None, a.arg


def _passes(call: ast.Call, index: int | None, name: str) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg in (None, name) for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def unset_params() -> set[str]:
    """``module.function.parameter`` of every defaulted parameter of a
    package module-level ``def`` that no call of that name passes."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in CALLER_FILES + TEST_FILES}
    calls = defaultdict(list)
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", getattr(node.func, "attr", None))
                calls[name].append(node)
    out = set()
    for path in PKG.rglob("*.py"):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for index, arg in _defaulted(node.args):
                if not any(_passes(c, index, arg) for c in calls[node.name]):
                    out.add(f"{mod}.{node.name}.{arg}")
    return out


def test_every_parameter_has_a_setter():
    unset = sorted(
        p
        for p in unset_params()
        if p not in KEEP_PARAMS and p.rsplit(".", 1)[0] not in PENDING
    )
    assert not unset, (
        "defaulted parameters that no call passes; fold each into a "
        f"constant, or list it in KEEP_PARAMS or PENDING with a reason: {unset}"
    )


def test_setter_exceptions_name_unset_parameters():
    unset = unset_params()
    stale = sorted(p for p in KEEP_PARAMS if p not in unset)
    stale += sorted(
        f for f in PENDING if not any(p.rsplit(".", 1)[0] == f for p in unset)
    )
    assert not stale, f"KEEP_PARAMS/PENDING entries with no unset parameter: {stale}"
