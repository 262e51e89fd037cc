"""No public name without a caller.

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
nothing calls: delete it. Stdlib ``ast`` only, so it runs without Spark.
"""

from __future__ import annotations

import ast
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
    # public entry point of the version-guarded ``pypgsync_upsert`` sink
    "sources.pysource.register_upsert_sink": "registers the pypgsync_upsert sink",
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
