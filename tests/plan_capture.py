"""The physical plans of every SQL execution a call runs.

A plan assertion on one DataFrame's ``queryExecution`` stops at each
``localCheckpoint``: upstream of it the plan shows only a
``LogicalRDD``. The SQL status store sees further. Every checkpoint
posts its own execution — a lazy ``localCheckpoint`` posts one when it
is called, named ``localCheckpoint at …`` — and that execution's
description holds the full plan upstream of the checkpoint. So the
union of the executions a call starts covers everything it computes.
"""

from __future__ import annotations

import re


def sql_plans(spark, action) -> list[str]:
    """Run ``action()`` and return the ``physicalPlanDescription`` of
    every SQL execution it started, in execution-id order.

    Build the DataFrame inside ``action``: a lazy checkpoint posts its
    execution when the checkpoint is called, not when the result is
    collected. Reads the session's SQL status store after draining the
    listener bus; no event log is needed."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return {e.executionId(): e for e in (seq.apply(i) for i in range(seq.size()))}

    before = executions().keys()
    action()
    after = executions()
    return [after[i].physicalPlanDescription() for i in sorted(after.keys() - before)]


_TREE_NODE = re.compile(r"(?P<name>[A-Za-z][\w ]*?) \((?P<id>\d+)\)")
_DETAIL = re.compile(r"^\((?P<id>\d+)\) (?P<name>[A-Za-z]\w*)")


def plan_nodes(description: str) -> list[dict]:
    """The nodes of a formatted physical plan, in tree order, each as
    ``{"name", "details", "below"}``: the node's name, its details
    section (output, condition, arguments...) and the details of every
    node beneath it in the tree. Initial and final AQE plans both
    appear."""
    head, _, body = description.partition("\n\n")
    details = {}
    for section in body.split("\n\n"):
        m = _DETAIL.match(section.strip())
        if m:
            details[m["id"]] = section
    tree = []
    for line in head.splitlines():
        m = _TREE_NODE.search(line)
        if not m:
            continue
        edge = line.find("+-")
        depth = edge + 3 if edge >= 0 else len(line) - len(line.lstrip(" :"))
        tree.append((depth, m["name"].strip(), details.get(m["id"], "")))
    nodes = []
    for i, (depth, name, text) in enumerate(tree):
        below = []
        for d, _, t in tree[i + 1:]:
            if d <= depth:
                break
            below.append(t)
        nodes.append({"name": name, "details": text, "below": below})
    return nodes
