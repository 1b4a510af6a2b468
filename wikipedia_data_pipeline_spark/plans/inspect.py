"""Physical-plan inspection utilities.

The engine's scale posture is a set of plan properties — filters reach
scans, dims broadcast, shuffles are budgeted, top-k never full-sorts.
These helpers turn the executed plan into something assertable so those
properties are regression-tested (tests/test_scale_plans.py) instead of
re-checked by eye with ``.explain()``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame, run: bool = True) -> str:
    """Final executed-plan string. ``run`` executes the query first so
    AQE's re-planning is settled (isFinalPlan=true) — the pre-execution
    string shows only the initial guess."""
    if run:
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@dataclass
class PlanSummary:
    n_shuffles: int = 0
    n_broadcast_joins: int = 0
    n_sort_merge_joins: int = 0
    n_nested_loop_joins: int = 0
    has_take_ordered: bool = False
    scans: list[dict] = field(default_factory=list)

    def scan_for(self, token: str) -> dict:
        """First scan whose location mentions ``token`` (table name)."""
        for s in self.scans:
            if token in s["location"]:
                return s
        raise KeyError(f"no scan matching {token!r}")


def _walk_plan(node):
    """Depth-first walk of a JVM SparkPlan, descending through the
    wrappers the plain ``children()`` walk can't see: AQE plans, query
    stages, cached relations, and reused exchanges. The plan STRING
    truncates nested adaptive subtrees (broadcast sides, InMemoryRelation
    bodies), so tree inspection is the only reliable way to see every
    operator."""
    yield node
    name = node.getClass().getSimpleName()
    kids = []
    try:
        if name == "AdaptiveSparkPlanExec":
            kids.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            kids.append(node.plan())
        elif name == "InMemoryTableScanExec":
            kids.append(node.relation().cachedPlan())
        elif name == "ReusedExchangeExec":
            kids.append(node.child())
    except Exception:
        pass
    seq = node.children()
    kids.extend(seq.apply(i) for i in range(seq.size()))
    for k in kids:
        yield from _walk_plan(k)


def global_windows(df: DataFrame) -> list[dict]:
    """Every WindowExec in the executed plan (after running ``df``, so
    AQE has settled it) with an EMPTY partition spec (the
    SinglePartition-serializing kind), as ``{"node": str, "guarded": bool}``.

    ``guarded`` is True iff the window's input subtree contains an
    aggregate keyed on ``operators.ranks``' block id (``_os_pid``) —
    i.e. the window runs over the per-block summary relation
    (≤ num_partitions rows, driver-sized by construction), which is the
    one place a global window is legal at any scale. Tests for queries
    migrated to the hierarchical scan assert all(guarded)."""
    df.collect()
    root = df._jdf.queryExecution().executedPlan()
    out = []
    for node in _walk_plan(root):
        if node.getClass().getSimpleName() != "WindowExec":
            continue
        if node.partitionSpec().size() != 0:
            continue
        guarded = any(
            "Aggregate" in sub.getClass().getSimpleName()
            and "_os_pid" in sub.toString().split("\n", 1)[0]
            for sub in _walk_plan(node)
        )
        out.append(
            {"node": node.toString().split("\n", 1)[0], "guarded": guarded}
        )
    return out


def plan_summary(df: DataFrame) -> PlanSummary:
    """Run ``df`` and parse its final plan (AQE Final section only, so
    nodes are not double-counted against the Initial Plan echo)."""
    plan = executed_plan(df).split("== Initial Plan ==")[0]
    out = PlanSummary(
        n_shuffles=plan.count("Exchange hashpartitioning"),
        n_broadcast_joins=plan.count("BroadcastHashJoin"),
        n_sort_merge_joins=plan.count("SortMergeJoin"),
        n_nested_loop_joins=plan.count("BroadcastNestedLoopJoin"),
        has_take_ordered="TakeOrderedAndProject" in plan,
    )
    for m in re.finditer(r"FileScan parquet [^\n]*", plan):
        text = m.group(0)

        def part(name: str) -> str:
            seg = text.split(f"{name}: ", 1)
            return seg[1].split("]", 1)[0] + "]" if len(seg) == 2 else ""

        location = (
            text.split("Location:", 1)[1].split(",", 1)[0]
            if "Location:" in text
            else ""
        )
        out.scans.append(
            {
                "location": location,
                "pushed_filters": part("PushedFilters"),
                "partition_filters": part("PartitionFilters"),
                "read_schema": text.split("ReadSchema:", 1)[1]
                if "ReadSchema:" in text
                else "",
                "bucketed": "Bucketed: true" in text,
            }
        )
    return out
