"""Physical-plan inspection utilities.

The scale rules this engine is built around — prune partitions, push
filters to the scan, broadcast dimensions, never shuffle more than the
operator needs — are all observable in the executed plan. These helpers
make them assertable, so plan shape is part of the test surface
(tests/test_relational.py, test_bucketed.py) instead of something checked
by eye in PLANS.md.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "executed") -> str:
    """The plan as text. ``mode='executed'`` gives the physical plan tree
    (stable for substring assertions); ``'formatted'`` the numbered
    explain output."""
    if mode == "executed":
        return df._jdf.queryExecution().executedPlan().toString()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _exchange_nodes(tree: str) -> int:
    """Shuffle Exchange nodes in a plan tree's text, executed or
    formatted: lines whose node name is exactly ``Exchange``. Line-based
    because ``BroadcastExchange`` must not count, and an executed
    ``ReusedExchange [...], Exchange hashpartitioning(...)`` line EMBEDS
    the description of the node it reuses (substring matching would
    double-count it)."""
    return sum(
        line.lstrip(" :+-*").startswith("Exchange ") for line in tree.splitlines()
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes (broadcast exchanges excluded) —
    the quantity to minimize; every one is a full materialization of its
    input across the cluster."""
    return _exchange_nodes(plan_str(df))


def broadcast_join_count(df: DataFrame) -> int:
    """BroadcastHashJoin count — dimension joins should land here, not in
    SortMergeJoin."""
    return plan_str(df).count("BroadcastHashJoin")


def sortmerge_join_count(df: DataFrame) -> int:
    return plan_str(df).count("SortMergeJoin")


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters clause reaching a scan (formatted explain) —
    empty brackets mean a filter is being evaluated post-scan."""
    return re.findall(r"PushedFilters: \[(.*?)\]", plan_str(df, "formatted"))


def scan_locations(df: DataFrame) -> list[str]:
    """Scan Location lines (formatted explain) — for asserting partition /
    shard pruning. NB: the path list is display-truncated; assert
    membership, not equality."""
    return re.findall(r"Location: \S+ \[(.*?)\]", plan_str(df, "formatted"))


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Count of WholeStageCodegen spans — wider is better; a span break in
    a hot path usually means a non-codegen expression crept in. Read from
    the formatted explain's ``[codegen id : N]`` markers — under AQE these
    exist only after the plan has executed, so run an action on ``df``
    first (returns 0 on a never-executed adaptive plan)."""
    return len(set(re.findall(r"codegen id : (\d+)", plan_str(df, "formatted"))))


def plan_summary(text: str) -> dict[str, int]:
    """Plan-shape counts of one ``explain("formatted")`` text — the
    columns of ``plans/<round>/<stage>_summary.tsv``
    (plans/capture_plans.py). Exchanges are counted in the tree block
    only (the text before the first blank line), so a node's details
    section does not count it twice; every other count is over the
    whole text."""
    return {
        "exchanges": _exchange_nodes(text.split("\n\n")[0]),
        "bhj": text.count("BroadcastHashJoin"),
        "smj": text.count("SortMergeJoin"),
        "shj": text.count("ShuffledHashJoin"),
        "bnl": text.count("BroadcastNestedLoopJoin"),
        "cartesian": text.count("CartesianProduct"),
        "batch_py": text.count("BatchEvalPython"),
        "arrow_py": text.count("ArrowEvalPython"),
        "map_pandas": text.count("MapInPandas") + text.count("MapInArrow"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", text)),
        "scans": text.count("Scan parquet"),
        "sorts": len(re.findall(r"^\(\d+\) Sort\b", text, re.M)),
        "window": len(re.findall(r"^\(\d+\) Window", text, re.M)),
    }
