"""Physical-plan inspection helpers.

The engine's 100 TB contract is enforced at the *plan* level: filters
must reach the scan, projections must prune, small dims must broadcast,
Python must stay out of relational pipelines. These helpers expose the
formatted physical plan as checkable facts, used by tests/test_plans.py
and available for ad-hoc audits (`.explain` grepping, productized).

The reference has no planner to audit (SURVEY.md §4 — every example IS
its physical plan); its manual idioms (filter-early HotItems.java:66-74,
broadcast-dim BroadcastDimension.java:100, pre-aggregation
HotItems.java:76-78) are exactly the properties asserted here.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The plan `df.explain('formatted')` would print, as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's file scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Union of column names the plan's scans actually read."""
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        for field in m.group(1).split(","):
            if ":" in field:
                cols.add(field.split(":")[0].strip())
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


_EXCHANGE_NODE = re.compile(r"^[\s:+\-*]*Exchange \(\d+\)")
_BROADCAST_NODE = re.compile(r"^[\s:+\-*]*BroadcastExchange \(\d+\)")
_JOIN_NODE = re.compile(r"^[\s:+\-*]*\w+Join ")


def _ran_plan_tree(df: DataFrame):
    """The formatted plan's lines; on the tree, one per node. Once AQE
    has executed the plan, the tree prints its final plan and, below an
    ``== Initial Plan ==`` marker, the plan it replaced; only the final
    one ran, so the marker's indented branch is skipped."""
    skip_below = None
    for line in formatted_plan(df).splitlines():
        indent = len(line) - len(line.lstrip(" :|"))
        if skip_below is not None and line.strip() and indent > skip_below:
            continue
        skip_below = indent if "== Initial Plan ==" in line else None
        yield line


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan that runs (excluding broadcast
    exchanges) — the number every operator fights to minimize."""
    return sum(bool(_EXCHANGE_NODE.match(ln)) for ln in _ran_plan_tree(df))


def broadcast_count(df: DataFrame) -> int:
    """Broadcast exchanges built by the plan that runs; one reused
    through ``ReusedExchange`` is built once and counted once."""
    return sum(bool(_BROADCAST_NODE.match(ln)) for ln in _ran_plan_tree(df))


def join_count(df: DataFrame) -> int:
    """Join operators of every kind in the plan that runs."""
    return sum(bool(_JOIN_NODE.match(ln)) for ln in _ran_plan_tree(df))


def python_eval_nodes(df: DataFrame) -> list[str]:
    """Python-boundary operators in the plan. Empty for relational
    pipelines; intentional for NFA/codec/stateful operators."""
    plan = formatted_plan(df)
    return [
        node
        for node in ("BatchEvalPython", "ArrowEvalPython",
                     "FlatMapGroupsInPandas", "MapInPandas",
                     "FlatMapGroupsInPandasWithState")
        if node in plan
    ]
