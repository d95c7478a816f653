"""Physical-plan inspection helpers for the plan-shape tests.

They enforce the engine's scale contracts: cell/georef
pipelines stay inside whole-stage codegen (no Python eval nodes), joins
that should broadcast do broadcast, and shuffle counts stay bounded.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
             "PythonMapInArrow", "AggregateInPandas")


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_python_eval(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return any(n in plan for n in _PY_NODES)


def assert_pure_jvm(df: DataFrame) -> None:
    plan = physical_plan(df)
    bad = [n for n in _PY_NODES if n in plan]
    assert not bad, f"plan contains Python eval nodes {bad}:\n{plan}"


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded)."""
    plan = physical_plan(df)
    return len(re.findall(r"(?<!Broadcast)Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)
