"""Plan inspection helpers — keep the physical plans honest.

Used by tests/test_plans.py to lock in the plan properties that matter at
100 TB: column pruning reaching the parquet scan, predicate pushdown,
partition pruning on the per-predicate edge layout, broadcast sides.
A regression here (e.g. a refactor that inserts a Python UDF before a
filter) is a silent 100× slowdown at scale — so it fails CI instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    je = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return je.explainString(mode)


def read_schemas(plan: str) -> list[str]:
    return [l.strip() for l in plan.splitlines() if l.strip().startswith("ReadSchema")]


def pushed_filters(plan: str) -> list[str]:
    return [l.strip() for l in plan.splitlines() if l.strip().startswith("PushedFilters")]


def partition_filters(plan: str) -> list[str]:
    return [l.strip() for l in plan.splitlines() if l.strip().startswith("PartitionFilters")]


def has_broadcast(plan: str) -> bool:
    return "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def physical_operators(df: DataFrame) -> list[str]:
    """Operator names of the physical plan (the adaptive plan's current
    one; call before executing `df`). A cached relation is one leaf scan:
    the plan that computed it is not descended into."""
    names, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        names.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def exchange_count(df: DataFrame) -> int:
    """Shuffle and broadcast exchanges in the physical plan of `df`."""
    return sum("Exchange" in name for name in physical_operators(df))
