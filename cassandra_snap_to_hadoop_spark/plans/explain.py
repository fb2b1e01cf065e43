"""Plan digests and assertions (SURVEY §4).

Catalyst owns optimization; the engine's job is to declare plans that let it
— these helpers make that checkable.  tests/test_plans.py enforces the
engine-wide invariants (no cartesian products, no row-at-a-time Python in
any checked query, filters reaching the parquet scan, dims broadcasting).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (what ``df.explain`` prints)."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def optimized_plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def count_shuffles(df: DataFrame) -> int:
    """Number of Exchange operators — each is a full shuffle of its input.
    The first thing to look at when a query is slow at scale."""
    return len(re.findall(r"\bExchange\b", plan_string(df, "simple")))


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan_string(df, "simple")))


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan — empty means the predicate is
    evaluated post-scan (row-group skipping lost)."""
    m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan_string(df, "formatted"))
    return "; ".join(m)


def read_schema(df: DataFrame) -> str:
    """ReadSchema of the parquet scans — wider than the query needs means
    column pruning failed."""
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan_string(df, "formatted"))
    return "; ".join(m)


def scan_columns(df: DataFrame) -> set[str]:
    cols: set[str] = set()
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan_string(df, "formatted")):
        for field in schema.split(","):
            if ":" in field:
                cols.add(field.split(":")[0].strip())
    return cols


def uses_cartesian_product(df: DataFrame) -> bool:
    return "CartesianProduct" in plan_string(df, "simple")


def uses_rowwise_python(df: DataFrame) -> bool:
    """True if the plan contains row-at-a-time Python eval (BatchEvalPython)
    — the slow path the engine bans; Arrow-vectorized exec (ArrowEvalPython,
    FlatMapGroupsInPandas, MapInPandas, BatchEvalPythonUDTF) is the
    sanctioned Python boundary."""
    s = plan_string(df, "simple")
    return bool(re.search(r"\bBatchEvalPython\b", s))


def unpartitioned_window_count(df: DataFrame) -> int:
    """Number of window operators with an EMPTY partition spec — each one
    moves its entire input through a single task (Spark logs "No Partition
    Defined for Window operation"), the canonical scale killer that
    operators/layout.py global_rank / global_cumsum / ntile_expr exist to
    avoid.  Counted by walking the JVM physical plan tree (robust against
    plan-string formatting), including inside AQE wrappers."""

    def walk(node) -> int:
        cnt = 0
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"):
            if node.partitionSpec().isEmpty():
                cnt += 1
        children = node.children()
        for i in range(children.size()):
            cnt += walk(children.apply(i))
        # AdaptiveSparkPlanExec hides its input plan outside children().
        if cls == "AdaptiveSparkPlanExec":
            cnt += walk(node.initialPlan())
        return cnt

    return walk(df._jdf.queryExecution().executedPlan())
