"""Physical-plan inspection helpers.

The reference had no optimizer to audit; this engine's scale story
depends on Catalyst choices, so tests assert plan properties instead of
eyeballing: filters/columns pushed into parquet scans, dimension joins
broadcast, shuffle counts bounded.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (explain("formatted"))."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_report(df: DataFrame) -> list[dict[str, str]]:
    """One dict per parquet scan in the plan: the read schema and pushed
    filters — the 'is pruning/pushdown actually happening' check."""
    plan = formatted_plan(df)
    scans = []
    for block in re.split(r"\n\n", plan):
        if "Scan parquet" in block:
            schema = re.search(r"ReadSchema: (.*)", block)
            pushed = re.search(r"PushedFilters: (.*)", block)
            scans.append(
                {
                    "read_schema": schema.group(1).strip() if schema else "",
                    "pushed_filters": pushed.group(1).strip() if pushed else "",
                }
            )
    return scans


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def n_nodes(df: DataFrame, operator: str) -> int:
    """Count physical-plan nodes of one operator type via the formatted
    plan's detail headers ("(4) Exchange") — the tree summary repeats
    every node, so a raw substring count double-counts."""
    return len(re.findall(rf"\(\d+\) {operator}\b", formatted_plan(df)))


def n_shuffles(df: DataFrame) -> int:
    """Count Exchange operators in the physical plan (pre-AQE estimate)."""
    return n_nodes(df, "Exchange")


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count). The difference
    across a call is the call's compile count: zero on a warm call means
    every stage came out of the codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # type: ignore[attr-defined]
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
