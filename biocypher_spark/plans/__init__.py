"""Plan inspection utilities: capture and assert on physical-plan quality.

These helpers exist so plan properties can be TESTED, not just eyeballed:
pushed filters reach the parquet scan, small sides broadcast, and the hot
path stays inside whole-stage codegen."""

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_has(df: DataFrame, *needles: str) -> bool:
    plan = formatted_plan(df)
    return all(n in plan for n in needles)


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges (BroadcastExchange excluded)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange\b", formatted_plan(df), re.M))


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)
