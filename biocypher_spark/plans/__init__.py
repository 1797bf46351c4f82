"""Plan inspection: the formatted physical plan of a DataFrame, as
`tools/explain_plans.py` records it in PLANS.md and the plan tests assert
on it (pushed filters reach the parquet scan, small sides broadcast, the
hot path stays inside whole-stage codegen)."""

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
