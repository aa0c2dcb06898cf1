"""Plan-inspection helpers: the engine treats the physical plan as a
testable artifact (SURVEY.md §4) — filters pushed to scans, pruned
ReadSchema, broadcast choices, and shuffle counts are pinned by
tests/test_plans.py and published in PLANS.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `.explain("formatted")` text of ``df`` as a string (the
    DataFrame method only prints)."""
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)
