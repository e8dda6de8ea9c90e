"""Physical-plan introspection: the programmatic form of
``df.explain("formatted")``.

These helpers exist because plan properties ARE correctness at scale: a
filter that stops pushing down, a dimension join that flips from broadcast
to sort-merge, or a theta join that lands as BroadcastNestedLoop changes a
100 TB job from hours to never. Operators assert their own plan shape in
tests (tests/test_plans.py) instead of eyeballing explain output.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` as a string (no stdout capture needed)."""
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def join_kinds(df: DataFrame) -> list[str]:
    """Physical join operators in plan order."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        formatted_plan(df),
    )
