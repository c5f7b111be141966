"""Physical-plan introspection helpers: make plan shape testable.

The scale contract ("filters reach the scan", "dims broadcast", "top-n
doesn't global-sort") only holds if someone checks; these helpers let
tests assert on the formatted plan so regressions in query authoring
(a filter moved after a UDF, a broadcast hint dropped) fail CI instead
of silently costing a full shuffle at 100 TB.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

#: A numbered operator line of the formatted plan, e.g.
#: ``(7) HashAggregate [codegen id : 2]`` or ``(1) Scan parquet ``.
_OPERATOR_LINE = re.compile(r"^\(\d+\) ([^\[]+)")


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lines from parquet scans."""
    return [
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    ]


def scan_columns(df: DataFrame) -> list[str]:
    """ReadSchema lines — what each scan actually reads (pruning)."""
    return [
        line.strip() for line in formatted_plan(df).splitlines() if "ReadSchema" in line
    ]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def operator_counts(plan: str) -> Counter:
    """Operator name -> number of its numbered lines in ``plan``, a
    formatted plan."""
    return Counter(
        m.group(1).strip()
        for line in plan.splitlines()
        if (m := _OPERATOR_LINE.match(line.strip()))
    )


def count_shuffles(df: DataFrame) -> int:
    ops = operator_counts(formatted_plan(df))
    return sum(n for op, n in ops.items() if op.startswith("Exchange"))


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)
