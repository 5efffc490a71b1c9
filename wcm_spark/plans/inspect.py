"""Physical-plan inspection helpers — the engine's own .explain auditors.

At 100 TB the difference between a good and a bad plan is whether filters
reached the parquet scan, whether the small side broadcast, and whether the
hot expressions stayed inside whole-stage codegen. These helpers parse
``explain("formatted")`` output so tests (tests/test_plans_streaming.py) can ASSERT
plan shape instead of hoping: a regression that drops a pushed filter or
flips a broadcast join to shuffle fails CI, not a cluster bill.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "formatted_plan",
    "pushed_filters",
    "read_schema_columns",
    "has_broadcast_join",
    "shuffle_count",
    "codegen_span_count",
    "scan_count",
]


def formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across every parquet scan in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Union of columns actually read from parquet (column pruning check)."""
    plan = formatted_plan(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def shuffle_count(df: DataFrame) -> int:
    return formatted_plan(df).count("Exchange hashpartitioning") + formatted_plan(df).count(
        "Exchange rangepartitioning"
    )


def codegen_span_count(df: DataFrame) -> int:
    return len(re.findall(r"WholeStageCodegen \(\d+\)", formatted_plan(df)))


def scan_count(df: DataFrame) -> int:
    return formatted_plan(df).count("Scan parquet")
