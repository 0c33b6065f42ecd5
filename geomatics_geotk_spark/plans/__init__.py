"""Plan inspection.

Helpers to assert scale-hygiene properties of Catalyst plans (filters
pushed to the parquet scan, broadcast joins where expected).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")  # noqa: SLF001


def plan_has_broadcast(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def plan_has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    return bool(m and m.group(1).strip())


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names reaching the parquet scan (pruning check)."""
    plan = formatted_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [c.split(":")[0] for c in m.group(1).split(",") if c]
