"""Physical-plan inspection helpers (SURVEY.md §4 discipline).

Used by tests to pin the plans we want: filters pushed to the parquet scan,
columns pruned (ReadSchema), small dimensions broadcast, Python confined to
single ArrowEvalPython islands inside whole-stage-codegen pipelines.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _scan_blocks(df: DataFrame, table_hint: str = "") -> list[str]:
    """Formatted-plan paragraphs describing parquet scans."""
    blocks = []
    for para in plan_str(df).split("\n\n"):
        if "Scan parquet" in para and (not table_hint or table_hint in para):
            blocks.append(para)
    return blocks


def read_schema_of(df: DataFrame, table_hint: str = "") -> list[str]:
    """Columns actually read by the (first matching) parquet scan."""
    for body in _scan_blocks(df, table_hint):
        m = re.search(r"ReadSchema: struct<([^>]*)>", body)
        if m:
            return [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
    return []


def pushed_filters_of(df: DataFrame, table_hint: str = "") -> str:
    for body in _scan_blocks(df, table_hint):
        m = re.search(r"PushedFilters: \[(.*)\]", body)
        if m and m.group(1):
            return m.group(1)
    return ""


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_str(df)


def python_eval_nodes(df: DataFrame) -> int:
    """Distinct Python-boundary nodes in the physical plan."""
    return len(
        re.findall(
            r"\(\d+\) (?:ArrowEvalPython|MapInPandas|BatchEvalPython|FlatMapGroupsInPandas)",
            plan_str(df),
        )
    )
