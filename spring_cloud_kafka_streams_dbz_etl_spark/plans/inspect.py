"""Physical-plan inspection helpers (string-level, version-tolerant)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what df.explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode  # noqa: SLF001
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each parquet scan (pruning check)."""
    text = explain_str(df)
    scans: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", text):
        cols = {
            part.split(":")[0].strip()
            for part in m.group(1).split(",")
            if part.strip()
        }
        scans.append(cols)
    return scans


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)
