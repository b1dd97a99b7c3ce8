"""Plan inspection utilities (SURVEY §3.4 / §4).

The reference exposed its optimizer output as a JSON plan dump for the web
visualizer (compiler/plandump/PlanJSONDumpGenerator). The engine's
equivalent is Catalyst's explain output, plus small audit helpers used by
tests and the bench-hardening loop to assert the plan SHAPE, not just the
results: filters reaching the scan, joins going broadcast, aggregates
running partial — the properties that decide whether a query survives a
100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (explain() prints; this returns)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def scan_pushdown(df: DataFrame) -> dict[str, list[str]]:
    """Per-scan PushedFilters / ReadSchema from the formatted plan."""
    txt = explain_str(df, "formatted")
    out: dict[str, list[str]] = {"pushed_filters": [], "read_schema": []}
    for line in txt.splitlines():
        line = line.strip()
        if line.startswith("PushedFilters:"):
            out["pushed_filters"].append(line.split(":", 1)[1].strip())
        elif line.startswith("ReadSchema:"):
            out["read_schema"].append(line.split(":", 1)[1].strip())
    return out


def join_kinds(df: DataFrame) -> list[str]:
    """Physical join operators appearing in the plan, in order."""
    txt = explain_str(df, "simple")
    kinds = []
    for token in (
        "BroadcastHashJoin",
        "SortMergeJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        kinds.extend([token] * txt.count(token))
    return kinds


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when the plan contains a map-side partial HashAggregate
    (keys=..., functions=[partial_...)."""
    txt = explain_str(df, "simple")
    return "partial_" in txt
