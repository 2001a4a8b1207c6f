"""Physical-plan inspection helpers.

The reference has no plan layer at all (SURVEY.md §4) — on Spark the
optimizer does the work, and this module makes its decisions
*testable*: predicate pushdown, column pruning, broadcast-join
selection, shuffle counts, and whole-stage codegen coverage are
asserted in tests/test_plans.py so a regression in plan quality fails
CI, not just the benchmark.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every scan in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def scan_columns(df: DataFrame) -> list[set[str]]:
    """ReadSchema column sets per scan — for column-pruning asserts."""
    text = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = {
            c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()
        }
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (broadcast exchanges excluded). Counted in SIMPLE mode — formatted
    mode splits the operator name from its partitioning arguments, so
    the pattern would never match there."""
    text = explain_str(df, "simple")
    return len(
        re.findall(
            r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition"
            r"|shufflepartitionidpassthrough)",
            text,
        )
    )


def wholestage_codegen_spans(df: DataFrame) -> int:
    """How many WholeStageCodegen regions the plan compiles into
    (distinct ``*(n)`` ids in simple-mode explain)."""
    ids = set(re.findall(r"\*\((\d+)\)", explain_str(df, "simple")))
    return len(ids)
