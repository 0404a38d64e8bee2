"""Physical-plan assertions — the engine's scale guardrails as code.

The reference hand-rolled its physical concerns (predicate pushdown into the
API query, time-range splits, fusion breaks — SURVEY §4); on Spark those are
Catalyst's job, and THESE checks make sure the plans we ship actually get
them: filters reaching the parquet scan, pruned read schemas, broadcast
joins where we asked for them, and no Python eval in JVM-only paths. Used by
tests and by tools/plan_audit.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_no_python(df: DataFrame, msg: str = "") -> None:
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        f"Python eval leaked into a JVM-only path {msg}:\n{plan}"
    )


def assert_pushed_filters(df: DataFrame, fragment: str) -> None:
    plan = physical_plan(df)
    assert "PushedFilters: [" in plan and fragment in plan, (
        f"expected filter on {fragment!r} pushed to the scan:\n{plan}"
    )


def assert_read_schema_only(df: DataFrame, cols: set[str]) -> None:
    """The scan must read exactly ``cols`` (column pruning worked)."""
    import re

    plan = physical_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, f"no ReadSchema in plan:\n{plan}"
    read = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read == cols, f"scan reads {read}, expected {cols}"


def assert_broadcast_join(df: DataFrame) -> None:
    assert "BroadcastHashJoin" in physical_plan(df), (
        f"expected BroadcastHashJoin:\n{physical_plan(df)}"
    )
