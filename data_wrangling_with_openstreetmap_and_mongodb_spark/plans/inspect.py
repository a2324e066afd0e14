"""Plan-property extraction from a DataFrame's physical plan."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The formatted physical plan (post-optimization, pre-AQE-finalization)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_explain(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    plan = formatted_explain(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    pf = " ".join(pushed_filters(df))
    return all(f in pf for f in fragments)


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns actually read from parquet (ReadSchema) — column pruning check."""
    plan = formatted_explain(df)
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_top_k(df: DataFrame) -> bool:
    """Sort+limit planned as TakeOrderedAndProject (no full sort)."""
    return "TakeOrderedAndProject" in executed_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Map-side combine: HashAggregate appears in partial+final pairs."""
    plan = executed_plan(df)
    return len(re.findall(r"HashAggregate", plan)) >= 2 and (
        "partial" in plan or "Partial" in plan
    )


def assert_plan(df: DataFrame, **checks: bool) -> None:
    """Assert named plan properties, e.g.::

        assert_plan(df, broadcast_join=True, top_k=True)
    """
    fns = {
        "broadcast_join": has_broadcast_join,
        "top_k": has_top_k,
        "partial_aggregation": has_partial_aggregation,
    }
    for name, expected in checks.items():
        got = fns[name](df)
        if got != expected:
            raise AssertionError(
                f"plan property {name}: expected {expected}, got {got}\n"
                + executed_plan(df)
            )
