"""rowmap.map_rows: its contract, and the inventory that keeps it the only
row-building batch loop in the package."""

from __future__ import annotations

import ast
import pathlib
import re

import pandas as pd

import data_wrangling_with_openstreetmap_and_mongodb_spark as pkg
from data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap import map_rows


def _is_row_batch_loop(stmt: ast.stmt) -> bool:
    """``for pdf in …:`` that fills a list literal and ends in
    ``if <list>: yield pd.DataFrame(<list>)``."""
    if not (
        isinstance(stmt, ast.For)
        and isinstance(stmt.target, ast.Name)
        and stmt.target.id == "pdf"
    ):
        return False
    lists = {
        t.id
        for s in stmt.body
        if isinstance(s, (ast.Assign, ast.AnnAssign)) and isinstance(s.value, ast.List)
        for t in (s.targets if isinstance(s, ast.Assign) else [s.target])
        if isinstance(t, ast.Name)
    }
    last = stmt.body[-1]
    if not (isinstance(last, ast.If) and len(last.body) == 1):
        return False
    y = getattr(last.body[0], "value", None)
    if not (isinstance(y, ast.Yield) and isinstance(y.value, ast.Call)):
        return False
    args = y.value.args
    return (
        ast.unparse(y.value.func) == "pd.DataFrame"
        and len(args) == 1
        and isinstance(args[0], ast.Name)
        and args[0].id in lists
    )


def _row_batch_loops() -> list[tuple[str, str]]:
    """(module, qualified function) of every row-building batch loop."""
    root = pathlib.Path(pkg.__file__).parent
    hits = []

    def visit(node: ast.AST, module: str, stack: list[str]) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qual = stack + [child.name]
                hits.extend(
                    (module, ".".join(qual))
                    for stmt in child.body
                    if _is_row_batch_loop(stmt)
                )
                visit(child, module, qual)
            else:
                visit(child, module, stack)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(root).as_posix(), [])
    return hits


def test_map_rows_is_the_only_row_batch_loop():
    """Per-row Python stages hand a row function to map_rows instead of
    pasting the batch loop.  A new hit here is a loop to port."""
    assert _row_batch_loops() == [("rowmap.py", "map_rows.run")]


class _CapturingFrame:
    """Stands in for a DataFrame: records the projection and the batch
    function map_rows hands to mapInPandas."""

    def select(self, *cols):
        self.cols = list(cols)
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def test_batch_without_rows_yields_no_frame():
    df = map_rows(
        _CapturingFrame(), ["x"], lambda x: [] if x < 10 else [{"x": x}], "x long"
    )
    assert df.cols == ["x"]
    assert list(df.fn(iter([pd.DataFrame({"x": [1, 2, 3]})]))) == []
    frames = list(
        df.fn(iter([pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [3, 11, 12]})]))
    )
    assert len(frames) == 1
    assert frames[0]["x"].tolist() == [11, 12]


def test_one_to_many_rows_keep_input_order(spark):
    """Row i fans out to i % 3 rows (0, 1 or 2); within one partition the
    output is every input row's rows, in input order."""
    src = spark.range(0, 12, 1, 1)

    def fan_out(i):
        return ({"id": i, "k": k} for k in range(i % 3))

    out = map_rows(src, ["id"], fan_out, "id long, k long").collect()
    assert [(r["id"], r["k"]) for r in out] == [
        (i, k) for i in range(12) for k in range(i % 3)
    ]


def test_only_cols_reach_the_map(spark):
    """The MapInPandas node reads only the projected columns, over a map-only
    plan: no exchange, the input's partitioning kept."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.plans import executed_plan

    src = spark.range(0, 8, 1, 2).selectExpr("id AS a", "id * 2 AS b", "id * 3 AS c")
    df = map_rows(src, ["b"], lambda b: [{"b2": b + 1}], "b2 long")
    plan = executed_plan(df)
    args = re.search(r"MapInPandas \w+\(([^)]*)\)", plan).group(1)
    assert [re.sub(r"#\d+L?$", "", a.strip()) for a in args.split(",")] == ["b"], plan
    assert "Exchange" not in plan, plan
    assert df.rdd.getNumPartitions() == 2
    assert sorted(r["b2"] for r in df.collect()) == [2 * i + 1 for i in range(8)]
