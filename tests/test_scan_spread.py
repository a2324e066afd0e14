"""The package's one rebalance, operators.scale.spread: a one-row-group
parquet scan is round-robin repartitioned to the scheduler's parallelism;
predicate pushdown and column pruning still reach the scan below the
exchange; a plain load_table adds no exchange.  The inventory keeps spread
the only defaultParallelism repartition, scale.cut_lineage the only
materialization (no persist or cache calls), similarity._seq_cosine the
only numpy cosine, and parquet footer reads out of the package."""

from __future__ import annotations

import ast
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import data_wrangling_with_openstreetmap_and_mongodb_spark as pkg
from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import spread


def _write(tmp_path, name: str, n_rows: int) -> str:
    t = pa.table(
        {
            "id": pa.array(range(n_rows), pa.int64()),
            "pad": pa.array([os.urandom(40).hex() for _ in range(n_rows)], pa.string()),
        }
    )
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(t, path, row_group_size=n_rows)  # one row group: one split
    return path


def test_unsplittable_large_table_spreads(spark, tmp_path):
    _write(tmp_path, "big", 5000)
    df = spread(load_table(spark, str(tmp_path), "big"))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan
    # and the rebalance changes no rows
    assert df.count() == 5000
    assert df.agg(F.sum("id")).first()[0] == 5000 * 4999 // 2


def test_pushdown_and_pruning_survive_the_spread(spark, tmp_path):
    from data_wrangling_with_openstreetmap_and_mongodb_spark.plans.inspect import (
        formatted_explain,
    )

    _write(tmp_path, "big2", 5000)
    df = spread(load_table(spark, str(tmp_path), "big2")).filter(F.col("id") > 4000).select("id")
    plan = formatted_explain(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,4000)]" in plan
    # ReadSchema pruned to the one used column, below the exchange
    assert "ReadSchema: struct<id:bigint>" in plan
    assert df.count() == 999


def test_default_is_no_spread(spark, tmp_path):
    _write(tmp_path, "big3", 5000)
    df = load_table(spark, str(tmp_path), "big3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _package_modules():
    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), ast.parse(path.read_text())


def _parallelism_repartitions() -> list[tuple[str, str]]:
    """(module, qualified function) of every ``.repartition(`` call whose
    arguments name ``defaultParallelism``, directly or through a local
    variable assigned from it in the same function."""
    hits = []

    def names_parallelism(node: ast.AST, tainted: set[str]) -> bool:
        return any(
            (isinstance(n, ast.Attribute) and n.attr == "defaultParallelism")
            or (isinstance(n, ast.Name) and n.id in tainted)
            for n in ast.walk(node)
        )

    def visit(node: ast.AST, module: str, stack: list[str]) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qual = stack + [child.name]
                tainted = {
                    t.id
                    for n in ast.walk(child)
                    if isinstance(n, ast.Assign) and names_parallelism(n.value, set())
                    for t in n.targets
                    if isinstance(t, ast.Name)
                }
                hits.extend(
                    (module, ".".join(qual))
                    for n in ast.walk(child)
                    if isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "repartition"
                    and any(
                        names_parallelism(a, tainted)
                        for a in [*n.args, *(k.value for k in n.keywords)]
                    )
                )
                visit(child, module, qual)
            else:
                visit(child, module, stack)

    for module, tree in _package_modules():
        visit(tree, module, [])
    return sorted(set(hits))


def test_spread_is_the_only_parallelism_repartition():
    """A stage that needs the whole machine off a one-split scan calls
    spread instead of pasting the repartition.  A new hit is a copy to
    port."""
    assert _parallelism_repartitions() == [("operators/scale.py", "spread")]


def _calls(match) -> list[tuple[str, str]]:
    """(module, qualified function) of every call in the package whose
    callee node satisfies ``match``."""
    hits = []

    def visit(node: ast.AST, module: str, stack: list[str]) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, module, stack + [child.name])
                continue
            if isinstance(child, ast.Call) and match(child.func):
                hits.append((module, ".".join(stack)))
            visit(child, module, stack)

    for module, tree in _package_modules():
        visit(tree, module, [])
    return sorted(set(hits))


def test_cut_lineage_is_the_only_checkpoint():
    """Iterative operators, $merge and multi-consumer frames cut lineage
    through cut_lineage, so the session's checkpoint dir, not each call
    site, decides between a reliable and a local checkpoint.  The streaming drive's per-batch
    DISK_ONLY checkpoint is not an iterative cut."""
    assert _calls(
        lambda f: isinstance(f, ast.Attribute)
        and f.attr in ("checkpoint", "localCheckpoint")
    ) == [
        ("operators/scale.py", "cut_lineage"),
        ("streaming/drive.py", "run_available_now.materialize"),
    ]


def test_no_module_persists():
    """Multi-consumer frames are cut with cut_lineage, not cached: a cache
    entry outlives the call that made it, and a later call with the same
    plan reads it."""
    assert _calls(
        lambda f: isinstance(f, ast.Attribute) and f.attr in ("persist", "cache")
    ) == []


def test_seq_cosine_is_the_only_numpy_cosine():
    """Every packed cosine (the pair kernel behind embedding_near_pairs and
    semantic_dedup_pairs, and nearest-centroid assignment) goes through
    similarity._seq_cosine, whose dims-sequential order keeps the cosines
    bit-identical to the SQL oracles.  A new np.multiply.outer call is a
    pasted copy to port."""
    assert _calls(
        lambda f: isinstance(f, ast.Attribute)
        and f.attr == "outer"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "multiply"
    ) == [("operators/similarity.py", "_seq_cosine")]


def test_no_module_reads_parquet_footers():
    """Physical choices come from the data or from Spark's own statistics,
    not from pyarrow footer reads."""
    readers = [
        module
        for module, tree in _package_modules()
        for n in ast.walk(tree)
        if (isinstance(n, ast.Import) and any(a.name == "pyarrow.parquet" for a in n.names))
        or (
            isinstance(n, ast.ImportFrom)
            and (
                n.module == "pyarrow.parquet"
                or (n.module == "pyarrow" and any(a.name == "parquet" for a in n.names))
            )
        )
    ]
    assert readers == []
