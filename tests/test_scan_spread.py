"""The r15 scan-parallelism rebalance (catalog.load_table, OPT-IN via
spread=True for Python-heavy consumers): an unsplittable
(single-row-group), non-dimension-sized parquet table is round-robin
repartitioned to the scheduler's parallelism; dimension-sized tables,
already-splittable inputs, and every call site that does not opt in are
left alone; predicate pushdown and column pruning still reach the scan
below the rebalance exchange."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from data_wrangling_with_openstreetmap_and_mongodb_spark import catalog
from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table


@pytest.fixture()
def prod_gate(monkeypatch):
    """Run with the production byte floor (the suite-wide conftest forces
    the spread on; gating behaviour needs the shipped default)."""
    monkeypatch.setattr(catalog, "SPREAD_MIN_BYTES", 256 * 1024)


def _write(tmp_path, name: str, n_rows: int, row_group_size: int | None = None):
    # ~90 bytes/row of incompressible-ish payload so byte thresholds are easy
    # to steer with n_rows
    t = pa.table(
        {
            "id": pa.array(range(n_rows), pa.int64()),
            "pad": pa.array(
                [os.urandom(40).hex() for _ in range(n_rows)], pa.string()
            ),
        }
    )
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(t, path, row_group_size=row_group_size or n_rows)
    return path


def _scan_partitions(df) -> int:
    return df.rdd.getNumPartitions()


def test_unsplittable_large_table_spreads(spark, tmp_path, prod_gate):
    _write(tmp_path, "big", 5000)  # one row group, ~450 KB > 256 KiB floor
    df = load_table(spark, str(tmp_path), "big", spread=True)
    assert _scan_partitions(df) == spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange RoundRobinPartitioning" in plan
    # and the rebalance changes no rows
    assert df.count() == 5000
    assert df.agg(F.sum("id")).first()[0] == 5000 * 4999 // 2


def test_dimension_sized_table_is_left_alone(spark, tmp_path, prod_gate):
    _write(tmp_path, "dim", 100)  # ~9 KB — under the floor
    df = load_table(spark, str(tmp_path), "dim", spread=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_splittable_input_is_not_reshuffled(spark, tmp_path, prod_gate):
    # >= defaultParallelism row groups: Spark can split it natively, the
    # rebalance must not add an exchange (the 100 TB no-op path)
    _write(tmp_path, "split", 5000, row_group_size=500)  # 10 row groups >= 4
    df = load_table(spark, str(tmp_path), "split", spread=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pushdown_and_pruning_survive_the_spread(spark, tmp_path, prod_gate):
    from data_wrangling_with_openstreetmap_and_mongodb_spark.plans.inspect import (
        formatted_explain,
    )

    _write(tmp_path, "big2", 5000)
    df = (
        load_table(spark, str(tmp_path), "big2", spread=True)
        .filter(F.col("id") > 4000)
        .select("id")
    )
    plan = formatted_explain(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,4000)]" in plan
    # ReadSchema pruned to the one used column, below the exchange
    assert "ReadSchema: struct<id:bigint>" in plan
    assert df.count() == 999


def test_env_floor_override(spark, tmp_path, monkeypatch):
    _write(tmp_path, "tiny", 50)
    monkeypatch.setattr(catalog, "SPREAD_MIN_BYTES", 1)
    df = load_table(spark, str(tmp_path), "tiny", spread=True)
    assert _scan_partitions(df) == spark.sparkContext.defaultParallelism


def test_default_is_no_spread(spark, tmp_path, prod_gate):
    _write(tmp_path, "big3", 5000)
    df = load_table(spark, str(tmp_path), "big3")  # no opt-in
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
