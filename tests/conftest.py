from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")

# Hypothesis example budget (r16 — VERDICT r15 ask #3: fit the default
# suite inside the driver's pytest window).  Property tests declare their
# FULL example counts and scale them through this factor; the default 0.35
# keeps every property exercised every run at ~1/3 depth, and
# SPARK_GRAFT_FUZZ_BUDGET=1.0 restores the full tiers.
FUZZ_BUDGET = float(os.environ.get("SPARK_GRAFT_FUZZ_BUDGET", "0.35"))


def fuzz_examples(full: int) -> int:
    """Budgeted hypothesis ``max_examples``: ``full`` scaled by
    ``SPARK_GRAFT_FUZZ_BUDGET``, floored at 5 so shrunk tiers still
    explore."""
    return max(5, int(full * FUZZ_BUDGET))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from data_wrangling_with_openstreetmap_and_mongodb_spark.session import get_spark

    spark = get_spark("tests", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    # a checkpoint dir turns every later lineage cut reliable, so a test
    # that sets one must unset it (tests/test_graph.py::checkpoint_dir)
    leaked = spark.sparkContext.getCheckpointDir()
    spark.stop()
    assert leaked is None, f"a test left checkpoint dir {leaked} set"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the driver's pre-registered views."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "soak: budgeted seeded codec fuzz slice (tools/codec_soak.py tiers)",
    )
