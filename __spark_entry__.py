"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``data_wrangling_with_openstreetmap_and_mongodb_spark``;
this module only adapts the registry to the driver's calling convention.

Python workers on a caller's own session: ``ensure_runtime_confs`` applies
the runtime-settable confs to any session, but a session that
``session.get_spark`` did not build keeps Spark's stock Python daemon, with
only the calling process's cwd on the worker path.  So a query whose
``mapInPandas`` or UDF code imports the engine needs the repo root as the
cwd or on ``PYTHONPATH``, and each Python task pays the stock worker's
re-read of the zip archives on its path.  ``spark.python.daemon.module``
is a static conf, so no call on a running session can switch the daemon.
The same holds for ``spark.python.sql.dataFrameDebugging.enabled``, which
``get_spark`` sets false: a caller's own session keeps PySpark's
per-Column call-site capture, and with it the Python file and line in an
error's DataFrame query context, at a few py4j round trips per Column
function call while a plan is built.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES, driver_catalog
from data_wrangling_with_openstreetmap_and_mongodb_spark.session import ensure_runtime_confs

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ensure_runtime_confs(spark)
    return QUERIES["pricing_summary"].fn(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Exposes the curated driver catalog (oracle-bearing queries first, capped at
    the driver's correctness window); the full registry — including the hidden
    near-duplicate shapes — stays under tests/test_oracle_parity.py.
    """

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_runtime_confs(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(q.fn) for name, q in driver_catalog().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted for non-SQL-expressible ops."""
    return {
        name: q.oracle for name, q in driver_catalog().items() if q.oracle is not None
    }
