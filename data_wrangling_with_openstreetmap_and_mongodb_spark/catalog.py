"""Table catalog over the driver's parquet testdata.

One DataFrame per collection, mirroring the reference's "named collection"
data model (SURVEY.md §1.1) with typed columns instead of dynamic BSON.

Scale notes: all loads are plain parquet scans so Catalyst keeps predicate
pushdown / column pruning / partition pruning, and no DataFrame or row is
cached or collected here.  What is cached is each path's Spark-inferred
schema (see "table metadata" below), validated against the files' stamp on
every access, so a warm load starts no Spark job.  Loads never
repartition: a consumer with heavy per-row work rebalances with
:func:`.operators.scale.spread`.  The ``events`` table's timestamps are
exposed both raw (``ts``) and as derived, cheap-to-compute columns;
:func:`ts_micros` is the one place that knows the physical encoding (the
driver has shipped ``ts`` both as parquet TIMESTAMP(NANOS)-as-long and as
TIMESTAMP(MICROS)), so every consumer sees the same bigint
epoch-microsecond timeline either way.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

from data_wrangling_with_openstreetmap_and_mongodb_spark.session import ensure_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

NANOS_PER_HOUR = 3_600_000_000_000
MICROS_PER_HOUR = 3_600_000_000
MICROS_PER_DAY = 86_400_000_000

# --- table metadata ----------------------------------------------------------
# ``spark.read.parquet(path)`` infers the schema with a one-task Spark job on
# every call (85-115 ms on local[2], 4-core host); with the schema passed
# in, the same load starts no job.  So each parquet path keeps one record:
# its Spark-inferred schema, with the file stamp and inference confs it was
# inferred under.  The record is valid while the path's file stamp — the
# sorted (file, size, mtime_ns) of its parquet files — is unchanged; any
# rewrite ($merge/$out targets, a probe swapping a table in place) changes
# the stamp and replaces the record, so writers need not invalidate
# anything.  The confs are the session confs that change what parquet
# inference returns for the same files.  Paths that cannot be stat'ed
# (non-local filesystems) are never cached.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


# path -> (file stamp, inference confs, schema).  Each record is replaced by
# ONE assignment of an immutable tuple, so concurrent callers can at worst
# repeat an inference, never mix two.
_schemas: dict[str, tuple[tuple, tuple[str, ...], StructType]] = {}


def _parquet_files(path: str) -> list[str]:
    """The parquet data files under ``path`` (itself, when it is a file),
    skipping the ``_``/``.``-prefixed entries Spark's file listing skips."""
    if not os.path.isdir(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        found += [
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    return found


def _stamp(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """Sorted (file, size, mtime_ns) of the path's parquet files; None when
    they cannot be stat'ed."""
    try:
        return tuple(
            sorted(
                (f, st.st_size, st.st_mtime_ns)
                for f in _parquet_files(path)
                for st in [os.stat(f)]
            )
        )
    except OSError:
        return None


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers under ``spark``'s
    current confs, inferred once per file stamp and inference-conf set."""
    stamp = _stamp(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    cached = _schemas.get(path)
    if cached is None or cached[:2] != (stamp, confs):
        cached = (stamp, confs, spark.read.parquet(path).schema)
        if stamp is not None:
            _schemas[path] = cached
    return cached[2]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from an ``sf*`` directory.

    A parquet scan with the path's recorded schema: no inference job once
    warm, and each call still gets fresh attribute IDs, so self-joins stay
    safe.
    """
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(table_schema(spark, path)).parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def ts_micros(df: DataFrame, col: str = "ts") -> Column:
    """Event time as bigint microseconds since epoch, whatever the encoding.

    The testdata has shipped ``ts`` two ways: bigint nanoseconds (parquet
    TIMESTAMP(NANOS) surfaced via the ``nanosAsLong`` flag) and a native
    TIMESTAMP(MICROS) column (read as TIMESTAMP_NTZ).  Both map onto the same
    microsecond timeline — exactly what DuckDB/pandas see — so deriving every
    time bucket from this one expression keeps cross-engine hashes identical.

    Exact integer division for the long case: ts nanos (~1.7e18) exceed 2^53,
    so fp division can round a boundary and shift a derived bucket by one.
    The session timezone is pinned to UTC (session.py) so the NTZ→LTZ cast is
    wall-clock-identity on any host.
    """
    if isinstance(df.schema[col].dataType, LongType):
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def events_with_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` plus derived time columns.

    ``ts_utc`` is the event time as a plain TIMESTAMP; ``epoch_hour`` is an
    integer hour bucket that is stable across engines and cheap to group on
    (no timezone logic, pure int arithmetic inside whole-stage codegen).
    """
    ev = load_table(spark, sf_dir, "events")
    # integer `div` (not fp `/` + floor): bucket boundaries must not misround
    return (
        ev.withColumn("ts_us", ts_micros(ev))
        .withColumn("ts_utc", F.timestamp_micros(F.col("ts_us")))
        .withColumn("epoch_hour", F.expr(f"ts_us div {MICROS_PER_HOUR}"))
        .drop("ts_us")
    )


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for ``spark.sql`` entry points."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
