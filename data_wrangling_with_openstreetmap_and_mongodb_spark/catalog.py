"""Table catalog over the driver's parquet testdata.

One DataFrame per collection, mirroring the reference's "named collection"
data model (SURVEY.md §1.1) with typed columns instead of dynamic BSON.

Scale notes: all loads are plain parquet scans so Catalyst keeps predicate
pushdown / column pruning / partition pruning, and no DataFrame or row is
cached or collected here.  What is cached is per-path table METADATA (the
Spark-inferred schema and the footer layout/row count, see "table metadata"
below), validated against the files' stamp on every access, so a warm load
starts no Spark job.  The ``events`` table's timestamps are exposed both raw
(``ts``) and as derived, cheap-to-compute columns; :func:`ts_micros` is the
one place that knows the physical encoding (the driver has shipped ``ts``
both as parquet TIMESTAMP(NANOS)-as-long and as TIMESTAMP(MICROS)), so every
consumer sees the same bigint epoch-microsecond timeline either way.
"""

from __future__ import annotations

import os
import warnings
from dataclasses import dataclass

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

# --- scan-parallelism floor (r15, guide §2.5 "input skew: one huge
# unsplittable file") -------------------------------------------------------
# A parquet SCAN cannot parallelize beyond its row groups: Spark's
# size-based splits assign each row group wholly to the split containing its
# midpoint, so a file with one row group yields ONE non-empty partition no
# matter what maxPartitionBytes / minPartitionNum say.  The driver's testdata
# is exactly that shape (every sf0.x table = one file, one row group), which
# serialized every downstream stage — worst for the Arrow-batched Python
# codec stages, which ran on 1 of N cores.
#
# Remedy (measured, OPTIMIZATION_r15.md): OPT-IN per call site.  When the
# consumer's per-row cost is high (the Python codec/synthesize stages:
# ~1-40 ms/row), ``load_table(..., spread=True)`` rebalances the scan with
# a round-robin repartition once the footer gate agrees (row_groups <
# cores, bytes above dimension-size).  Catalyst pushes filters and prunes
# columns through the Repartition node, so the exchange carries only the
# columns the Python stage needs (doc_id alone for the synthesize paths).
# The A/B measurement that made this opt-in rather than blanket: for
# JVM-cheap consumers (aggregations/joins, whole-stage codegen at ~10M
# rows/s/core) shuffling the table costs MORE than the single-partition
# scan it parallelizes — hourly_event_rollup 0.74→1.11 s, profile_orders
# 0.62→1.25 s, approx_distinct_users 1.02→2.55 s with a blanket spread,
# while the Python-bound codec family wins 2-4× (multimodal_jpeg_decode
# 6.42→1.53 s).  Guide §8's rule in miniature: rebalance the lightweight
# proxy ahead of expensive per-row work; never shuffle bytes that codegen
# would chew through in place.
#
# At 100 TB the gate self-disables: real tables have thousands of row
# groups (>= cores), so no shuffle is added — the rebalance fires precisely
# on unsplittable inputs, where it is the documented fix.  The byte floor
# below keeps dimension tables exchange-free.  The gate's row-group and
# byte counts come from the table-metadata record below, so they follow
# every rewrite of the path.

# Dimension-size floor for the scan rebalance.  ``load_table`` reads it per
# call, so the test suite can patch it to force the spread on at tiny SFs:
# the parity gate must exercise the plan shape larger SFs produce.
SPREAD_MIN_BYTES = 256 * 1024


# --- table metadata ----------------------------------------------------------
# ``spark.read.parquet(path)`` infers the schema with a one-task Spark job on
# every call (85-115 ms on local[2], 4-core host); with the schema passed
# in, the same load starts no job.  So each parquet path keeps one record:
# the Spark-inferred schema plus the footer counts (row groups, bytes,
# rows), each filled lazily on first use.  The record is valid while the path's file stamp — the sorted
# (file, size, mtime_ns) of its parquet files — is unchanged; any rewrite
# ($merge/$out targets, a probe swapping a table in place) changes the stamp
# and replaces the record, so writers need not invalidate anything.  The
# schema is additionally tied to the session confs that change what parquet
# inference returns for the same files.  Paths that cannot be stat'ed
# (non-local filesystems) are never cached, and neither is the "huge"
# fallback of an unreadable footer, so a later good read is seen.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


@dataclass
class _TableMeta:
    # Each slot is set by ONE assignment of an immutable value, so
    # concurrent callers can at worst repeat a read, never mix two.
    stamp: tuple[tuple[str, int, int], ...] | None
    schema: tuple[tuple[str, ...], StructType] | None = None  # (inference confs, schema)
    footer: tuple[int, int, int] | None = None  # (row groups, bytes, rows)


_table_meta: dict[str, _TableMeta] = {}


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


def _meta(path: str) -> _TableMeta:
    """The record for ``path``, replaced when its file stamp changed."""
    try:
        stamp = tuple(
            sorted(
                (f, st.st_size, st.st_mtime_ns)
                for f in _parquet_files(path)
                for st in [os.stat(f)]
            )
        )
    except OSError:
        stamp = None
    meta = _table_meta.get(path)
    if meta is None or meta.stamp != stamp:
        meta = _TableMeta(stamp)
        if stamp is not None:
            _table_meta[path] = meta
    return meta


def table_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers under ``spark``'s
    current confs, inferred once per file stamp and inference-conf set."""
    meta = _meta(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    cached = meta.schema
    if cached is None or cached[0] != confs:
        cached = meta.schema = (confs, spark.read.parquet(path).schema)
    return cached[1]


def _footer(path: str) -> tuple[int, int, int]:
    """(row groups, bytes, rows) summed over the path's parquet footers
    (pyarrow reads, no Spark job).  An unreadable footer warns and yields
    "huge" counts, which are not stored."""
    meta = _meta(path)
    if meta.footer is None:
        import pyarrow.parquet as pq

        groups = nbytes = rows = 0
        for f in _parquet_files(path):
            try:
                md = pq.ParquetFile(f).metadata
                nbytes += os.path.getsize(f)
            except Exception as exc:  # non-local / unreadable: let Spark's scan decide
                warnings.warn(
                    f"unreadable parquet footer {f}: {exc}; assuming a huge table",
                    RuntimeWarning,
                    stacklevel=3,
                )
                return 1 << 30, 1 << 60, 1 << 60
            groups += md.num_row_groups
            rows += md.num_rows
        meta.footer = (groups, nbytes, rows)
    return meta.footer


def _parquet_layout(path: str) -> tuple[int, int]:
    """(total row groups, total bytes) for a parquet file or directory —
    footer metadata only."""
    return _footer(path)[:2]


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of one table from parquet footer metadata only — for
    scale-adaptive operator knobs (e.g. materialize-vs-rederive crossovers)
    that must not run a Spark job to decide.  An unreadable footer means
    "assume big" (the at-scale default)."""
    return _footer(os.path.join(sf_dir, f"{name}.parquet"))[2]


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False
) -> DataFrame:
    """Load one named table from an ``sf*`` directory.

    A parquet scan with the path's recorded schema: no inference job once
    warm, and each call still gets fresh attribute IDs, so self-joins stay
    safe.  With ``spread=True`` (opt-in for Python-heavy consumers — see
    the scan-parallelism note above) an unsplittable (row_groups < cores),
    non-dimension-sized table is round-robin rebalanced so the expensive
    downstream stage uses the whole machine.
    """
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if spread:
        target = spark.sparkContext.defaultParallelism
        groups, nbytes = _parquet_layout(path)
        if groups < target and nbytes >= SPREAD_MIN_BYTES:
            df = df.repartition(target)
    return df


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
