"""Table catalog over the driver's parquet testdata.

One DataFrame per collection, mirroring the reference's "named collection"
data model (SURVEY.md §1.1) with typed columns instead of dynamic BSON.

Scale notes: all loads are plain ``spark.read.parquet`` so Catalyst keeps
predicate pushdown / column pruning / partition pruning; nothing is cached or
collected here.  The ``events`` table's timestamps are exposed both raw
(``ts``) and as derived, cheap-to-compute columns; :func:`ts_micros` is the
one place that knows the physical encoding (the driver has shipped ``ts``
both as parquet TIMESTAMP(NANOS)-as-long and as TIMESTAMP(MICROS)), so every
consumer sees the same bigint epoch-microsecond timeline either way.
"""

from __future__ import annotations

import os
import warnings

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import LongType

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
# on unsplittable inputs, where it is the documented fix.  Both knobs are
# env-parameterised; the byte floor keeps dimension tables exchange-free.
_rg_cache: dict[str, tuple[int, int]] = {}  # path -> (row_groups, bytes); footer metadata only


def invalidate_table_meta(path: str) -> None:
    """Drop cached footer metadata for ``path`` (and its ``rows::`` key).

    The testdata-is-immutable assumption behind ``_rg_cache`` does not hold
    for docstore write targets: ``$merge``/``$out`` overwrite parquet paths
    in-place, so a later ``load_table(spread=True)`` or ``table_rows`` on a
    rewritten path would gate on stale row-group/byte counts (ADVICE r15).
    The write paths call this after every overwrite."""
    _rg_cache.pop(path, None)
    _rg_cache.pop(f"rows::{path}", None)


def _spread_min_bytes() -> int:
    """Dimension-size floor for the scan rebalance (read per call so the
    test suite can force the spread on at tiny SFs — the parity gate must
    exercise the same plan shape the driver's larger SFs produce)."""
    return int(os.environ.get("SPARK_GRAFT_SPREAD_MIN_BYTES", str(256 * 1024)))


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return [path]


def _warn_footer(path: str, exc: Exception) -> None:
    warnings.warn(
        f"unreadable parquet footer {path}: {exc}; assuming a huge table",
        RuntimeWarning,
        stacklevel=3,
    )


def _parquet_layout(path: str) -> tuple[int, int]:
    """(total row groups, total bytes) for a parquet file or directory —
    footer metadata only, cached (the testdata is immutable)."""
    hit = _rg_cache.get(path)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    groups = 0
    nbytes = 0
    for f in _parquet_files(path):
        try:
            groups += pq.ParquetFile(f).metadata.num_row_groups
            nbytes += os.path.getsize(f)
        except Exception as exc:  # non-local / unreadable: let Spark's scan decide
            _warn_footer(f, exc)
            return (1 << 30, 1 << 60)
    _rg_cache[path] = (groups, nbytes)
    return groups, nbytes


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of one table from parquet footer metadata only (cached) —
    for scale-adaptive operator knobs (e.g. materialize-vs-rederive
    crossovers) that must not run a Spark job to decide."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    key = f"rows::{path}"
    hit = _rg_cache.get(key)
    if hit is not None:
        return hit[0]
    try:
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))
    except Exception as exc:  # unreadable footer: assume big (the at-scale default)
        _warn_footer(path, exc)
        rows = 1 << 60
    _rg_cache[key] = (rows, 0)
    return rows


def scan_parallelism(spark: SparkSession) -> int:
    """Target scan parallelism: env override, else the scheduler's."""
    v = os.environ.get("SPARK_GRAFT_SCAN_PARALLELISM")
    return int(v) if v else spark.sparkContext.defaultParallelism


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False
) -> DataFrame:
    """Load one named table from an ``sf*`` directory.

    Plain ``spark.read.parquet``; with ``spread=True`` (opt-in for
    Python-heavy consumers — see the scan-parallelism note above) an
    unsplittable (row_groups < cores), non-dimension-sized table is
    round-robin rebalanced so the expensive downstream stage uses the
    whole machine.
    """
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if spread:
        target = scan_parallelism(spark)
        groups, nbytes = _parquet_layout(path)
        if groups < target and nbytes >= _spread_min_bytes():
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
