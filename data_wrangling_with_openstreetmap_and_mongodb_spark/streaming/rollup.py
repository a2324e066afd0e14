"""Structured Streaming operators (SURVEY.md §2.8 stretch; engine north star).

The reference is batch-only, but the engine exposes its time-bucketed rollup
as a real Structured Streaming job: ``readStream`` over the events parquet →
stateful streaming aggregation in complete mode, driven to completion with
an ``availableNow`` trigger by ``streaming/drive.py``.  The same logical
plan serves a live stream — swap the source for Kafka/files-in-arrival and
the trigger for a processing-time cadence; the aggregation state, output mode, and sink contract are already
streaming-native.

Determinism: the aggregate uses the engine's exact quantized sum
(functions/detagg.py), so the streaming result is bit-identical to the batch
rollup and to the DuckDB oracle regardless of micro-batch boundaries —
streaming partial aggregation is just another summation order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import (
    MICROS_PER_HOUR,
    table_schema,
    ts_micros,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import dsum


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-stream over ``<sf_dir>/<table>.parquet`` (schema from the
    catalog's table-metadata record — streaming sources require an explicit
    schema, and a warm record supplies it without a Spark job).  Handles
    both layouts: a single parquet FILE (the driver testdata shape — the
    file-stream source wants a directory basePath, so stream the parent
    with a glob filter) and a parquet DIRECTORY of part files (any
    Spark-written table, e.g. the derived scale sets)."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = table_schema(spark, path)
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table."""
    return stream_table(spark, sf_dir, "events")


def hourly_rollup_plan(events: DataFrame) -> DataFrame:
    """The streaming aggregation: integer hour bucket × event_type →
    count + exact sum.  Identical logical shape to the batch rollup.

    Driven in ``complete`` mode: every trigger emits the full aggregation
    state — the right mode for a bounded catch-up run and for dashboards;
    an unbounded deployment would add a watermark + append mode."""
    return (
        events.withColumn("ts_us", ts_micros(events))
        .withColumn("epoch_hour", F.expr(f"ts_us div {MICROS_PER_HOUR}"))
        .groupBy("epoch_hour", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
    )

