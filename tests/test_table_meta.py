"""The catalog's per-path schema record: the inferred schema is read once per
file stamp, so a warm table load starts no Spark job, and any rewrite of the
path (or a flip of an inference conf) is seen without an explicit
invalidation."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, LongType, StringType, TimestampNTZType

from data_wrangling_with_openstreetmap_and_mongodb_spark import catalog
from data_wrangling_with_openstreetmap_and_mongodb_spark.session import (
    _RUNTIME_CONFS,
    ensure_runtime_confs,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.rollup import stream_table

from conftest import SF_DIR

SF001 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def _plain(spark):
    """A session the engine did not build: Spark's defaults, then the
    runtime confs the engine applies to any session."""
    plain = spark.newSession()
    for k in _RUNTIME_CONFS:
        plain.conf.unset(k)
    return ensure_runtime_confs(plain)


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup())


@pytest.mark.skipif(not os.path.isdir(SF001), reason="sf0.01 testdata not mounted")
@pytest.mark.parametrize("kind", ["plain", "get_spark"])
def test_warm_load_table_runs_no_spark_job(spark, kind):
    session = _plain(spark) if kind == "plain" else spark
    for name in catalog.TABLES:
        path = os.path.join(SF001, f"{name}.parquet")
        catalog.load_table(session, SF001, name)
        before = _jobs(session)
        df = catalog.load_table(session, SF001, name)
        streamed = stream_table(session, SF001, name)
        assert _jobs(session) == before, name
        inferred = session.read.parquet(path).schema
        assert df.schema == inferred, name
        assert streamed.schema == inferred, name
        if name == "events":  # NANOS-as-long or MICROS, whichever ships
            assert isinstance(df.schema["ts"].dataType, (LongType, TimestampNTZType))


def test_rewrite_is_seen_without_invalidation(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2, 3], pa.int64())}), path)
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(
        pa.table({"b": pa.array(list("vwxyz")), "c": pa.array([0.5] * 5)}), path
    )
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(r["b"] for r in df.collect()) == list("vwxyz")


def test_inference_conf_flip_reinfers_schema(spark, tmp_path):
    blobs = pa.table({"blob": pa.array([b"x", b"yz"], pa.binary())})
    pq.write_table(blobs, str(tmp_path / "b.parquet"))
    session = spark.newSession()
    assert catalog.load_table(session, str(tmp_path), "b").schema["blob"].dataType == BinaryType()
    session.conf.set("spark.sql.parquet.binaryAsString", "true")
    df = catalog.load_table(session, str(tmp_path), "b")
    assert df.schema["blob"].dataType == StringType()
    assert sorted(r["blob"] for r in df.collect()) == ["x", "yz"]
