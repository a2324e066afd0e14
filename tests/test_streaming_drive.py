"""The availableNow drive (streaming/drive.py) and the hygiene of the
streaming query rows: no temp dir, temporary view or active query outlives
a call, also when a batch operator raises."""

from __future__ import annotations

import ast
import os
import pathlib
import tempfile

import pytest

import data_wrangling_with_openstreetmap_and_mongodb_spark as pkg
from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.drive import (
    STATE_PARTITIONS,
    run_available_now,
)

STREAMING_ROWS = sorted(n for n, q in QUERIES.items() if "streaming" in q.tags)


@pytest.fixture
def private_tmpdir(tmp_path, monkeypatch):
    """A fresh, empty TMPDIR that ``tempfile`` picks up for this test."""
    d = tmp_path / "tmpdir"
    d.mkdir()
    monkeypatch.setenv("TMPDIR", str(d))
    monkeypatch.setattr(tempfile, "tempdir", None)
    assert tempfile.gettempdir() == str(d)
    return d


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _small_stream(spark, src: pathlib.Path):
    src.mkdir()
    spark.range(6).toPandas().to_parquet(src / "part.parquet")
    return spark.readStream.schema("id long").parquet(str(src))


def test_streaming_rows_leave_no_temp_dirs(spark, sf_dir, private_tmpdir):
    assert {
        "streaming_asof_enrich_status", "streaming_hourly_rollup",
        "streaming_media_decode", "streaming_nb_score_confusion",
        "streaming_ohlc_15min", "streaming_pair_events", "streaming_wav_decode",
    } <= set(STREAMING_ROWS)
    leaked: dict[str, list[str]] = {}
    for name in STREAMING_ROWS:
        assert QUERIES[name].fn(spark, sf_dir).collect(), name
        new = set(os.listdir(private_tmpdir)).difference(*leaked.values())
        if new:
            leaked[name] = sorted(new)
    assert leaked == {}
    assert spark.streams.active == []


def test_rollup_and_ohlc_rows_leave_no_views(spark, sf_dir):
    """The memory sinks these rows used registered one temporary view per
    call, each holding its full result in driver heap for the session."""
    before = _temp_views(spark)
    for _ in range(2):
        for name in ("streaming_hourly_rollup", "streaming_ohlc_15min"):
            assert QUERIES[name].fn(spark, sf_dir).count() > 0
    assert _temp_views(spark) == before
    assert spark.streams.active == []


def test_per_batch_error_propagates_and_cleans_up(spark, tmp_path, private_tmpdir):
    stream = _small_stream(spark, tmp_path / "src")
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def fail(batch):
        raise ValueError("per-batch boom")

    with pytest.raises(Exception, match="per-batch boom"):
        run_available_now(stream, fail)
    assert os.listdir(private_tmpdir) == []
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_drive_pins_state_partitions_for_the_stream_only(spark, tmp_path):
    stream = _small_stream(spark, tmp_path / "src")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def record(batch):
        seen.append(batch.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return batch

    out = run_available_now(stream, record)
    assert seen == [str(STATE_PARTITIONS)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert sorted(r["id"] for r in out.collect()) == list(range(6))


def test_empty_stream_returns_per_batch_of_empty_frame(spark, tmp_path):
    src = tmp_path / "empty"
    src.mkdir()
    stream = spark.readStream.schema("id long").parquet(str(src))
    out = run_available_now(stream, lambda batch: batch.selectExpr("id * 2 AS twice"))
    assert out.columns == ["twice"] and out.count() == 0


def _package_sources():
    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), ast.parse(path.read_text())


def test_no_mkdtemp_and_available_now_only_in_the_drive():
    """Temp dirs come from context managers that remove them; availableNow
    queries start in the drive, except the CMS grid's durable loop."""
    mkdtemp, available_now = [], set()
    for rel, tree in _package_sources():
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "mkdtemp":
                mkdtemp.append(f"{rel}:{node.lineno}")
            elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                mkdtemp += [f"{rel}:{node.lineno}" for a in node.names if a.name == "mkdtemp"]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "trigger"
                and any(k.arg == "availableNow" for k in node.keywords)
            ):
                available_now.add(rel)
    assert mkdtemp == []
    assert available_now == {"streaming/drive.py", "streaming/cms_stream.py"}
