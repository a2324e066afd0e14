"""The engine's session confs and environment knobs."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

import data_wrangling_with_openstreetmap_and_mongodb_spark as pkg
from data_wrangling_with_openstreetmap_and_mongodb_spark.session import (
    _RUNTIME_CONFS,
    ensure_runtime_confs,
)

BROADCAST_KEY = "spark.sql.autoBroadcastJoinThreshold"
DEBUGGING_KEY = "spark.python.sql.dataFrameDebugging.enabled"


def test_plain_session_gets_broadcast_threshold_and_df_broadcast(spark, sf_dir):
    """A session the engine did not build (Spark's 10 MB default threshold)
    gets the 64 MiB threshold from ensure_runtime_confs, and with it the
    planner broadcasts the shingle document-frequency aggregate into the
    rank join without any per-query hint."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES

    plain = spark.newSession()
    plain.conf.unset(BROADCAST_KEY)
    assert int(plain.conf.get(BROADCAST_KEY).rstrip("b")) == 10 * 1024 * 1024
    ensure_runtime_confs(plain)
    assert plain.conf.get(BROADCAST_KEY) == str(64 * 1024 * 1024)

    df = QUERIES["dedup_ngram_jaccard"].fn(plain, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    df_broadcast = re.compile(
        r"BroadcastExchange [^\n]*\n[^\n]*HashAggregate\(keys=\[shingle#\d+\], "
        r"functions=\[count\(1\)\], output=\[shingle#\d+, df_cnt#"
    )
    assert df_broadcast.search(plan), plan[:3000]


def test_engine_reads_exactly_one_env_knob():
    """Every SPARK_GRAFT_* string literal in the package source.  Adding an
    engine knob means editing this set."""
    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and re.fullmatch(r"SPARK_GRAFT_[A-Z0-9_]+", node.value)
            ):
                found.add(node.value)
    assert found == {"SPARK_GRAFT_CPUS"}


class _LockedConf:
    def __init__(self, locked: str):
        self.locked = locked
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key == self.locked:
            raise RuntimeError(f"{key} is locked")
        self.values[key] = value


class _LockedSession:
    def __init__(self, locked: str):
        self.conf = _LockedConf(locked)


@pytest.mark.parametrize(
    "key", ["spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong"]
)
def test_critical_conf_failure_raises(key):
    with pytest.raises(RuntimeError, match=re.escape(key)):
        ensure_runtime_confs(_LockedSession(key))


def test_other_conf_failure_warns_and_applies_the_rest():
    session = _LockedSession(BROADCAST_KEY)
    with pytest.warns(RuntimeWarning, match=re.escape(BROADCAST_KEY)):
        ensure_runtime_confs(session)
    expected = {k: v for k, v in _RUNTIME_CONFS.items() if k != BROADCAST_KEY}
    assert session.conf.values == expected


def test_engine_session_turns_call_site_capture_off(spark):
    """get_spark sets the static call-site capture conf off.  It is not a
    runtime conf: ensure_runtime_confs cannot set it on a plain session."""
    assert spark.conf.get(DEBUGGING_KEY) == "false"
    assert DEBUGGING_KEY not in _RUNTIME_CONFS
    with pytest.raises(Exception, match="CANNOT_MODIFY_STATIC_CONFIG"):
        spark.conf.set(DEBUGGING_KEY, "true")


def test_shaping_plan_construction_round_trip_budget(spark, tmp_path, monkeypatch):
    """On a warm session, building shape_elements' plan makes a handful of
    py4j round trips: its filter and output Columns are built once per
    SparkContext and reused.  Building them afresh makes ~500."""
    from py4j.clientserver import ClientServerConnection

    from data_wrangling_with_openstreetmap_and_mongodb_spark.sources import osm

    p = tmp_path / "one.osm"
    p.write_text('<osm><node id="1" lat="1" lon="2"/></osm>')
    raw = osm.read_osm_elements(spark, str(p))
    osm.shape_elements(raw)  # warm: builds the shared Columns

    calls = 0
    send = ClientServerConnection.send_command

    def counting(self, command):
        nonlocal calls
        calls += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    shaped = osm.shape_elements(raw)
    monkeypatch.undo()
    assert calls <= 25, calls
    assert osm._SHAPING[0] is spark.sparkContext
    assert shaped.columns == [
        "id", "type", "visible", "created", "pos", "address", "tags", "node_refs"
    ]
