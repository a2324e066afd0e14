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
