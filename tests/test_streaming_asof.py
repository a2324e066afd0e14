"""Streaming as-of enrichment vs SCD2 (r8 — VERDICT r7 ask #6):
stream/batch equivalence over micro-batched event files.

The contract chain: changelog → scd2_from_changes → interval-join each
micro-batch inside foreachBatch  ==  operators/asof.py::asof_join of the
same events against the RAW changelog (the SCD2 episode containing ts
holds exactly the latest change value at or before ts)."""

from __future__ import annotations

import os

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.asof import asof_join
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.upsert import (
    scd2_from_changes,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.asof_enrich import (
    asof_enrich_against_scd2,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.drive import (
    run_available_now,
)


def _changes():
    # (user, ts, status, change_id): repeats collapse into episodes; user 3
    # has a single open episode; user 9 never appears in events
    return [
        (1, 100, "bronze", 1), (1, 200, "silver", 2), (1, 200, "gold", 3),
        (1, 300, "gold", 4),   # repeat: same episode
        (2, 150, "trial", 5), (2, 400, "paid", 6),
        (3, 50, "active", 7),
        (9, 10, "ghost", 8),
    ]


def _events():
    # event times probe: before any episode, at an episode start, mid-episode,
    # at a (closed) episode's exclusive end, after the last change, unknown key
    return [
        (1000, 1, 90), (1001, 1, 100), (1002, 1, 199), (1003, 1, 200),
        (1004, 1, 999), (1005, 2, 150), (1006, 2, 399), (1007, 2, 400),
        (1008, 3, 49), (1009, 3, 50), (1010, 7, 500),
    ]


def test_stream_enrich_equals_batch_asof(spark, tmp_path):
    changes = spark.createDataFrame(
        _changes(), "user long, ts long, status string, change_id long"
    )
    dim = scd2_from_changes(changes, "user", "ts", "status", "change_id").persist()

    src = tmp_path / "events"
    src.mkdir()
    rows = _events()
    for i in range(4):
        part = rows[i * 3 : (i + 1) * 3]
        if not part:
            continue
        spark.createDataFrame(part, "event_id long, user long, ts long").toPandas().to_parquet(
            src / f"b{i}.parquet"
        )
        os.utime(src / f"b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("event_id long, user long, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    enriched = run_available_now(
        stream,
        lambda batch: asof_enrich_against_scd2(batch, dim, "user", "ts", "status_asof"),
    )

    got = {(r["event_id"], r["status_asof"]) for r in enriched.collect()}
    events = spark.createDataFrame(rows, "event_id long, user long, ts long")
    want = {
        (r["event_id"], r["status"])
        for r in asof_join(
            events, changes, "user", "ts", "ts", ["status"], tiebreak_col="change_id"
        ).collect()
    }
    assert got == want and len(got) == len(rows)
    # spot semantics: before-first null, at-start matches, exclusive end rolls
    by_id = dict(got)
    assert by_id[1000] is None and by_id[1001] == "bronze"
    assert by_id[1002] == "bronze"   # ts=199 predates the ts=200 changes
    # at ts=200 the same-ts changes collapse: latest change_id (gold) wins
    assert by_id[1003] == "gold" and by_id[1004] == "gold"
    assert by_id[1007] == "paid"     # valid_to exclusive: ts=400 is the new episode
    assert by_id[1008] is None and by_id[1009] == "active"
    assert by_id[1010] is None       # unknown key


def test_batch_helper_each_event_matches_at_most_one_episode(spark):
    """Episodes partition the timeline: the enriched frame must have exactly
    one row per event (the left join never fans out)."""
    changes = spark.createDataFrame(
        _changes(), "user long, ts long, status string, change_id long"
    )
    dim = scd2_from_changes(changes, "user", "ts", "status", "change_id")
    events = spark.createDataFrame(_events(), "event_id long, user long, ts long")
    out = asof_enrich_against_scd2(events, dim, "user", "ts", "status_asof")
    assert out.count() == len(_events())
    assert set(out.columns) == {"event_id", "user", "ts", "status_asof"}


def test_enrich_plan_is_equi_join_with_range_residual(spark):
    """The per-micro-batch enrichment must plan as ONE EQUI join on the
    key with the interval bounds as a residual join condition — never a
    cartesian/BNLJ over the batch.  Catalyst picks SortMergeJoin from the
    window-derived dim's unknown stats (AQE converts to broadcast at
    runtime when the dim is small); the scale contract is the join KEY:
    the batch shuffles at most once on it and the dim probe is O(batch)."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.plans import executed_plan

    changes = spark.createDataFrame(
        _changes(), "user long, ts long, status string, change_id long"
    )
    dim = scd2_from_changes(changes, "user", "ts", "status", "change_id")
    events = spark.createDataFrame(_events(), "event_id long, user long, ts long")
    plan = executed_plan(asof_enrich_against_scd2(events, dim, "user", "ts"))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
