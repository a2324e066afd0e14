"""Unit tests: upsert join (J1), multimodal plumbing, streaming rollup."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
    decode_payload,
    extract_features,
    with_binary_payload,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.upsert import (
    merge_update,
    merge_update_struct,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.relational import (
    hourly_event_rollup,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.drive import (
    run_available_now,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.rollup import (
    hourly_rollup_plan,
    stream_events,
)


class TestUpsert:
    def test_merge_update_matched_and_unmatched(self, spark):
        # update.py:56-76 semantics: matched rows take the update, others keep
        target = spark.createDataFrame(
            [("Argiope", None), ("Loxosceles", "old"), ("Latrodectus", "keep")],
            ["label", "authority"],
        )
        updates = spark.createDataFrame(
            [("Argiope", "Audouin"), ("Loxosceles", "Heineken & Lowe")],
            ["label", "authority_new"],
        )
        out = merge_update(
            target, updates, key="label", set_map={"authority": "authority_new"}
        )
        got = {r["label"]: r["authority"] for r in out.collect()}
        assert got == {
            "Argiope": "Audouin",
            "Loxosceles": "Heineken & Lowe",
            "Latrodectus": "keep",
        }
        assert set(out.columns) == {"label", "authority"}

    def test_merge_update_struct_field(self, spark):
        # classification.binomialAuthority merge (update.py:72-74)
        target = spark.createDataFrame(
            [("Argiope", ("Araneidae", None)), ("Other", ("Fam", "orig"))],
            "label string, classification struct<family:string, binomialAuthority:string>",
        )
        updates = spark.createDataFrame(
            [("Argiope", "Audouin")], ["label", "binomialAuthority"]
        )
        out = merge_update_struct(
            target, updates, "label", "classification", "binomialAuthority",
            src="binomialAuthority",
        )
        got = {
            r["label"]: (
                r["classification"]["family"],
                r["classification"]["binomialAuthority"],
            )
            for r in out.collect()
        }
        assert got == {"Argiope": ("Araneidae", "Audouin"), "Other": ("Fam", "orig")}

    def test_upsert_plan_broadcasts(self, spark, sf_dir):
        s = load_table(spark, sf_dir, "supplier")
        upd = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nationkey"), F.col("n_name")
        )
        out = merge_update(s, upd, "s_nationkey", {"s_name": "n_name"})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestMultimodal:
    def test_payload_schema_and_features(self, spark):
        docs = spark.createDataFrame([(1, "hello world"), (2, "a")], ["doc_id", "text"])
        wp = with_binary_payload(docs)
        assert dict(wp.dtypes)["payload"] == "binary"
        feats = {r["doc_id"]: r for r in extract_features(wp).collect()}
        assert feats[1]["n_bytes"] == 11
        assert feats[1]["n_frames"] == 1
        assert (feats[1]["f0"], feats[1]["f1"], feats[1]["f2"]) == (
            11.0,
            float(ord("h")),
            float(ord("d")),
        )
        import hashlib

        assert feats[1]["fingerprint"] == hashlib.md5(b"hello world").hexdigest()

    def test_unknown_codec_raises(self):
        # video containers remain a genuine gap; PNG (r12), JPEG (r13) and
        # MP3 headers (r14) decode for real, so malformed payloads hit the
        # codecs' validation, not the honest-gap dispatch
        with pytest.raises(NotImplementedError, match="no codec"):
            decode_payload(b"\x00\x00\x00\x18ftypmp42", "video/mp4")
        with pytest.raises(ValueError, match="truncated MP3"):
            decode_payload(b"\xff\xfb\x90", "audio/mp3")
        with pytest.raises(ValueError, match="truncated JPEG"):
            decode_payload(b"\xff\xd8\xff", "image/jpeg")
        with pytest.raises(ValueError, match="signature|truncated"):
            decode_payload(b"\x89PNG", "image/png")


class TestStreamingRollup:
    def test_stream_matches_batch(self, spark, sf_dir):
        stream = run_available_now(
            hourly_rollup_plan(stream_events(spark, sf_dir)), output_mode="complete"
        )
        batch = hourly_event_rollup(spark, sf_dir)
        cols = ["epoch_hour", "event_type", "cnt", "sum_value"]
        srows = sorted(tuple(r[c] for c in cols) for r in stream.collect())
        brows = sorted(tuple(r[c] for c in cols) for r in batch.collect())
        assert srows == brows  # bit-identical thanks to quantized sums


class TestScd2FromChanges:
    def test_episodes_collapse_and_intervals(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.upsert import (
            scd2_from_changes,
        )

        # user 1: A@10, A@20 (repeat -> collapsed), B@30, A@40 (reopens A)
        # user 2: X@5 only
        rows = [
            (1, 10, "A", 100), (1, 20, "A", 101), (1, 30, "B", 102), (1, 40, "A", 103),
            (2, 5, "X", 104),
        ]
        df = spark.createDataFrame(rows, "user long, t long, state string, eid long")
        got = sorted(
            map(tuple, scd2_from_changes(df, "user", "t", "state", "eid").collect())
        )
        assert got == [
            (1, "A", 10, 30, False),
            (1, "A", 40, None, True),
            (1, "B", 30, 40, False),
            (2, "X", 5, None, True),
        ]

    def test_same_timestamp_tiebreak_deterministic(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.upsert import (
            scd2_from_changes,
        )

        rows = [(1, 10, "A", 1), (1, 10, "B", 2)]  # same ts: eid orders A then B
        df = spark.createDataFrame(rows, "user long, t long, state string, eid long")
        got = sorted(
            map(tuple, scd2_from_changes(df, "user", "t", "state", "eid").collect())
        )
        assert got == [(1, "A", 10, 10, False), (1, "B", 10, None, True)]

    def test_null_values_are_episodes_too(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.upsert import (
            scd2_from_changes,
        )

        rows = [(1, 10, None, 1), (1, 20, None, 2), (1, 30, "A", 3)]
        df = spark.createDataFrame(rows, "user long, t long, state string, eid long")
        got = sorted(
            map(tuple, scd2_from_changes(df, "user", "t", "state", "eid").collect()),
            key=lambda r: r[2],
        )
        # null-safe compare: consecutive NULLs collapse into one episode
        assert got == [(1, None, 10, 30, False), (1, "A", 30, None, True)]


class TestTableDiff:
    def test_added_removed_changed_unchanged(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.upsert import (
            table_diff,
        )

        old = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, s string, v double",
        )
        new = spark.createDataFrame(
            [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0)],
            "k long, s string, v double",
        )
        got = {
            r.k: r.status
            for r in table_diff(old, new, ["k"], ["s", "v"]).collect()
        }
        assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged, omitted

    def test_null_never_collides_with_literal(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.upsert import (
            table_diff,
        )

        # per-column null-flag byte: NULL cannot collide with ANY literal
        old = spark.createDataFrame([(1, None), (2, None)], "k long, s string")
        new = spark.createDataFrame([(1, "\x00"), (2, None)], "k long, s string")
        got = {r.k: r.status for r in table_diff(old, new, ["k"], ["s"]).collect()}
        assert got == {1: "changed"}  # NULL -> literal is a change; NULL==NULL is not
