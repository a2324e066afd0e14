"""Streaming as-of enrichment: arriving events pick up the dimension state
that was current AS OF their event time, against an SCD2 dimension table
(``operators/upsert.py::scd2_from_changes``) — VERDICT r7 ask #6.

The production shape of stream-side dimension lookup: the dimension
historizes ONCE as a plain SCD2 table (one row per value episode,
``valid_to`` exclusive and NULL on the open episode, incrementally
maintainable as a batch job); arriving event micro-batches each join
against a snapshot of it inside ``foreachBatch`` — the
``streaming/dedup_probe.py`` pattern.  ``foreachBatch`` rather than a
stream-stream join because the dimension is a static, incrementally-
maintained table, not a stream: Structured Streaming's stream-stream join
cannot express "latest row at or before event time" without watermark-
bounded buffering of the whole dimension history, while the SCD2 interval
form makes the lookup a plain JOIN — equi on the key with a range residual
(``valid_from <= ts < valid_to``), each event matching AT MOST ONE episode
because episodes partition the timeline.  No streaming state accumulates
in the query itself; the dimension table IS the state.

Scale shape: the equi key component makes this a hash join (broadcast when
the dimension fits, AQE decides); per micro-batch the work is linear in
the BATCH plus the hash probe — the dimension is never rescanned per
event, and the event stream never shuffles except on the join key.

Equivalence contract (pinned in tests/test_streaming_asof.py): enriching
micro-batches against ``scd2_from_changes(changelog)`` reproduces
``operators/asof.py::asof_join`` of the same events against the raw
changelog — the SCD2 interval containing ``ts`` holds exactly the value of
the latest change at or before ``ts``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def asof_enrich_against_scd2(
    events: DataFrame,
    scd2: DataFrame,
    key_col: str,
    ts_col: str,
    value_field: str = "dim_value",
) -> DataFrame:
    """Enrich ``events`` with ``value_field`` = the SCD2 ``value`` whose
    ``[valid_from, valid_to)`` episode contains ``events.ts_col`` for the
    matching key (null when the event predates every episode or the key is
    unknown).  Pure batch logic — reused per micro-batch by
    :func:`run_streaming_asof_enrich` and directly testable."""
    d = scd2.select(
        F.col("key").alias("__k"),
        F.col("value").alias(value_field),
        F.col("valid_from").alias("__vf"),
        F.col("valid_to").alias("__vt"),
    )
    cond = (
        (events[ts_col] >= d["__vf"])
        & (d["__vt"].isNull() | (events[ts_col] < d["__vt"]))
        & (events[key_col] == d["__k"])
    )
    return events.join(d, cond, "left").drop("__k", "__vf", "__vt")


def run_streaming_asof_enrich(
    events_stream: DataFrame,
    scd2: DataFrame,
    out_path: str,
    checkpoint_path: str,
    key_col: str,
    ts_col: str,
    value_field: str = "dim_value",
) -> StructType | None:
    """Drive the enrichment to completion (availableNow), appending enriched
    events to ``out_path`` parquet.  Returns the schema of the frames it
    wrote (None when no micro-batch ran), so the output reads back without
    a schema-inference job."""
    written: list[StructType] = []

    def enrich_batch(batch: DataFrame, batch_id: int) -> None:
        enriched = asof_enrich_against_scd2(batch, scd2, key_col, ts_col, value_field)
        enriched.write.mode("append").parquet(out_path)
        written[:] = [enriched.schema]

    (
        events_stream.writeStream.foreachBatch(enrich_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return written[0] if written else None
