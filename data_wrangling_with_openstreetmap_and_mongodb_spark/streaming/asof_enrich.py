"""Streaming as-of enrichment: arriving events pick up the dimension state
that was current AS OF their event time, against an SCD2 dimension table
(``operators/upsert.py::scd2_from_changes``) — VERDICT r7 ask #6.

The production shape of stream-side dimension lookup: the dimension
historizes ONCE as a plain SCD2 table (one row per value episode,
``valid_to`` exclusive and NULL on the open episode, incrementally
maintainable as a batch job); arriving event micro-batches each join
against a snapshot of it inside ``foreachBatch`` (``streaming/drive.py``
with this module's join as the batch operator).  ``foreachBatch`` rather
than a stream-stream join because the dimension is a static, incrementally-
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
    unknown).  Pure batch logic — applied per micro-batch by
    ``streaming.drive.run_available_now`` and directly testable."""
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

