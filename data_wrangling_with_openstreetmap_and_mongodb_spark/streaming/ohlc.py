"""Streaming OHLC bars: the batch resampler (operators/events.py::
ohlc_resample) as a watermarked event-time windowed aggregation.

Same bar semantics — open/close anchored by the (event-time, id) total
order, order-independent high/low, quantized volume sum — emitted in append
mode once the watermark passes each window's end, so bars are final when
they appear (the property a downstream chart or feature store needs) and
state is bounded by lateness, not stream length.  ``min_by``/``max_by`` are
declarative aggregates, so they run inside the streaming state store like
any count/sum — no flatMapGroupsWithState needed for OHLC.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import dsum
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.events import (
    _order_key,
)


def streaming_ohlc(
    events: DataFrame,
    window_duration: str = "15 minutes",
    allowed_lateness: str | None = "1 hour",
) -> DataFrame:
    """Watermarked OHLC bars over an event stream.

    ``events`` must carry ``ts_utc`` (timestamp), ``event_id`` (long), and
    ``value`` (double).  Output: one row per finalized window with
    ``(window_start, window_end, n_events, open_v, high_v, low_v, close_v,
    volume)`` — identical values to the batch resampler over the same data
    (asserted by the stream/batch equivalence test).

    ``allowed_lateness=None`` omits the watermark — the right shape for a
    COMPLETE-mode catch-up run (complete mode retains all state, so a
    watermark would only risk dropping rows that files delivered out of
    event-time order between micro-batches).
    """
    key = _order_key(F.unix_micros(F.col("ts_utc")), F.col("event_id"))
    src = (
        events.withWatermark("ts_utc", allowed_lateness)
        if allowed_lateness is not None
        else events
    )
    return (
        src.select("ts_utc", F.col("value").alias("v"), key.alias("k"))
        .groupBy(F.window("ts_utc", window_duration))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("v", "k").alias("open_v"),
            F.max("v").alias("high_v"),
            F.min("v").alias("low_v"),
            F.max_by("v", "k").alias("close_v"),
            dsum("v").alias("volume"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            "volume",
        )
    )

