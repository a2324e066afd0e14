"""Watermarked stream-stream join (Structured Streaming).

Joins two event streams on a key within a time band.  Stream-stream joins
are THE stateful streaming operator with unbounded-state risk: each side
must buffer rows until the other side can no longer produce matches.  Two
things bound the state, and both are mandatory here:

1. watermarks on both sides (how late each stream may be), and
2. a time-range join condition (how far apart matched rows may be),

together letting Spark evict buffered rows once the other side's watermark
passes ``ts + band + delay`` — state is O(band + lateness) per key, not
O(stream).

Batch equivalence: with an ``availableNow`` drive over ordered files the
output rows equal the batch ``operators/asof.py::interval_join`` on the
same inputs (asserted in tests/test_streaming_join.py) — the logical
semantics don't change between modes, only liveness and state accounting.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    band: str = "30 minutes",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Inner-join two streams on ``on`` where ``right_time`` lies within
    ``± band`` of ``left_time``; both inputs must carry event-time columns.

    Column names are prefixed ``l_``/``r_`` (stream-stream joins forbid
    ambiguous references, and the caller usually joins a stream to itself).
    """
    l = left.withWatermark(left_time, watermark_delay).select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns]
    )
    r = right.withWatermark(right_time, watermark_delay).select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    )
    cond = (
        (F.col(f"l_{on}") == F.col(f"r_{on}"))
        & (
            F.col(f"r_{right_time}")
            >= F.expr(f"l_{left_time} - INTERVAL {band}")
        )
        & (
            F.col(f"r_{right_time}")
            <= F.expr(f"l_{left_time} + INTERVAL {band}")
        )
    )
    return l.join(r, cond, "inner")

