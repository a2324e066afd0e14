"""One ``availableNow`` drive for every streaming query row.

A bounded catch-up run over a streaming plan: start the query with an
``availableNow`` trigger and a ``foreachBatch`` sink, optionally apply a
batch operator to each micro-batch, and hand back the result as an
ordinary DataFrame.  The harness owns everything the stream leaves
behind:

- the checkpoint lives in a ``TemporaryDirectory`` that is removed when
  the drive ends, also when a batch raises;
- no memory sink, so no temporary view holds a result in driver heap for
  the rest of the session;
- ``spark.sql.shuffle.partitions`` is pinned to :data:`STATE_PARTITIONS`
  while the query starts (the stream's session clone captures it there)
  and restored right after.

Each micro-batch is materialized with ``localCheckpoint(eager=True)`` on
local disk, so the returned frame does not depend on the checkpoint or
the source files staying put, and the output stays off the JVM heap as a
parquet sink's would.  The default in-memory level keeps deserialized rows
in the heap until a GC lets the cleaner drop them; on the catalog_mix
benchmark (4-core host, local[2], 1 GiB driver) that slowed the other,
unrelated queries of a pass by 10–20%.

The frames belong to the stream's session clone: the caller's confs as of
``start()``, with ``STATE_PARTITIONS`` shuffle partitions and adaptive
execution off, as Structured Streaming sets it.
"""

from __future__ import annotations

import functools
import tempfile
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Shuffle partitions for every driven query, and with them its state-store
# partitions: each state partition carries an HDFS-backed provider with
# snapshot/maintenance overhead, so the count should track the aggregate's
# key cardinality (thousands of hour×type groups, bars or per-user
# buffers), not the batch default of 2×cores.  Measured on local[32]: 64
# state partitions ran 2–9 s erratic, 8 a stable ~1 s.
STATE_PARTITIONS = 8


def run_available_now(
    stream: DataFrame,
    per_batch: Callable[[DataFrame], DataFrame] | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Drive ``stream`` to completion and return its output.

    ``per_batch`` (a batch operator, e.g. a join against a static table)
    is applied to every micro-batch.  In ``append`` mode the result is the
    union of all micro-batch outputs; in ``complete`` mode each trigger
    emits the whole result table, so only the last one is kept.  A stream
    that runs no batch returns ``per_batch`` of an empty frame with the
    stream's schema.
    """
    spark = stream.sparkSession
    frames: list[DataFrame] = []

    def materialize(batch: DataFrame, batch_id: int) -> None:
        out = per_batch(batch) if per_batch is not None else batch
        frame = out.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        if output_mode == "complete":
            frames[:] = [frame]
        else:
            frames.append(frame)

    with tempfile.TemporaryDirectory(prefix="stream_ckpt_") as checkpoint:
        writer = (
            stream.writeStream.foreachBatch(materialize)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        try:
            query = writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        try:
            query.awaitTermination()
        finally:
            query.stop()
    if not frames:
        empty = spark.createDataFrame([], stream.schema)
        return per_batch(empty) if per_batch is not None else empty
    return functools.reduce(lambda a, b: a.union(b), frames)
