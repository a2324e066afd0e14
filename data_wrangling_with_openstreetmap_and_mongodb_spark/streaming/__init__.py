"""Structured Streaming operators, all driven to completion by one harness
(``drive.run_available_now``: availableNow + foreachBatch, each micro-batch
localCheckpointed, checkpoint in a temporary directory, state partitions
pinned to ``drive.STATE_PARTITIONS``).

Streaming plans: the hourly rollup (readStream → stateful agg, complete
mode, bit-identical to batch), gap sessionization as a custom stateful
operator (applyInPandasWithState), watermarked event-time windows,
watermark-bounded streaming exact dedup, stream-stream interval join and
streaming OHLC bars.  Batch operators applied per micro-batch: as-of
enrichment against an SCD2 dimension, and the multimodal decode
extractors (stateless Arrow-batched codec maps — the media-ingest
landing-zone shape); the NB classifier and the MinHash-index probe are
plain batch operators handed to the same harness.  Streaming count-min
sketch maintenance keeps its own foreachBatch loop: its grid is a durable,
manifest-versioned table, not a returned result."""

from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.asof_enrich import (
    asof_enrich_against_scd2,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.cms_stream import (
    run_streaming_cms,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.dedup_stream import (
    dedup_stream,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.drive import (
    STATE_PARTITIONS,
    run_available_now,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.join import (
    stream_stream_interval_join,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.media_decode import (
    streaming_media_features,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.ohlc import (
    streaming_ohlc,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.rollup import (
    hourly_rollup_plan,
    stream_events,
    stream_table,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.sessionize import (
    sessionize_batch,
    sessionize_batch_oracle_sql,
    sessionize_stream,
    sessionize_stream_flushing,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.windowed import (
    windowed_event_counts,
)

__all__ = [
    "STATE_PARTITIONS",
    "asof_enrich_against_scd2",
    "dedup_stream",
    "hourly_rollup_plan",
    "run_available_now",
    "run_streaming_cms",
    "sessionize_batch",
    "sessionize_batch_oracle_sql",
    "sessionize_stream",
    "sessionize_stream_flushing",
    "stream_events",
    "stream_stream_interval_join",
    "stream_table",
    "streaming_media_features",
    "streaming_ohlc",
    "windowed_event_counts",
]
