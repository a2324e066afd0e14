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
manifest-versioned table, not a returned result.

Import each operator from its submodule: the package re-exports nothing,
so importing one submodule loads only that module and its own imports."""
