"""Streaming multimodal decode: payload files land, typed features stream
out — the ingest shape of a production media pipeline (new shards of
image/audio bytes arriving continuously, decoded once on arrival).

Decode is a STATELESS Arrow-batched map, so the batch extractors
(``operators/multimodal.py``) are the batch operator handed to
``streaming/drive.py`` unchanged: each micro-batch of payload rows decodes
exactly as the batch path would, with no aggregation state and no
watermark — Structured Streaming's incremental file listing is the only
streaming machinery involved.  That makes the stream/batch equivalence
test (tests/test_streaming_media.py) exact: the same rows, bit for bit,
however the input is chunked into micro-batches.

At 100 TB: the payload directory is the landing zone; ``maxFilesPerTrigger``
bounds micro-batch size (decode cost is linear in bytes, so batch sizing
is pure throughput/latency tuning); the decoded feature table appends
partitioned by arrival date.  Binary payloads never shuffle — each
micro-batch runs scan → mapInPandas, the same map-only shape plan-pinned
for the batch path in tests/test_plans.py::TestRound13Plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
    extract_gif_frames,
    extract_jpeg_features,
    extract_media_features,
    extract_mp3_features,
    extract_png_features,
)

_EXTRACTORS = {
    "image/jpeg": extract_jpeg_features,
    "image/png": extract_png_features,
    "image/gif": extract_gif_frames,
    # BMP images and every supported WAV flavor (16-bit PCM, G.711 mu/A-law,
    # IMA ADPCM incl. fact truncation) — the audio landing-zone shape (r14)
    "image/bmp": extract_media_features,
    "audio/wav": extract_media_features,
    # MP3 framing metadata (header walk, no PCM) for routing/validation
    "audio/mpeg": extract_mp3_features,
}


def streaming_media_features(payloads: DataFrame, fmt: str) -> DataFrame:
    """Apply the format's batch feature extractor to payload rows — a
    micro-batch, a batch table or a streaming frame alike, since the
    extractor is a stateless scan → mapInPandas."""
    try:
        return _EXTRACTORS[fmt](payloads)
    except KeyError:
        raise NotImplementedError(
            f"no streaming extractor for {fmt!r} "
            f"(have {sorted(_EXTRACTORS)})"
        ) from None

