"""Stream/batch equivalence for streaming multimodal decode (the batch
extractor applied per micro-batch by the availableNow drive): decode is a
stateless Arrow map, so the streaming output must equal the
batch extractor's rows EXACTLY regardless of micro-batch chunking."""

from __future__ import annotations

import pytest

from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
    PAYLOAD_SCHEMA,
    extract_jpeg_features,
    synthesize_gif_payloads,
    synthesize_jpeg_payloads,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.drive import (
    run_available_now,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.media_decode import (
    streaming_media_features,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _decode(spark, pdir, fmt, max_files_per_trigger=None):
    reader = spark.readStream.schema(PAYLOAD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return run_available_now(
        reader.parquet(pdir), lambda batch: streaming_media_features(batch, fmt)
    )


def test_streaming_jpeg_decode_equals_batch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    payloads = synthesize_jpeg_payloads(docs)
    # two separate writes -> at least two files, and maxFilesPerTrigger=1
    # forces multiple micro-batches so chunking-independence is real
    pdir = str(tmp_path / "payloads")
    payloads.filter("doc_id % 2 = 0").write.mode("append").parquet(pdir)
    payloads.filter("doc_id % 2 = 1").write.mode("append").parquet(pdir)
    got = _decode(spark, pdir, "image/jpeg", max_files_per_trigger=1)
    want = extract_jpeg_features(spark.read.parquet(pdir))
    cols = ["doc_id", "jpeg_type", "width", "height", "n_samples",
            "mean_c0", "mean_luma"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() == 60


def test_streaming_gif_one_to_many_rows(spark, sf_dir, tmp_path):
    """The 1->N frame-extraction contract holds through the stream: one
    payload row yields one row per frame."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    pdir = str(tmp_path / "payloads")
    synthesize_gif_payloads(docs).write.mode("overwrite").parquet(pdir)
    got = _decode(spark, pdir, "image/gif")
    # frames per doc = 1 + doc_id % 3 (the _gif_plan contract)
    per_doc = {r["doc_id"]: r["n"] for r in
               got.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    assert all(per_doc[d] == 1 + d % 3 for d in per_doc)
    assert len(per_doc) == 20


def test_unknown_format_raises(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(1)
    payloads = synthesize_jpeg_payloads(docs)
    with pytest.raises(NotImplementedError, match="no streaming extractor"):
        streaming_media_features(payloads, "audio/mp3")


def test_streaming_wav_decode_equals_batch(spark, sf_dir, tmp_path):
    """r14: the audio extractor through the stream — BMP/WAV payloads
    (incl. G.711 and stereo) decode to the batch extractor's rows exactly,
    whatever the micro-batch chunking."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
        extract_media_features,
        synthesize_media_payloads,
    )

    docs = load_table(spark, sf_dir, "documents").limit(40)
    payloads = synthesize_media_payloads(docs)
    pdir = str(tmp_path / "payloads")
    payloads.filter("doc_id % 2 = 0").write.mode("append").parquet(pdir)
    payloads.filter("doc_id % 2 = 1").write.mode("append").parquet(pdir)
    got = _decode(spark, pdir, "audio/wav", max_files_per_trigger=1)
    want = extract_media_features(spark.read.parquet(pdir))
    cols = [c for c in want.columns]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() == 40


def test_streaming_mp3_headers_equals_batch(spark, sf_dir, tmp_path):
    """r14: MP3 framing metadata through the stream — header-walk features
    equal the batch extractor's rows exactly, whatever the chunking."""
    import pandas as pd

    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.multimodal import (
        PAYLOAD_SCHEMA,
        encode_mp3_frames,
        extract_mp3_features,
    )

    docs = load_table(spark, sf_dir, "documents").limit(30)

    def synth(batches):
        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                version = ("MPEG1", "MPEG2", "MPEG2.5")[d % 3]
                sr = {"MPEG1": 44100, "MPEG2": 24000, "MPEG2.5": 8000}[version]
                payload = encode_mp3_frames(
                    version, 3, sr,
                    [(32 if version != "MPEG1" else 128, (d + j) % 2)
                     for j in range(2 + d % 3)],
                    channels=1 + d % 2,
                )
                out.append({"doc_id": doc_id, "payload": payload,
                            "meta": {"format": "audio/mpeg",
                                     "n_bytes": len(payload)}})
            if out:
                yield pd.DataFrame(out)

    payloads = docs.select("doc_id").mapInPandas(synth, schema=PAYLOAD_SCHEMA)
    pdir = str(tmp_path / "payloads")
    payloads.filter("doc_id % 2 = 0").write.mode("append").parquet(pdir)
    payloads.filter("doc_id % 2 = 1").write.mode("append").parquet(pdir)
    got = _decode(spark, pdir, "audio/mpeg", max_files_per_trigger=1)
    want = extract_mp3_features(spark.read.parquet(pdir))
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() == 30
