"""Streaming MinHash index probe: stream/batch equivalence over micro-batched
document files."""

from __future__ import annotations

import os

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
    minhash_band_index,
    minhash_probe_index,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.drive import (
    run_available_now,
)

def _doc(i: int) -> str:
    # mutually distinct corpus texts: every third token varies with i, so
    # cross-document trigram overlap (hence estimated jaccard) stays low
    return (
        f"document {i} opens topic{i} then covers alpha{i} beta{i} gamma{i} "
        f"delta{i} epsilon{i} zeta{i} eta{i} theta{i} closing remark {i}"
    )


def _corpus_rows():
    return [(i, _doc(i)) for i in range(10)]


def _increment_rows():
    # arrivals 100..105: 100/101 duplicate corpus docs 0/3 exactly; rest novel
    rows = [(100, _doc(0)), (101, _doc(3))]
    rows += [(100 + k, f"completely different text number {k} with unique words") for k in range(2, 6)]
    return rows


def test_stream_probe_equals_batch_probe(spark, tmp_path):
    corpus = spark.createDataFrame(_corpus_rows(), "doc_id long, text string")
    index = minhash_band_index(corpus, "text", "doc_id").persist()

    # micro-batch the increment into 3 files
    src = tmp_path / "arrivals"
    src.mkdir()
    rows = _increment_rows()
    for i in range(3):
        part = rows[i * 2 : (i + 1) * 2]
        spark.createDataFrame(part, "doc_id long, text string").toPandas().to_parquet(
            src / f"b{i}.parquet"
        )
        os.utime(src / f"b{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    matches = run_available_now(
        stream,
        lambda batch: minhash_probe_index(batch, index, "text", "doc_id", threshold=0.9),
    )

    got = {(r["new_id"], r["corpus_id"], r["est_jaccard"]) for r in matches.collect()}
    batch_inc = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["new_id"], r["corpus_id"], r["est_jaccard"])
        for r in minhash_probe_index(
            batch_inc, index, "text", "doc_id", threshold=0.9
        ).collect()
    }
    assert got == want
    assert {a for a, _, _ in got} == {100, 101}  # only true duplicates match
    assert {b for _, b, _ in got} == {0, 3}
