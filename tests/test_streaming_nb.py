"""Streaming NB scoring: stream/batch equivalence over micro-batched
document files (the trained model broadcasts into every micro-batch)."""

from __future__ import annotations

import os

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.classify import (
    nb_predict,
    nb_train,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.streaming.drive import (
    run_available_now,
)


def _train_rows():
    rows = []
    for i in range(12):
        rows.append((i, f"the quick brown fox jumps {i}", "en"))
        rows.append((100 + i, f"der schnelle braune fuchs springt {i}", "de"))
    return rows


def _arrivals():
    return [
        (500, "the brown fox jumps again"),
        (501, "der braune fuchs springt wieder"),
        (502, "quick jumps the fox"),
        (503, "schnelle springt der fuchs"),
        (504, ""),  # tokenless: priors alone decide
        (505, "completely unseen words everywhere"),
    ]


def test_stream_scoring_equals_batch(spark, tmp_path):
    train = spark.createDataFrame(_train_rows(), "doc_id long, text string, lang string")
    priors, lik = nb_train(train, "text", "lang", num_buckets=256)
    priors, lik = priors.persist(), lik.persist()

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = _arrivals()
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
    scored = run_available_now(
        stream,
        lambda batch: nb_predict(batch, priors, lik, "text", "doc_id", num_buckets=256),
    )

    got = {(r["id"], r["predicted"], r["score"]) for r in scored.collect()}
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r["id"], r["predicted"], r["score"])
        for r in nb_predict(batch, priors, lik, "text", "doc_id", num_buckets=256).collect()
    }
    assert got == want and len(got) == len(rows)
    by_id = {i: p for i, p, _ in got}
    assert by_id[500] == "en" and by_id[502] == "en"
    assert by_id[501] == "de" and by_id[503] == "de"
