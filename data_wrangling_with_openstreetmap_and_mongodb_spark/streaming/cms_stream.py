"""Streaming count-min sketch maintenance — the continuous-ingest
composition of ``operators/sketch.cms_build`` / ``cms_merge``.

The whole reason the CMS is mergeable: each arriving micro-batch sketches
itself (one hash-agg, linear in the batch), and the running grid updates by
cell-wise sum against the persisted grid table — ≤ depth·width rows of
state, REGARDLESS of stream length.  No per-key state ever accumulates in
the streaming query; the grid table IS the state, managed as a plain
parquet table the same way the MinHash band index is (probed per
micro-batch by ``minhash_probe_index``).

``foreachBatch`` rather than a native streaming aggregation because the
update is a read-modify-write of a tiny table, and the batch operator —
with its SQL-oracle-verified hash family — does the sketching; the stream
wrapper only sequences merges.

Exactly-once across retries: foreachBatch may replay a batch after ANY
partial failure, including one between grid promotion and checkpoint
commit.  The grid therefore carries a sidecar manifest (``latest.json``
with the last APPLIED batch_id) written atomically via ``os.replace``:

- a replayed batch with ``batch_id <= applied`` never re-merges — it only
  re-promotes the already-staged version (idempotent publish);
- a live batch merges from the previous batch's VERSIONED grid (named in
  the manifest), never from ``current``, so a torn promote can't feed an
  already-merged grid back in as "previous" and double-count.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame

_MANIFEST = "latest.json"


def _read_manifest(grid_dir: str) -> dict | None:
    path = os.path.join(grid_dir, _MANIFEST)
    if not os.path.exists(path):
        return None  # first batch ever: explicitly "no grid yet", not an error swallow
    with open(path) as f:
        return json.load(f)


def _write_manifest(grid_dir: str, batch_id: int) -> None:
    path = os.path.join(grid_dir, _MANIFEST)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch_id": batch_id, "version_dir": f"v{batch_id}"}, f)
    os.replace(tmp, path)  # atomic on POSIX: readers see old or new, never torn


def apply_cms_batch(
    batch: DataFrame,
    batch_id: int,
    key_col: str,
    grid_dir: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 7,
) -> None:
    """Apply one micro-batch to the persisted grid — idempotent under replay.

    Module-level (not a closure) so the replay contract is directly testable:
    calling this twice with the same ``batch_id`` must leave the grid
    identical to calling it once.
    """
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.sketch import (
        cms_build,
        cms_merge,
    )

    spark = batch.sparkSession
    current = os.path.join(grid_dir, "current")

    manifest = _read_manifest(grid_dir)
    if manifest is not None and batch_id <= manifest["batch_id"]:
        # Replay of an already-applied batch (failure landed between
        # promote and checkpoint commit): re-promote only, never re-merge.
        applied = os.path.join(grid_dir, manifest["version_dir"])
        spark.read.parquet(applied).write.mode("overwrite").parquet(current)
        return

    new = cms_build(batch, key_col, depth=depth, width=width, seed=seed)
    if manifest is None:
        merged = new
    else:
        # Merge from the previous batch's immutable versioned grid — not
        # from `current`, whose content is ambiguous under a torn promote.
        prev = spark.read.parquet(os.path.join(grid_dir, manifest["version_dir"]))
        merged = cms_merge(prev, new)
    staged = os.path.join(grid_dir, f"v{batch_id}")
    merged.write.mode("overwrite").parquet(staged)
    # Commit point: once the manifest names v{batch_id}, any replay of
    # this batch takes the re-promote-only path above.
    _write_manifest(grid_dir, batch_id)
    # Publish: read back the staged version (breaks lineage onto the
    # written files) and overwrite `current`.
    spark.read.parquet(staged).write.mode("overwrite").parquet(current)
    # Best-effort prune of versions older than the merge parent; on
    # shared/object storage leave cleanup to lifecycle policy.
    if manifest is not None:
        for name in os.listdir(grid_dir):
            if (
                name.startswith("v")
                and name[1:].isdigit()
                and int(name[1:]) < manifest["batch_id"]
            ):
                shutil.rmtree(os.path.join(grid_dir, name), ignore_errors=True)


def run_streaming_cms(
    stream: DataFrame,
    key_col: str,
    grid_dir: str,
    checkpoint_path: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 7,
) -> None:
    """Drive the stream to completion (availableNow), maintaining the
    running grid at ``grid_dir`/current`` parquet (``row, bucket, cnt``).

    After every batch the published grid equals ``cms_build`` over all rows
    seen so far (asserted in tests, including a forced-replay test) —
    downstream estimators read a plain table and need not know it was built
    incrementally.

    The manifest/version protocol assumes ``grid_dir`` is on a filesystem
    with atomic rename (local/HDFS).  On an object store, point ``grid_dir``
    at a rename-capable layer (or wrap the table in a format with
    transactional commit) — the protocol is the same one Spark's own
    HDFSMetadataLog relies on.
    """
    def update_grid(batch: DataFrame, batch_id: int) -> None:
        apply_cms_batch(
            batch, batch_id, key_col, grid_dir, depth=depth, width=width, seed=seed
        )

    (
        stream.writeStream.foreachBatch(update_grid)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
