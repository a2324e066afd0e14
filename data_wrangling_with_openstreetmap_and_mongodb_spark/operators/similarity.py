"""Similarity search and embedding curation over ``array<float>`` columns.

The ANN ladder, cheapest index to production layout:

- ``cosine_topk`` — exact brute-force top-k: one narrow projection + 
  TakeOrderedAndProject.  O(N·d), zero vector shuffle; the correctness
  baseline and the right plan for one-off queries (no index build).
- ``lsh_bucket_topk`` / ``lsh_near_pairs`` — random-hyperplane (sign) LSH:
  seeded hyperplanes as literals, packed sign bits, bucket join; candidates
  shrink ~2^bits.
- ``ivf_flat_topk`` / ``kmeans_centroids`` + ``ivf_flat_topk_trained`` —
  IVF-flat over sampled or k-means-trained coarse cells (training is pure
  DataFrame algebra; the driver holds only k·dim centroid components);
  ``ivf_write_index``/``ivf_probe_partitioned`` persist the cell as a
  partition column so probes prune at the file listing.
- ``pq_train_codebooks`` / ``pq_encode`` / ``pq_adc_topk`` — product
  quantization: all m subspace codebooks train in one pass per iteration;
  ADC ranks over codes against a broadcast distance table.
- ``ivfpq_residuals`` / ``ivfpq_topk`` — IVF-PQ: coarse cells + residual
  PQ + per-cell ADC — the production 100 TB layout.
- ``quantize_int8`` — 4× storage/shuffle cut for the scanned tier.

Embedding curation on the same machinery: ``diversity_sample``
(cluster-balanced exactly-k-per-cell) and ``semantic_dedup_pairs``
(SemDeDup within-cell exact cosine, optional triangular sub-blocking for
hot cells).  ``nonzero_vectors`` enforces the zero-norm input contract.

Everything is deterministic end-to-end (quantized scores, id tiebreaks,
davg/dsum accumulation), so every path — including full training
trajectories — replays bit-for-bit in the DuckDB oracles.  Dot products
use native higher-order functions (``zip_with``/``aggregate``) in double
precision — identical math to the oracle.
"""

from __future__ import annotations

import math
import operator
import random
from functools import reduce

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import davg, dsum, quantize6
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import spread


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product via higher-order functions — works for any
    runtime dim, but HOFs evaluate interpreted (outside codegen).  Prefer the
    unrolled variants below when the dim is statically known (it always is
    once a query vector or hyperplane is in hand)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


# Unrolled variant: a left-associated chain of multiply-adds starting from
# 0.0 evaluates the EXACT same IEEE operation sequence as the sequential fold
# (and DuckDB's list_dot_product), while staying inside whole-stage codegen.
# Trade-off measured on this corpus: construction costs ~2 py4j calls per
# term on the DRIVER, so unrolling only pays where the expression evaluates
# per CANDIDATE PAIR (the blocked near-pair join); per-row scoring against
# one query vector is faster end-to-end with the HOF fold.
def _pair_dot(a: Column, b: Column, dim: int) -> Column:
    terms = (
        a.getItem(i).cast("double") * b.getItem(i).cast("double") for i in range(dim)
    )
    return reduce(operator.add, terms, F.lit(0.0))


def _norm_unrolled(vec: Column, dim: int) -> Column:
    return F.sqrt(_pair_dot(vec, vec, dim))


def cosine_to_query(vec_col: Column, query: list[float]) -> Column:
    """Cosine similarity of each row's vector to a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    return _dot(vec_col, q) / (_norm(vec_col) * F.lit(qn))


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine: ``(id, cosine)``, ordered desc with id tiebreak
    (Catalyst plans TakeOrderedAndProject — no full sort).  Scores are
    quantized to 1e-6 so ranking and values are engine-independent."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            quantize6(cosine_to_query(F.col(vec_col), query)).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (Box–Muller on a seeded PRNG) —
    compiled into the plan as literals, broadcast with the task binary."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def signature_bits(vec_col: Column, planes: list[list[float]]) -> Column:
    """Pack sign(v·plane_i) into a bigint signature.

    Uses the HOF fold, not the unrolled chain: bits×dim unrolled terms (e.g.
    8×64=512 Add nodes) balloon the expression tree and Catalyst spends
    seconds of driver time per plan — measured 6.5s/run vs 1.5s with the
    fold.  Unrolling pays only for single-vector-sized expressions."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        sig = sig + F.when(_dot(vec_col, p) >= 0, F.lit(1).cast("long") * (2**i)).otherwise(0)
    return sig


def lsh_bucket_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    bits: int = 12,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: restrict the exact rank to rows whose LSH signature is
    within ``probe_hamming`` bits of the query's signature (multi-probe).

    The signature filter is a cheap codegen'd predicate on a precomputable
    column — at scale the signature would be materialized/partitioned at
    ingest, turning this into partition pruning.
    """
    dim = len(query)
    planes = _hyperplanes(dim, bits, seed)
    qsig = 0
    for i, plane in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query, plane))
        if dot >= 0:
            qsig |= 1 << i
    sig = signature_bits(F.col(vec_col), planes)
    hamming = F.bit_count(sig.bitwiseXOR(F.lit(qsig)))
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            hamming.alias("h"),
        )
        .filter(F.col("h") <= probe_hamming)
        .select("id", quantize6(cosine_to_query(F.col("v"), query)).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def _assign_to_centroids(
    df: DataFrame, vec_col: str, id_col: str, cents: DataFrame
) -> DataFrame:
    """``(id, cluster, v)``: each row labeled with its nearest centroid by
    quantized cosine, lowest ``c_id`` on ties — deterministic on any engine.

    HOF fold for the cosine: the assignment score evaluates once per
    (row, centroid) pair inside an aggregate — unrolling it n_centroids×
    bloats the plan tree past what Catalyst handles cheaply (see
    signature_bits note).  The centroid side broadcasts; rows never shuffle
    (partial max_by per partition, merge on id)."""
    qcos_cent = quantize6(
        _dot(F.col(vec_col), F.col("c_vec"))
        / (_norm(F.col(vec_col)) * _norm(F.col("c_vec")))
    )
    return (
        df.join(F.broadcast(cents))
        .groupBy(F.col(id_col).alias("id"))
        .agg(
            F.max_by(
                "c_id", F.struct(qcos_cent, (-F.col("c_id")).cast("double"))
            ).alias("cluster"),
            F.any_value(F.col(vec_col)).alias("v"),
        )
    )


# Above this many centroids the HOF expression path loses: the broadcast
# nested-loop join evaluates an INTERPRETED fold per (row, centroid) pair,
# so assignment cost is n·k·dim outside codegen.  Measured (r13, PLANS.md
# §semdedup-cell-scaling, commit 64b4863, 20k×64d rows): k=80 assignment via the
# expression path pushed SemDeDup to 24.7s where the k=8 run took 9.6s —
# the "scaled cells" configuration was LOSING to the pinned one until
# assignment went vectorized.  The packed path moves the same arithmetic
# into one Arrow batch per partition (numpy outer products,
# dims-sequential so the IEEE op order — and hence every quantized cosine
# — is bit-identical to the fold; equivalence-tested in
# tests/test_dedup_similarity.py).
_ASSIGN_PACKED_MIN_K = 16


def _nearest_cosine_pick(
    mat: "np.ndarray",
    ids: "np.ndarray",
    cmat: "np.ndarray",
    c_ids: "np.ndarray",
) -> "np.ndarray":
    """Per-row nearest-centroid ids by quantized cosine, lowest ``c_id`` on
    ties — the shared numpy core of :func:`_assign_packed` and
    :func:`_residuals_packed`.  Bit contract documented in
    :func:`_assign_packed` (dims-sequential accumulation, integer quantize
    compare, NaN-as-+inf, zero-norm raises like the expression path)."""
    acc = np.zeros((mat.shape[0], cmat.shape[0]))
    na = np.zeros(mat.shape[0])
    nc = np.zeros(cmat.shape[0])
    for d_ in range(mat.shape[1]):
        acc = acc + np.multiply.outer(mat[:, d_], cmat[:, d_])
        na = na + mat[:, d_] * mat[:, d_]
        nc = nc + cmat[:, d_] * cmat[:, d_]
    if (na == 0).any():
        bad = ids[na == 0][:3].tolist()
        raise ValueError(
            f"assign_to_centroids: zero-norm vector(s), ids {bad} "
            "(cosine undefined; the expression path raises "
            "DIVIDE_BY_ZERO on these)"
        )
    if (nc == 0).any():
        raise ValueError(
            "assign_to_centroids: zero-norm centroid "
            f"c_id={c_ids[nc == 0][:3].tolist()} (cosine undefined)"
        )
    cos = acc / np.multiply.outer(np.sqrt(na), np.sqrt(nc))
    qi = np.floor(cos * 1e6 + 0.5)  # int compare == quantize6 compare
    qcmp = np.where(np.isnan(qi), np.inf, qi)
    best = qcmp.max(axis=1, keepdims=True)
    sentinel = int(c_ids.max()) + 1
    return np.where(qcmp == best, c_ids[None, :], sentinel).min(axis=1)


def _assign_packed(
    df: DataFrame, vec_col: str, id_col: str, centroids: list[tuple[int, list[float]]]
) -> DataFrame:
    """Arrow-batched nearest-centroid assignment: ``(id, cluster, v)`` with
    the exact :func:`_assign_to_centroids` semantics (quantized cosine,
    lowest ``c_id`` on ties) — the k ≥ ~16 scale path.  ``v`` keeps the
    input column's element type so downstream packing/persisting plans are
    unchanged."""
    import pandas as pd

    c_ids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)
    vtype = df.schema[vec_col].dataType.simpleString()

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # dims-sequential accumulation == the HOF scalar left fold.
            # Degenerate-vector semantics must match the HOF expression path
            # under the repo's calling convention (Spark 4 ANSI on):
            #   * a ZERO-NORM row or centroid makes the cosine divisor 0 —
            #     the expression path raises DIVIDE_BY_ZERO, so raise here
            #     too instead of silently minting NaN;
            #   * a NaN COMPONENT gives a NaN divisor (not zero — no ANSI
            #     raise) and Spark's total order ranks NaN ABOVE every
            #     float, so max_by picks the NaN cosine with the lowest
            #     c_id tie-break — mirror it by comparing NaN as +inf.
            # Without either, `qi == best` was false everywhere for an
            # all-NaN row and the row landed on a nonexistent sentinel
            # cluster that downstream c_id inner joins silently dropped.
            # (Shared core: _nearest_cosine_pick.)
            pick = _nearest_cosine_pick(
                mat, pdf[id_col].to_numpy(), cmat, c_ids
            )
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "cluster": pick,
                    "v": list(pdf[vec_col]),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"id long, cluster long, v {vtype}"
    )


def assign_to_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
) -> DataFrame:
    """Nearest-centroid assignment, auto-dispatching on k: the codegen'd
    broadcast expression for small centroid sets, the Arrow-batched packed
    kernel (:func:`_assign_packed`) once k reaches ``_ASSIGN_PACKED_MIN_K``
    — identical output either way (quantized cosine, min-c_id ties;
    equivalence-tested)."""
    if not centroids:
        raise ValueError("assign_to_centroids: empty centroid list")
    if len(centroids) >= _ASSIGN_PACKED_MIN_K:
        return _assign_packed(df, vec_col, id_col, centroids)
    cdf = df.sparkSession.createDataFrame(
        centroids, "c_id bigint, c_vec array<double>"
    )
    return _assign_to_centroids(df, vec_col, id_col, cdf)


def _probe_rank(
    assigned: DataFrame, cents: DataFrame, query: list[float], k: int, nprobe: int
) -> DataFrame:
    """Probe the ``nprobe`` cells nearest the query, exact-rank inside."""
    probed = (
        cents.select(
            "c_id", quantize6(cosine_to_query(F.col("c_vec"), query)).alias("qc")
        )
        .orderBy(F.desc("qc"), F.asc("c_id"))
        .limit(nprobe)
    )
    return (
        assigned.join(
            F.broadcast(probed), assigned["cluster"] == probed["c_id"], "left_semi"
        )
        .select("id", quantize6(cosine_to_query(F.col("v"), query)).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def ivf_flat_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 3,
) -> DataFrame:
    """IVF-flat ANN top-k: coarse-quantize rows to their nearest centroid,
    probe only the ``nprobe`` centroids nearest the query, exact-rank inside
    the probed cells.

    Centroids here are a deterministic sample (the vectors with the
    ``n_centroids`` lowest ids); :func:`ivf_flat_topk_trained` upgrades them
    with k-means iterations, and :func:`ivf_write_index` /
    :func:`ivf_probe_partitioned` persist the assignment as a partition
    column, turning the probe filter into partition pruning at read time.
    Everything is DataFrame algebra: centroid sides broadcast, no driver-side
    materialization, assignments shuffle only (id, cluster).  Scores and
    assignments use quantized cosine with an id tie-break, so cell membership
    and ranking are engine-deterministic.
    """
    cents = df.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    ).orderBy(F.asc("c_id")).limit(n_centroids)
    assigned = _assign_to_centroids(df, vec_col, id_col, cents)
    return _probe_rank(assigned, cents, query, k, nprobe)


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int = 8,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (cosine assignment, per-dimension mean update) in
    DataFrame algebra.

    Per iteration: one broadcast-assign aggregation, one posexplode →
    (cluster, dim) hash-aggregate — the driver collects exactly the
    k·dim centroid components, never row data.  Updates use the
    order-independent :func:`...detagg.davg`, and assignment uses quantized
    cosine with the lowest-id tiebreak, so the whole training trajectory —
    not just the final query — is engine-deterministic and reproducible by
    the DuckDB oracle (unrolled one CTE block per iteration).  Clusters that
    lose all members keep their previous centroid.

    Iteration count is a small constant (ANN coarse quantizers converge in a
    few passes and need "good", not "optimal", centroids) — so the total
    cost is iters × 2 linear scans at any data size."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cents = [
        (r["id"], list(r["v"]))
        for r in base.orderBy(F.asc("id")).limit(n_centroids).collect()
    ]
    dim = len(cents[0][1])
    for _ in range(iters):
        # Training iterations always use the packed Arrow kernel (r16,
        # guide §1.2/§4.2): each iteration embeds NEW centroid values, so
        # the expression path pays full Catalyst analysis + codegen per
        # iteration (~1.5 s/iter measured at any data size — driver-side,
        # data-independent); the packed kernel's tiny mapInPandas plan
        # re-plans in ~0.1 s and is bit-identical (equivalence-tested).
        # Query-facing assignment keeps the k-dispatched expression path
        # (assign_to_centroids) so final plan shapes are unchanged.
        assigned = _assign_packed(base, "v", "id", cents)
        comp = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(davg("val").alias("comp"))
        )
        upd: dict[int, dict[int, float]] = {}
        for r in comp.collect():  # k·dim tiny rows — the only driver data
            upd.setdefault(r["cluster"], {})[r["pos"]] = r["comp"]
        cents = [
            (cid, [upd[cid][p] for p in range(dim)]) if cid in upd else (cid, old)
            for cid, old in cents
        ]
    return cents


def ivf_flat_topk_trained(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 3,
    iters: int = 2,
) -> DataFrame:
    """IVF-flat top-k over k-means-trained centroids (see
    :func:`kmeans_centroids`): same probe/rank plan as :func:`ivf_flat_topk`,
    better cell balance → better recall at equal nprobe."""
    cents = kmeans_centroids(df, vec_col, id_col, n_centroids, iters)
    cdf = df.sparkSession.createDataFrame(cents, "c_id bigint, c_vec array<double>")
    assigned = assign_to_centroids(df, vec_col, id_col, cents)
    return _probe_rank(assigned, cdf, query, k, nprobe)


def ivf_write_index(
    df: DataFrame,
    path: str,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
) -> None:
    """Persist the IVF assignment as a ``cluster=``-partitioned parquet
    layout: the production index build.  Reads of ``nprobe`` cells then prune
    at the file listing (PartitionFilters), touching only probed data — the
    100 TB probe path (:func:`ivf_probe_partitioned`)."""
    assigned = assign_to_centroids(df, vec_col, id_col, centroids)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)


def ivf_probe_partitioned(
    spark,
    path: str,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """Query a persisted IVF index: pick the ``nprobe`` nearest centroids
    driver-side (k tiny vectors, no Spark job), scan ONLY those partitions
    (the ``cluster IN (...)`` predicate prunes at file listing), exact-rank
    inside."""

    def qcos(vec: list[float]) -> float:
        dot = sum(float(a) * float(b) for a, b in zip(vec, query))
        na = math.sqrt(sum(float(a) * float(a) for a in vec))
        nb = math.sqrt(sum(float(b) * float(b) for b in query))
        return math.floor(dot / (na * nb) * 1e6 + 0.5) / 1e6

    probed = [
        cid
        for cid, _ in sorted(centroids, key=lambda cv: (-qcos(cv[1]), cv[0]))[:nprobe]
    ]
    return (
        spark.read.parquet(path)
        .filter(F.col("cluster").isin(probed))
        .select("id", quantize6(cosine_to_query(F.col("v"), query)).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def lsh_near_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.9,
    bits: int = 16,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """All-pairs near-dup via banded sign-LSH + exact cosine verification.

    Signature splits into ``bands`` chunks; pairs sharing any chunk value are
    candidates (bucket equi-join per band — the only shuffle is on (band,
    chunk-value) keys), then exact cosine filters at ``threshold``.

    ``dim`` (the embedding dimensionality) is needed at plan-build time to
    compile the hyperplane literals; supply it from the table catalog or
    parquet footer stats.  When omitted, a one-row ``first()`` infers it —
    an eager action, acceptable interactively but avoid inside pipelines.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, bits, seed)
    chunk_bits = bits // bands
    sig = signature_bits(F.col(vec_col), planes)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sig.alias("sig"))
    banded = base.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("key"),
                    )
                    for c in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "v", "bk.band", "bk.key")
    a = banded.alias("a")
    b = banded.alias("b")
    dot = _pair_dot(F.col("a.v"), F.col("b.v"), dim)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            quantize6(
                dot
                / (
                    _norm_unrolled(F.col("a.v"), dim)
                    * _norm_unrolled(F.col("b.v"), dim)
                )
            ).alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (the 4x memory lever for 100 TB vector corpora)
# ---------------------------------------------------------------------------
def quantize_int8(
    df: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``(id, scale, qvec)`` with
    ``qvec[i] = clamp(round(v[i] / scale), -127, 127)`` and
    ``scale = max(|v|) / 127`` (the maxabs scheme every vector store uses).

    Cuts embedding storage and shuffle width 4x (float32 -> int8) at a
    bounded reconstruction error of ``scale / 2`` per element — the standard
    trade for 100 TB-scale ANN tiers, where the quantized corpus is scanned
    and only the short-listed candidates are re-scored in full precision.

    All-Column implementation (``transform`` over a 64-wide array is a cheap
    interpreted island inside one projection — no shuffle, no Python).  The
    arithmetic is plain IEEE double ``/ floor + clamp``, so the DuckDB twin
    (:func:`quantize_int8_sql`) reproduces ``qvec`` element-for-element;
    an all-zero vector quantizes to all zeros (scale 0 guard).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(
        amax == F.lit(0.0),
        F.transform(v, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            v,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x / (amax / F.lit(127.0)) + F.lit(0.5)).cast("int"),
                ),
            ),
        )
    )
    return df.select(
        F.col(id_col).alias("id"), scale, q.alias("qvec")
    )


def quantize_int8_sql(table: str, vec_expr: str, id_expr: str) -> str:
    """DuckDB oracle reproducing :func:`quantize_int8` element-for-element."""
    v = f"list_transform({vec_expr}, x -> CAST(x AS DOUBLE))"
    amax = f"list_max(list_transform({v}, x -> abs(x)))"
    return f"""
        SELECT {id_expr} AS id,
               {amax} / 127.0 AS scale,
               CASE WHEN {amax} = 0.0
                    THEN list_transform({v}, x -> 0)
                    ELSE list_transform({v}, x ->
                         CAST(GREATEST(-127, LEAST(127,
                              FLOOR(x / ({amax} / 127.0) + 0.5))) AS INT))
               END AS qvec
        FROM {table}
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ): per-subspace codebooks + asymmetric-distance
# top-k — the compressed-corpus half of an IVF-PQ index.
# ---------------------------------------------------------------------------
def _sub_l2(a: Column, b: Column, dsub: int) -> Column:
    """Quantized squared-L2 between two ``dsub``-dim subvectors, unrolled —
    left-associated term chain == DuckDB's parse of ``t1 + t2 + …`` == the
    driver-side Python fold, so distances agree bit-for-bit everywhere."""
    terms = (
        (a.getItem(i).cast("double") - b.getItem(i).cast("double"))
        * (a.getItem(i).cast("double") - b.getItem(i).cast("double"))
        for i in range(dsub)
    )
    return quantize6(reduce(operator.add, terms))


def _py_sub_l2(a: list[float], b: list[float]) -> float:
    """Driver-side twin of :func:`_sub_l2` (same order, same quantize)."""
    acc = (a[0] - b[0]) * (a[0] - b[0])
    for i in range(1, len(a)):
        acc = acc + (a[i] - b[i]) * (a[i] - b[i])
    return math.floor(acc * 1e6 + 0.5) / 1e6


def _subvector_rows(df: DataFrame, vec_col: str, id_col: str, dim: int, m: int) -> DataFrame:
    """``(id, sub, sv)``: each vector split into ``m`` disjoint ``dim/m``-dim
    subvectors (one posexplode; pre-spread by id off one-split scans)."""
    dsub = dim // m
    v = F.col(vec_col).cast("array<double>")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.struct(
            j.cast("int").alias("sub"), F.slice(v, j * dsub + 1, dsub).alias("sv")
        ),
    )
    return (
        spread(df.select(F.col(id_col).alias("id"), subs.alias("__subs")), "id")
        .select("id", F.explode("__subs").alias("u"))
        .select("id", F.col("u.sub").alias("sub"), F.col("u.sv").alias("sv"))
    )


def _pq_assign(subr: DataFrame, cdf: DataFrame, dsub: int) -> DataFrame:
    """``(id, sub, cluster, sv)``: nearest codeword per (row, subspace) by
    quantized L2, lowest ``c_id`` on ties.  Codebooks broadcast; rows never
    shuffle beyond the (id, sub) partial-aggregate merge."""
    qd = _sub_l2(F.col("sv"), F.col("c_vec"), dsub)
    return (
        subr.join(F.broadcast(cdf), "sub")
        .groupBy("id", "sub")
        .agg(
            F.min_by("c_id", F.struct(qd, F.col("c_id").cast("double"))).alias(
                "cluster"
            ),
            F.any_value("sv").alias("sv"),
        )
    )


def _pq_assign_packed(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[tuple[int, int, list[float]]],
    dim: int,
    m: int,
) -> DataFrame:
    """Arrow-batched per-subspace nearest-codeword assignment:
    ``(id, sub, cluster, sv)`` rows with the exact :func:`_pq_assign`
    semantics (quantized L2, lowest ``c_id`` on ties) computed from FULL
    vectors in one mapInPandas — no subvector explode, no join, no
    aggregate.

    Why it exists (r16, guide §1.2/§4.2): PQ training re-plans the
    assignment with fresh codebook values every iteration, so the
    expression path pays Catalyst analysis + codegen per iteration —
    driver-side, data-size-independent cost that dominated the honest
    (memo-free) training rows.  The packed plan is three nodes and
    re-plans in ~0.1 s.

    Bit parity with :func:`_pq_assign`: the squared-L2 accumulates
    dims-sequentially (numpy per-dimension adds == the unrolled
    left-associated expression chain == the driver-side Python fold), the
    comparison key is the integer ``floor(acc·1e6 + 0.5)`` (identical
    ordering to the quantized double), NaN distances rank ABOVE every
    float (Spark's total order) via a +inf substitution, and ties pick the
    lowest ``c_id`` — the same contract :func:`_assign_packed` pins for
    the cosine kernel, equivalence-tested in tests/test_dedup_similarity.py.
    """
    import pandas as pd

    dsub = dim // m
    # group codewords per subspace, sorted by c_id so argmin tie-break is
    # deterministic
    by_sub: dict[int, list[tuple[int, list[float]]]] = {}
    for sub, cid, vec in codebooks:
        by_sub.setdefault(sub, []).append((cid, vec))
    sub_ids = sorted(by_sub)
    cid_arrays = {
        s: np.array([c for c, _ in sorted(by_sub[s])], dtype=np.int64)
        for s in sub_ids
    }
    cmat = {
        s: np.array([v for _, v in sorted(by_sub[s])], dtype=np.float64)
        for s in sub_ids
    }
    vtype = df.schema[vec_col].dataType.simpleString()
    # element type of one subvector slice, e.g. array<double>
    sv_type = vtype

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            ids = pdf[id_col].to_numpy()
            out_id, out_sub, out_cluster, out_sv = [], [], [], []
            for s in sub_ids:
                svs = mat[:, s * dsub : (s + 1) * dsub]
                cm = cmat[s]
                acc = np.zeros((svs.shape[0], cm.shape[0]))
                for d_ in range(dsub):
                    diff = np.subtract.outer(svs[:, d_], cm[:, d_])
                    acc = acc + diff * diff
                qi = np.floor(acc * 1e6 + 0.5)  # int compare == quantized cmp
                qcmp = np.where(np.isnan(qi), np.inf, qi)
                best = qcmp.min(axis=1, keepdims=True)
                cids = cid_arrays[s]
                sentinel = int(cids.max()) + 1
                pick = np.where(qcmp == best, cids[None, :], sentinel).min(axis=1)
                out_id.append(ids)
                out_sub.append(np.full(len(ids), s, dtype=np.int32))
                out_cluster.append(pick)
                out_sv.extend([list(row) for row in svs])
            yield pd.DataFrame(
                {
                    "id": np.concatenate(out_id),
                    "sub": np.concatenate(out_sub),
                    "cluster": np.concatenate(out_cluster),
                    "sv": out_sv,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"id long, sub int, cluster bigint, sv {sv_type}"
    )


def pq_train_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
) -> list[tuple[int, int, list[float]]]:
    """Train ``m`` per-subspace codebooks of ``n_codes`` centroids by L2
    k-means — the Product Quantization codebook build (Jégou et al., the
    standard 100 TB ANN compression: vectors become ``m`` small codes, an
    8–32× memory/shuffle cut, and queries scan codes against a tiny
    distance table instead of touching raw floats).

    ALL ``m`` codebooks train together in one pass per iteration: subvector
    rows carry a ``sub`` key, the codebook table is keyed ``(sub, c_id)``,
    and assignment/update run as ONE broadcast join + TWO hash-aggregates
    regardless of ``m`` — not m separate k-means jobs.  The driver collects
    exactly m·n_codes·(dim/m) = dim·n_codes centroid components per
    iteration, never row data.

    Deterministic end-to-end: seeds are the ``n_codes`` lowest-id rows'
    subvectors, assignment uses quantized L2 with the lowest-code tiebreak,
    updates use order-independent :func:`...detagg.davg` — so the full
    training trajectory replays in the DuckDB oracle.

    Returns ``[(sub, c_id, c_vec)]``; empty clusters keep their previous
    centroid.
    """
    dsub = dim // m
    spark = df.sparkSession
    seeds = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.asc("id"))
        .limit(n_codes)
        .collect()
    )
    cents: list[tuple[int, int, list[float]]] = [
        (sub, r["id"], list(r["v"][sub * dsub : (sub + 1) * dsub]))
        for sub in range(m)
        for r in seeds
    ]
    # r16: training iterations run the packed Arrow kernel over FULL
    # vectors (no subvector explode table, no broadcast join, no plan
    # rebuild cost per iteration) — bit-identical to the _pq_assign
    # expression path (see _pq_assign_packed; equivalence-tested), ~15x
    # cheaper per iteration on the driver since each iteration's fresh
    # codebook values ride the task closure instead of a new plan.
    for _ in range(iters):
        assigned = _pq_assign_packed(df, vec_col, id_col, cents, dim, m)
        comp = (
            assigned.select("sub", "cluster", F.posexplode("sv").alias("pos", "val"))
            .groupBy("sub", "cluster", "pos")
            .agg(davg("val").alias("comp"))
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in comp.collect():  # dim·n_codes tiny rows — the only driver data
            upd.setdefault((r["sub"], r["cluster"]), {})[r["pos"]] = r["comp"]
        cents = [
            (sub, cid, [upd[(sub, cid)][p] for p in range(dsub)])
            if (sub, cid) in upd
            else (sub, cid, old)
            for sub, cid, old in cents
        ]
    return cents


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[tuple[int, int, list[float]]],
    dim: int,
    m: int = 8,
) -> DataFrame:
    """``(id, sub, code)``: each vector's per-subspace nearest codeword —
    the compressed representation (m small ints instead of dim floats).

    r16: one packed Arrow pass over full vectors (see
    :func:`_pq_assign_packed`) — the subvector explode + broadcast join +
    min_by aggregate collapse into a single map stage with identical
    output."""
    return _pq_assign_packed(df, vec_col, id_col, codebooks, dim, m).select(
        "id", "sub", F.col("cluster").alias("code")
    )


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    codebooks: list[tuple[int, int, list[float]]],
    k: int = 10,
    m: int = 8,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: ``(id, approx_dist)``,
    ascending (smaller = closer), id tiebreak.

    The query never meets raw vectors: its per-subspace distance table
    (m·n_codes floats, computed driver-side with the bit-identical Python
    twin of the distance) broadcasts, codes equi-join the table, and the
    per-id sum uses order-independent :func:`...detagg.dsum`.  At corpus
    scale this scans only the (id, sub, code) table — the whole point of PQ.
    """
    dim = len(query)
    dsub = dim // m
    tab = [
        (sub, cid, _py_sub_l2(list(query[sub * dsub : (sub + 1) * dsub]), cvec))
        for sub, cid, cvec in codebooks
    ]
    tdf = df.sparkSession.createDataFrame(tab, "sub int, code bigint, qd double")
    codes = pq_encode(df, vec_col, id_col, codebooks, dim, m)
    return (
        codes.join(F.broadcast(tdf), ["sub", "code"])
        .groupBy("id")
        .agg(dsum("qd").alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Embedding curation: cluster-balanced diversity sampling + SemDeDup-style
# semantic dedup (cluster, then exact cosine within cluster).
# ---------------------------------------------------------------------------
def diversity_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
    k_per_cluster: int,
) -> DataFrame:
    """Cluster-balanced sample: assign rows to their nearest (cosine)
    centroid, keep exactly ``k_per_cluster`` per cluster by deterministic
    md5 rank — ``(id, cluster, rk)``.

    The diversity-sampling stage of embedding curation: a uniform sample
    over-represents dense regions of embedding space; sampling a fixed
    budget per k-means cell flattens the density, which is how pretraining
    pipelines keep rare domains represented.  Deterministic end-to-end
    (quantized assignment, hash rank — no ``rand()``), so the cell
    membership AND the sample replay on any engine.

    One broadcast-assign aggregation + one per-cluster window; rows shuffle
    once by cluster.
    """
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.curation import (
        stratified_sample,
    )

    assigned = assign_to_centroids(df, vec_col, id_col, centroids).select(
        "id", "cluster"
    )
    return stratified_sample(assigned, "cluster", "id", k_per_cluster).select(
        "id", "cluster", "rk"
    )


def auto_n_centroids(n_rows: int, target_cell: int = 250) -> int:
    """Corpus-proportional SemDeDup cell count: ``max(8, n_rows //
    target_cell)`` keeps cells constant-size as the corpus grows, which is
    what keeps :func:`semantic_dedup_pairs` linear — within-cell exact
    cosine is O(cell²), so cells must NOT grow with the corpus.  Callers at
    scale should derive ``n_centroids`` from this (train k-means at that k)
    rather than inherit a fixed count from an oracle-pinned configuration.
    Measured (r13, PLANS.md §semdedup-cell-scaling, commit 64b4863): 10× corpus at the pinned 8 cells = 6.6× wall
    (super-linear, cells grew 10×); at the scaled 80 cells = 0.95× wall
    (flat — constant cells, 10× more of them, parallel slack absorbs it)."""
    return max(8, int(n_rows) // max(1, int(target_cell)))


def semantic_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    dim: int | None = None,
    sub_blocks: int = 1,
) -> DataFrame:
    """SemDeDup-style near-duplicate pairs: cluster by nearest centroid,
    compare pairs ONLY within a cluster, keep quantized cosine ≥ threshold —
    ``(id_a, id_b, cosine)`` with ``id_a < id_b``.

    This is the modern embedding-dedup recipe at corpus scale (SemDeDup,
    Abbas et al. 2023): k-means cells act as semantic blocks, so the
    quadratic comparison runs per cell (≈ (n/k)² each) instead of globally
    (n²).  Restricting pairs to same-cell membership is the algorithm's
    DEFINITION, not an approximation bug — cross-cell near-dups are
    intentionally out of contract, which is what makes the SQL oracle exact.

    Plan shape (same packed-matrix scheme as ``dedup.embedding_near_pairs``):
    one broadcast-assign aggregation, then each (cluster, sub-block) packs
    its (id, v) rows once via ``collect_list`` and an Arrow batch multiplies
    the packed cells in numpy.  Packing beats the earlier per-pair equi-join
    4× measured at sf0.1: a pair join materializes BOTH vectors per pair
    (2·dim doubles × |cell|² rows through the shuffle), while packing moves
    each vector once and the quadratic work never leaves the task.

    ``sub_blocks`` (default 1 — one packed cell per cluster) is the hot-cell
    skew/memory knob: ids hash into that many sub-cells, the triangular
    (sa ≤ sb) sub-pair index joins in as a broadcast literal table, and the
    packed sub-cells meet on ``(cluster, sa/sb)`` equi-keys — a packed cell
    is then ~(cell/sub_blocks)·dim doubles and the cell's quadratic work
    spreads over sub_blocks·(sub_blocks+1)/2 tasks.  Output is identical at
    any setting (equivalence-tested): sub-cells partition each cell's ids so
    an unordered pair lands in exactly one (sa ≤ sb) sub-pair; the diagonal
    masks ``id_a < id_b``, off-diagonal cells keep every hit and
    canonicalize (min, max).

    Bit parity: dims-sequential accumulation (per-element order identical to
    a scalar left fold, hence to the DuckDB oracle — see
    ``dedup.embedding_near_pairs``), quantize-to-1e-6 before the threshold;
    dot and norms commute under id canonicalization.

    Scale rule: ``n_centroids`` must grow ∝ corpus so cells stay
    constant-size (:func:`auto_n_centroids`); the catalog row pins 8 cells
    only for oracle reproducibility.  Measured (r13, PLANS.md
    §semdedup-cell-scaling, commit 64b4863, 2k → 20k vectors): pinned 8 cells → 6.6×
    wall at 10× data; scaled 80 cells → 0.95× (flat).  ``sub_blocks`` is the
    orthogonal knob for a single hot cell the centroid layout can't split.
    """
    import pandas as pd

    assigned = assign_to_centroids(df, vec_col, id_col, centroids)
    nb = max(1, sub_blocks)
    packed = (
        assigned.withColumn(
            "sub", F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int")
        )
        .groupBy("cluster", "sub")
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
    )

    def _unpack(rows):
        ids = np.array([r["id"] for r in rows], dtype=np.int64)
        mat = np.array([np.asarray(r["v"], dtype=np.float64) for r in rows])
        return ids, mat

    def _seq_cos(mat_a, mat_b):
        # dims-sequential: per-element order == scalar left fold == oracle
        acc = np.zeros((mat_a.shape[0], mat_b.shape[0]))
        for d_ in range(mat_a.shape[1]):
            acc = acc + np.multiply.outer(mat_a[:, d_], mat_b[:, d_])
        na = np.zeros(mat_a.shape[0])
        nb_ = np.zeros(mat_b.shape[0])
        for d_ in range(mat_a.shape[1]):
            na = na + mat_a[:, d_] * mat_a[:, d_]
            nb_ = nb_ + mat_b[:, d_] * mat_b[:, d_]
        cos = acc / np.multiply.outer(np.sqrt(na), np.sqrt(nb_))
        return np.floor(cos * 1e6 + 0.5) / 1e6

    if nb == 1:
        def diag_cells(batches):
            for pdf in batches:
                for rows in pdf["rows"]:
                    ids, mat = _unpack(rows)
                    cos = _seq_cos(mat, mat)
                    ai, bi = np.nonzero(
                        (cos >= threshold) & (ids[:, None] < ids[None, :])
                    )
                    if len(ai):
                        yield pd.DataFrame(
                            {"id_a": ids[ai], "id_b": ids[bi], "cosine": cos[ai, bi]}
                        )

        return packed.repartition("cluster").mapInPandas(
            diag_cells, schema="id_a long, id_b long, cosine double"
        )

    idx = df.sparkSession.createDataFrame(
        [(a, b) for a in range(nb) for b in range(a, nb)], "sa int, sb int"
    )
    # packed feeds both join sides → persist so the assign+pack aggregation
    # runs once (the sides' projections differ, so exchange reuse can't)
    packed = packed.persist()
    pairs = (
        F.broadcast(idx)
        .join(
            packed.select(
                "cluster", F.col("sub").alias("sa"), F.col("rows").alias("rows_a")
            ),
            "sa",
        )
        .join(
            packed.select(
                F.col("cluster").alias("cluster_b"),
                F.col("sub").alias("sb_r"),
                F.col("rows").alias("rows_b"),
            ),
            (F.col("cluster") == F.col("cluster_b")) & (F.col("sb") == F.col("sb_r")),
        )
        .select("cluster", "sa", "sb", "rows_a", "rows_b")
        .repartition("cluster", "sa", "sb")
    )

    def cross_cells(batches):
        for pdf in batches:
            for sa, sb, rows_a, rows_b in zip(
                pdf["sa"], pdf["sb"], pdf["rows_a"], pdf["rows_b"]
            ):
                ids_a, mat_a = _unpack(rows_a)
                ids_b, mat_b = _unpack(rows_b)
                cos = _seq_cos(mat_a, mat_b)
                hit = cos >= threshold
                if sa == sb:
                    ai, bi = np.nonzero(hit & (ids_a[:, None] < ids_b[None, :]))
                    lo, hi = ids_a[ai], ids_b[bi]
                else:
                    ai, bi = np.nonzero(hit)
                    lo = np.minimum(ids_a[ai], ids_b[bi])
                    hi = np.maximum(ids_a[ai], ids_b[bi])
                if len(ai):
                    yield pd.DataFrame(
                        {"id_a": lo, "id_b": hi, "cosine": cos[ai, bi]}
                    )

    return pairs.mapInPandas(
        cross_cells, schema="id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells + residual product quantization + per-cell ADC —
# the production ANN index layout at corpus scale.
# ---------------------------------------------------------------------------
def ivfpq_residuals(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    coarse: list[tuple[int, list[float]]],
) -> DataFrame:
    """``(id, cluster, rv)``: each vector's coarse-cell assignment and its
    residual ``v − centroid`` — the quantity IVF-PQ encodes (residuals are
    far more compressible than raw vectors because the coarse quantizer has
    already removed the cell mean).

    r16: one packed Arrow stage (assignment by the shared
    :func:`_nearest_cosine_pick` contract + elementwise IEEE subtraction —
    ``v[i] − c[i]`` is the same correctly-rounded op as the old ``zip_with``
    lambda, so the SQL twin stays exact).  The one-node lineage matters
    beyond speed: downstream consumers (PQ training iterations, the encode
    pass, the ADC rank) each re-analyze this subtree per derived plan, and
    the old assignment-expression lineage cost ~0.7 s of driver time per
    re-analysis (measured; guide §7.3 "very large plans")."""
    import pandas as pd

    c_ids = np.array([c for c, _ in coarse], dtype=np.int64)
    cmat = np.array([v for _, v in coarse], dtype=np.float64)
    cvec_by_id = {int(c): cmat[i] for i, c in enumerate(c_ids)}

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            ids = pdf[id_col].to_numpy()
            pick = _nearest_cosine_pick(mat, ids, cmat, c_ids)
            rv = mat - np.array([cvec_by_id[int(c)] for c in pick])
            yield pd.DataFrame(
                {
                    "id": ids,
                    "cluster": pick,
                    "rv": [list(row) for row in rv],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        run, schema="id long, cluster bigint, rv array<double>"
    )


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    coarse: list[tuple[int, list[float]]],
    pq_codebooks: list[tuple[int, int, list[float]]],
    k: int = 10,
    nprobe: int = 3,
    m: int = 8,
    residuals: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ADC top-k: ``(id, approx_dist)`` ascending (approximate
    squared L2 in the residual domain), id tiebreak.

    ``residuals``: optionally the precomputed :func:`ivfpq_residuals`
    frame for ``(df, coarse)`` — callers that already derived it (e.g. to
    train the codebooks) pass it back in so the coarse assignment pass is
    not re-planned from scratch (r16; the function is deterministic, so
    the value is identical either way).

    The full production ANN read path: the query picks its ``nprobe``
    nearest coarse cells driver-side (k tiny centroid vectors, no Spark
    job), per-cell query residuals build an (nprobe·m·n_codes) distance
    table that broadcasts, and ranking scans ONLY the (id, cluster, sub,
    code) table — rows outside probed cells drop at the equi-join, raw
    vectors are never reread.  Persist the code table partitioned by
    ``cluster`` (operators/scale.write_partitioned) and the probe prunes at
    file listing, same as :func:`ivf_probe_partitioned`.

    Deterministic end-to-end (quantized cosine probe selection with id
    tiebreak, quantized-L2 codes, dsum ranking): the DuckDB oracle replays
    coarse training, residual PQ training, encode, and ADC bit-for-bit.
    """
    dim = len(query)
    dsub = dim // m

    def qcos(vec: list[float]) -> float:
        dot = sum(float(a) * float(b) for a, b in zip(vec, query))
        na = math.sqrt(sum(float(a) * float(a) for a in vec))
        nb = math.sqrt(sum(float(b) * float(b) for b in query))
        return math.floor(dot / (na * nb) * 1e6 + 0.5) / 1e6

    probed = sorted(coarse, key=lambda cv: (-qcos(cv[1]), cv[0]))[:nprobe]
    # one (cluster, sub, code, qd) row per probed cell × codeword
    tab = [
        (cid, sub, code, _py_sub_l2(
            [query[sub * dsub + i] - cvec[sub * dsub + i] for i in range(dsub)],
            vec,
        ))
        for cid, cvec in probed
        for sub, code, vec in pq_codebooks
    ]
    tdf = df.sparkSession.createDataFrame(
        tab, "cluster bigint, sub int, code bigint, qd double"
    )
    resid = (
        residuals
        if residuals is not None
        else ivfpq_residuals(df, vec_col, id_col, coarse)
    )
    codes = pq_encode(resid, "rv", "id", pq_codebooks, dim, m).join(
        resid.select("id", "cluster"), "id"
    )
    return (
        codes.join(F.broadcast(tdf), ["cluster", "sub", "code"])
        .groupBy("id")
        .agg(dsum("qd").alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc("id"))
        .limit(k)
    )


def nonzero_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop rows whose vector has zero norm (all-zero embeddings from
    padding, failed encoders, or empty inputs).

    The cosine tier's input CONTRACT: cosine is undefined at zero norm, and
    under ANSI mode the division raises rather than yielding NULL — by
    design, since silently NULLing a corrupt embedding hides an upstream
    bug.  Run this (or equivalent upstream validation) once at ingest;
    it's a codegen'd scan predicate, free relative to any index build.
    Zero-norm detection uses exact float comparison: a vector has norm 0
    iff every component is exactly ±0.0, so `max(abs(v)) != 0` is precise,
    engine-agnostic, and needs no sqrt.
    """
    return df.filter(
        F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
        != F.lit(0.0)
    )
