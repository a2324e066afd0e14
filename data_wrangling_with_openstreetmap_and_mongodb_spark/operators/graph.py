"""Connected components over similarity edges — the collapse step of a
dedup pipeline.

The dedup family (operators/dedup.py) emits near-duplicate PAIRS; a real
pipeline must collapse pairs into clusters and keep one canonical document
per cluster (duplicate chains matter: A≈B and B≈C put A and C in one
cluster even when A≉C directly).  :func:`connected_components` does this as
iterative min-label propagation in pure DataFrame algebra:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until fixpoint, with a pointer-jumping pass
(``label(v) ← label(label(v))``) after every sync's propagation rounds, so
syncs grow with log2 of the component diameter.  Each round is one
shuffle (edge join + min aggregate, or the jump's self-join); for
near-duplicate clusters the diameter is tiny (duplicates of one source
document link to each other), so one or two syncs suffice.  The per-sync
``count()`` convergence check is a driver action by design: iterative
algorithms are the documented exception to the action-free-plan rule, and
the loop bound caps total work.  :func:`...scale.cut_lineage` cuts
lineage each sync — without it the plan doubles per iteration and the
optimizer, not the data, becomes the bottleneck.

At 100 TB the same loop runs with edges bucketed by vertex; production
systems cut rounds further with the large-star/small-star (HashToMin)
variant — the round structure here is deliberately the simple one because
its every step is oracle-checkable (DuckDB recursive CTE).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import cut_lineage

# Min-label propagation rounds composed per materialization + driver
# convergence check.  A sync costs a checkpoint job and a barrier; an extra
# round deepens lineage and may be wasted past the fixpoint.  On the 10×
# keep-best edge shape, cadence 2 was within noise of 4 and both beat 1
# (PLANS.md §cc-knobs-10x, commit cd542ca).
ROUNDS_PER_SYNC = 2


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """``(id, component)`` for every vertex in ``edges``; ``component`` is
    the minimum vertex id in the connected component (deterministic).

    Each sync runs ``ROUNDS_PER_SYNC`` min-label propagations and one
    pointer jump, then cuts lineage and counts changed labels.  The jump
    halves the remaining chain distance, so a depth-d chain converges in
    about log2(d) syncs instead of d/2 (PLANS.md §cc-diameter-scaling).
    Fails loudly when ``max_iters`` propagation rounds do not reach the
    fixpoint, rather than returning partial labels.
    """
    # Eager checkpoint of the RAW edges, before symmetrization: the edge
    # input is typically an expensive near-dup pipeline (candidate join +
    # verification), and building the symmetric view first would reference —
    # and execute — that pipeline twice in one job.  Materializing the edges
    # once up front makes both union branches cheap scans of in-memory
    # blocks (measured 2.5× on the sf0.1 ngram-pairs cluster query).
    e = cut_lineage(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    sym = cut_lineage(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct(),
        eager=False,
    )
    labels = cut_lineage(
        sym.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id")),
        eager=False,
    )
    def propagate(lbls):
        # pull the minimum neighbor label into each vertex, keep own label
        neigh = (
            sym.join(lbls, sym.src == lbls.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        return lbls.join(neigh, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            (F.coalesce("nlabel", "label") < F.col("label")).alias("__chg"),
        )

    def jump(lbls):
        # pointer jumping: adopt the label OF my label (labels are vertex
        # ids, so this is one equi-join against the label table itself) —
        # halves remaining chain distance per pass, labels stay monotone
        # (label(u) <= u for every vertex u)
        l2 = lbls.select(F.col("id").alias("__jid"), F.col("label").alias("__jl"))
        return lbls.join(l2, F.col("label") == F.col("__jid"), "left").select(
            "id",
            F.coalesce("__jl", "label").alias("label"),
            (F.col("__chg") | (F.coalesce("__jl", "label") < F.col("label"))).alias(
                "__chg"
            ),
        )

    # Near-dup clusters have tiny diameters, so composing rounds usually
    # converges in ONE sync.  Checking only the LAST composed round's change
    # flag is sound: propagation is deterministic and monotone, so a round
    # with zero changes means fixpoint whatever the rounds before it did (the
    # jump's change flag OR-folds in, so a jump-only improvement also keeps
    # the loop alive).
    per = ROUNDS_PER_SYNC
    syncs = (max_iters + per - 1) // per
    for _ in range(syncs):
        step = propagate(labels)
        for _ in range(per - 1):
            step = propagate(step.drop("__chg"))
        updated = cut_lineage(jump(step), eager=False)
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.drop("__chg")
        if changed == 0:
            return labels.select("id", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge within max_iters="
        f"{max_iters} ({syncs} syncs); raise max_iters"
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Cluster assignment + canonical pick over a corpus and its near-dup
    pairs: ``(id, cluster, is_canonical)``.

    Documents not in any pair form singleton clusters of themselves; the
    canonical member is the cluster's minimum id (deterministic, stable
    across runs — the property retries and incremental reruns need).
    """
    comp = connected_components(pairs, src_col, dst_col, max_iters)
    ids = df.select(F.col(id_col).alias("id"))
    joined = ids.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("cluster")
    )
    return joined.withColumn("is_canonical", F.col("id") == F.col("cluster"))


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """:func:`dedup_clusters` with a QUALITY-aware canonical pick:
    ``(id, cluster, is_canonical)`` where each cluster's survivor is its
    highest-``quality_col`` member (minimum id on ties — total order, so
    exactly one canonical per cluster, retry- and engine-stable).

    The production form of the dedup collapse: pipelines keep the BEST
    duplicate (longest, highest quality score, most recent), not the one
    with the smallest id.  One extra hash-agg over the clustered table —
    ``max_by(id, struct(quality, -id))`` — joined back on the cluster key;
    cluster ids remain the min-id component labels so incremental reruns
    keep stable cluster identities even as better members arrive.
    """
    comp = connected_components(pairs, src_col, dst_col, max_iters)
    ids = df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q"))
    clustered = ids.join(comp, "id", "left").select(
        "id", "__q", F.coalesce("component", F.col("id")).alias("cluster")
    )
    best = clustered.groupBy("cluster").agg(
        # negated id stays a LONG: a double cast would lose precision above
        # 2^53 and could flip equal-quality ties for 60-bit hash-derived ids
        # (md5_hash60 convention), breaking the documented min-id winner
        F.max_by(
            "id", F.struct(F.col("__q"), (-F.col("id")).cast("long"))
        ).alias("__best")
    )
    return clustered.join(best, "cluster").select(
        "id", "cluster", (F.col("id") == F.col("__best")).alias("is_canonical")
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Damped PageRank by a fixed number of power iterations — ``(id, pr)``.

    The textbook simplified formulation (no dangling-mass redistribution:
    sinks leak rank, which the damping floor replenishes — the standard
    entity-importance score for link/citation/reference graphs in corpus
    curation, e.g. harvesting per-domain quality priors):

        pr₀(v)   = 1/N
        prₜ₊₁(v) = (1−d)/N + d · Σ_{u→v} prₜ(u)/outdeg(u)

    Every step is deterministic DataFrame algebra: N comes from a one-row
    count aggregate cross-joined in (no driver action, no collected scalar),
    contributions accumulate with order-independent :func:`...detagg.dsum`,
    and the affine update keeps the exact same IEEE expression shape as the
    DuckDB oracle — so the whole trajectory, not just the ranking, replays
    bit-for-bit.  A fixed small ``iters`` is the production idiom for
    curation-grade ranks (convergence to "good" beats convergence to 1e-12).

    Per iteration: one (src) hash join + one (dst) hash aggregate + one
    left join back to the node set — all equi-joins on vertex ids, the same
    bucketing a 100 TB deployment would pre-partition edges by.  The plan
    grows linearly in ``iters`` (no lineage loop — iters is a literal
    constant, so no mid-run cut is needed at single-digit depths).

    The DISTINCT EDGE SET is cut once up front (:func:`...scale.cut_lineage`),
    so each unrolled iteration reads materialized edges through id-keyed
    shuffles instead of re-deriving the upstream edge pipeline (e.g. a
    lineitem⋈orders join) ``iters`` times: 1.44× faster at sf0.1 and 1.30×
    at 10× on the catalog query's edge pipeline (PLANS.md
    §pagerank-edge-materialization).  The tiny node and rank frames are not
    cut: a barrier on them costs more than their re-derivation.  Values
    are identical either way; a cut only changes the plan.
    """
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import dsum

    e = cut_lineage(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # NOT cut: materializing the node set too was built and measured
    # (r16) — it cuts the per-iteration exchanges 14 → 6 but adds a
    # checkpoint barrier that costs more than the tiny exchanges it saves
    # (3.3-3.9 s → 3.9-4.6 s at sf0.1); the unrolled re-derivation off the
    # materialized edges is the cheaper shape at every tested scale.
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    od = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    d = F.lit(damping)
    # (1 - damping) precomputed in Python: DuckDB would constant-fold
    # `1.0 - 0.85` in exact DECIMAL arithmetic (0.15) while doubles give
    # 0.15000000000000002 — injecting the IEEE value keeps both engines
    # bit-identical
    one_minus_d = F.lit(1.0 - damping)
    # No join hints: the rank, out-degree and contribution frames are
    # node-sized, and AQE broadcasts them from runtime statistics (dsum is
    # order-independent, so the join strategy never changes a value).
    for _ in range(iters):
        contrib = (
            e.join(r, e["src"] == r["id"])
            .join(od, "src")
            .groupBy("dst")
            .agg(dsum(F.col("pr") / F.col("deg")).alias("c"))
        )
        r = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, nodes["id"] == contrib["dst"], "left")
            .select(
                "id",
                (
                    one_minus_d / F.col("n")
                    + d * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return r
