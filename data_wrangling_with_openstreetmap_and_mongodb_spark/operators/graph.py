"""Connected components over similarity edges — the collapse step of a
dedup pipeline.

The dedup family (operators/dedup.py) emits near-duplicate PAIRS; a real
pipeline must collapse pairs into clusters and keep one canonical document
per cluster (duplicate chains matter: A≈B and B≈C put A and C in one
cluster even when A≉C directly).  :func:`connected_components` does this as
iterative min-label propagation in pure DataFrame algebra:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until fixpoint.  Each round is one shuffle (edge join + min
aggregate); convergence takes at most the graph diameter rounds — for
near-duplicate clusters the diameter is tiny (duplicates of one source
document link to each other), so a handful of rounds suffice.  The
per-round ``count()`` convergence check is a driver action by design:
iterative algorithms are the documented exception to the action-free-plan
rule, and the loop bound caps total work.  ``localCheckpoint`` truncates
lineage each round — without it the plan doubles per iteration and the
optimizer, not the data, becomes the bottleneck.

At 100 TB the same loop runs with edges bucketed by vertex; production
systems cut rounds further with the large-star/small-star (HashToMin)
variant — the round structure here is deliberately the simple one because
its every step is oracle-checkable (DuckDB recursive CTE).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Min-label propagation rounds composed per materialization + driver
# convergence check.  A sync costs a checkpoint job and a barrier; an extra
# round deepens lineage and may be wasted past the fixpoint.  On the 10×
# keep-best edge shape, cadence 2 was within noise of 4 and both beat 1
# (PLANS.md §cc-knobs-10x, commit cd542ca).
ROUNDS_PER_SYNC = 2


def _truncate(df: DataFrame, mode: str, eager: bool = True) -> DataFrame:
    """Cut lineage per ``mode``:

    - ``"local"`` — ``localCheckpoint``: blocks live on executor local
      storage.  Fast (no DFS round-trip), but an executor loss mid-job
      loses the blocks AND the lineage to rebuild them — fine on local[N]
      and short-lived jobs, unsafe for long iterative jobs on a real
      cluster.
    - ``"reliable"`` — ``checkpoint``: blocks go to the configured
      checkpoint directory (HDFS/DFS), surviving any executor loss.  Costs
      a write barrier per call; requires ``sc.setCheckpointDir`` (raises
      with guidance when unset rather than failing deep inside the job).
    """
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint_mode='reliable' needs "
                "spark.sparkContext.setCheckpointDir(<DFS path>) first"
            )
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(f"unknown checkpoint_mode: {mode!r}")
    return df.localCheckpoint(eager=eager)


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 20,
    checkpoint_mode: str = "local",
    method: str = "frontier",
    stats: dict | None = None,
) -> DataFrame:
    """``(id, component)`` for every vertex in ``edges``; ``component`` is
    the minimum vertex id in the connected component (deterministic).

    ``checkpoint_mode='reliable'`` swaps every lineage truncation for a
    DFS-backed ``checkpoint()`` so a lost executor costs a task retry, not
    the job (VERDICT r3 ask #4) — the cluster-safe setting for long runs;
    ``'local'`` (default) keeps the faster executor-local blocks.  Measured
    at sf0.1 (ngram-pairs cluster collapse): see PLANS.md §checkpoint-modes.

    ``method`` (r9 — VERDICT r8 ask #6, the 30–100x diameter story):

    - ``"frontier"`` (default): pure min-label propagation — sync rounds
      grow LINEARLY with component diameter.  Right for near-dup clusters
      (duplicates of one source link to each other; diameters of 2–5) and
      fully oracle-checkable.
    - ``"doubling"``: each sync adds a pointer-jumping pass
      (``label(v) ← label(label(v))`` — labels are vertex ids, so the hop
      is one more equi-join) that halves remaining chain distance: sync
      rounds grow with **log2(diameter)**.  One extra shuffle per sync, so
      it loses on tiny diameters and wins asymptotically — measured
      crossover in PLANS.md §cc-diameter-scaling.

    Non-convergence within ``max_iters`` now RAISES (was: silently returned
    partial labels — a correctness hazard for high-diameter graphs).
    ``stats`` (optional dict) receives ``rounds`` (sync count),
    ``propagations`` (min-label passes: ``ROUNDS_PER_SYNC`` per sync), and
    ``jumps`` (pointer jumps: 1/sync in doubling mode, else 0) for
    measurement harnesses — per-sync shuffle work is ``propagations + jumps``.
    """
    if method not in ("frontier", "doubling"):
        raise ValueError(f"unknown method: {method!r} (frontier/doubling)")
    # Eager checkpoint of the RAW edges, before symmetrization: the edge
    # input is typically an expensive near-dup pipeline (candidate join +
    # verification), and building the symmetric view first would reference —
    # and execute — that pipeline twice in one job.  Materializing the edges
    # once up front makes both union branches cheap scans of in-memory
    # blocks (measured 2.5× on the sf0.1 ngram-pairs cluster query).
    e = _truncate(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        checkpoint_mode,
        eager=True,
    )
    sym = _truncate(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct(),
        checkpoint_mode,
        eager=False,
    )
    labels = _truncate(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id")),
        checkpoint_mode,
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
    # with zero changes means fixpoint whatever the rounds before it did (in
    # doubling mode the jump's change flag OR-folds in, so a jump-only
    # improvement also keeps the loop alive).
    per = ROUNDS_PER_SYNC
    rounds = 0
    converged = False
    for _ in range((max_iters + per - 1) // per):
        rounds += 1
        step = propagate(labels)
        for _ in range(per - 1):
            step = propagate(step.drop("__chg"))
        if method == "doubling":
            step = jump(step)
        updated = _truncate(step, checkpoint_mode, eager=False)
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.drop("__chg")
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        # per-sync shuffle passes: ROUNDS_PER_SYNC min-label propagations,
        # plus one pointer-jump join in doubling mode (r10, ADVICE r9 — the
        # probe harness compares per-sync work across methods, so the jump
        # pass must count)
        stats["propagations"] = rounds * per
        stats["jumps"] = rounds if method == "doubling" else 0
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iters="
            f"{max_iters} ({rounds} syncs, method={method!r}); raise "
            "max_iters or use method='doubling' for high-diameter graphs"
        )
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    checkpoint_mode: str = "local",
    method: str = "frontier",
    max_iters: int = 20,
) -> DataFrame:
    """Cluster assignment + canonical pick over a corpus and its near-dup
    pairs: ``(id, cluster, is_canonical)``.

    Documents not in any pair form singleton clusters of themselves; the
    canonical member is the cluster's minimum id (deterministic, stable
    across runs — the property retries and incremental reruns need).
    """
    comp = connected_components(
        pairs, src_col, dst_col, max_iters, checkpoint_mode, method
    )
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
    checkpoint_mode: str = "local",
    method: str = "frontier",
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
    comp = connected_components(
        pairs, src_col, dst_col, max_iters, checkpoint_mode, method
    )
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
    checkpoint_every: int = 0,
    checkpoint_mode: str = "reliable",
    pre_materialized: bool = False,
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
    constant, so no checkpoint needed at single-digit depths).

    For DEEP runs on a real cluster set ``checkpoint_every=k``: the rank
    frame is checkpointed every k iterations, bounding both plan size and
    the recomputation window after an executor loss.  The default mode is
    ``'reliable'`` (DFS-backed ``checkpoint()`` — survives executor loss;
    requires ``sc.setCheckpointDir``) because a job deep enough to need
    truncation is exactly the job that cannot afford executor-local blocks
    (VERDICT r3 ask #4); pass ``checkpoint_mode='local'`` to trade that
    durability for speed on local[N].  Values are unchanged either way —
    truncation only cuts lineage, so the trajectory oracle holds in every
    mode.  Barrier cost measured at sf0.1: see PLANS.md §checkpoint-modes.

    ``pre_materialized=True`` checkpoints the DISTINCT EDGE SET once up
    front (mode per ``checkpoint_mode``), so each unrolled iteration reads
    materialized edges through id-keyed shuffles instead of re-deriving
    the upstream edge pipeline (e.g. a lineitem⋈orders join) ``iters``
    times.  Values are identical (trajectory oracle holds; asserted in the
    probe before timing).  Measured, not asserted — PLANS.md
    §pagerank-edge-materialization (commit 29f8e24): on the catalog
    query's lineitem⋈orders derivation, 1.44× faster at sf0.1 (600k edge rows) and 1.30× at 10×
    (6M rows) — unlike a ``.persist()`` of the tiny node/rank frames
    (measured 2.4× SLOWER, see below), one lineage cut on the BULKY
    derived table is a win at every tested scale, and the margin grows
    with derivation cost.  The 100 TB recipe is pre_materialized=True (or
    persist/write the edge table yourself); the default stays False only
    because trivially-derived ad-hoc graphs don't need the barrier.
    """
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import dsum

    # Deliberately NOT persisted by default: at tested scales Catalyst
    # re-derives the edge/node sets cheaply inside each iteration's
    # collapsed plan and AQE coalesces the tiny shuffles, while a cache
    # boundary pins the pre-AQE partition layout and pays per-stage
    # scheduling on every cached read (measured 2.4× slower at sf0.1).  On
    # a REAL graph — where `edges` is an expensive multi-table join — pass
    # pre_materialized=True (or persist/write the edge set yourself); the
    # operator composes with either choice.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    if pre_materialized:
        e = _truncate(e, checkpoint_mode, eager=True)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # NOT truncated: materializing the node set too was built and measured
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
    for i in range(iters):
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
        # truncate mid-run only: the final frame returns to the caller's
        # plan, where a trailing checkpoint would be a pure extra barrier
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            r = _truncate(r, checkpoint_mode, eager=True)
    return r
