"""Connected components / dedup collapse (operators/graph.py)."""

from __future__ import annotations

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_collapses_to_one_component(spark):
    # 1-2, 2-3, 3-4: diameter 3, forces multiple propagation rounds
    comp = {
        r["id"]: r["component"]
        for r in connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4)])).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components_stay_separate(spark):
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            _edges(spark, [(1, 2), (10, 11), (11, 12), (20, 21)])
        ).collect()
    }
    assert comp == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_min_label_wins_regardless_of_edge_direction(spark):
    # edges listed high-to-low; component must still be the min id
    comp = {
        r["id"]: r["component"]
        for r in connected_components(_edges(spark, [(9, 5), (5, 7), (7, 3)])).collect()
    }
    assert set(comp.values()) == {3}


def test_long_path_converges_within_iteration_cap(spark):
    n = 12  # path 0-1-...-12: worst-case diameter for plain propagation
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            _edges(spark, [(i, i + 1) for i in range(n)])
        ).collect()
    }
    assert set(comp.values()) == {0}


def test_doubling_equals_frontier(spark):
    """Pointer-doubling CC (r9): identical labels to min-label propagation
    on a mixed graph (chains, star, singles-by-absence, reversed edges)."""
    import random

    rng = random.Random(11)
    pairs = [(i, i + 1) for i in range(30)]                  # long chain
    pairs += [(100, 100 + j) for j in range(1, 8)]           # star
    pairs += [(rng.randint(200, 240), rng.randint(200, 240)) for _ in range(40)]
    pairs += [(301, 300), (303, 302)]                        # reversed pairs
    e = _edges(spark, pairs)
    want = {r["id"]: r["component"]
            for r in connected_components(e, max_iters=40).collect()}
    got = {r["id"]: r["component"]
           for r in connected_components(e, method="doubling").collect()}
    assert got == want


def test_doubling_log_rounds_on_deep_chain(spark):
    """A 64-vertex path: frontier moves the min label 2 hops per sync
    (~diameter/2 syncs), doubling converges in O(log2 diameter) syncs —
    and the stats hook reports both."""
    import pytest

    e = _edges(spark, [(i, i + 1) for i in range(63)])
    st_f, st_d = {}, {}
    connected_components(e, max_iters=80, stats=st_f)
    connected_components(e, method="doubling", max_iters=40, stats=st_d)
    assert st_f["converged"] and st_d["converged"]
    assert st_f["rounds"] >= 30  # linear in diameter
    assert st_d["rounds"] < st_f["rounds"]
    assert st_d["rounds"] <= 7  # log-ish, not linear
    # per-sync shuffle accounting (r10, ADVICE r9): two min-label passes per
    # sync in both methods, plus one pointer-jump join per sync in doubling
    assert st_f["propagations"] == st_f["rounds"] * 2 and st_f["jumps"] == 0
    assert st_d["propagations"] == st_d["rounds"] * 2
    assert st_d["jumps"] == st_d["rounds"]
    # non-convergence now raises loudly instead of returning partial labels
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iters=8)


def test_dedup_clusters_singletons_and_canonicals(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = _edges(spark, [(1, 2), (2, 4)])
    got = {
        r["id"]: (r["cluster"], r["is_canonical"])
        for r in dedup_clusters(docs, pairs, "doc_id").collect()
    }
    assert got == {
        0: (0, True),
        1: (1, True),
        2: (1, False),
        3: (3, True),
        4: (1, False),
        5: (5, True),
    }


class TestPageRank:
    def test_star_graph_center_ranks_highest(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import pagerank

        # spokes 1..5 all point at hub 0; hub points at 1
        edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        pr = {r["id"]: r["pr"] for r in pagerank(df, iters=5).collect()}
        assert max(pr, key=pr.get) == 0
        assert pr[1] > pr[2]  # spoke 1 gets the hub's whole out-mass
        assert pr[2] == pr[3] == pr[4] == pr[5]

    def test_mass_conservation_bound_and_determinism(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import pagerank

        edges = [(i, (i * 3 + 1) % 17) for i in range(40)]
        df = spark.createDataFrame(edges, "src long, dst long")
        a = sorted(map(tuple, pagerank(df, iters=3).collect()))
        b = sorted(map(tuple, pagerank(df.repartition(11), iters=3).collect()))
        assert a == b  # dsum + pure algebra -> bit-identical
        total = sum(pr for _, pr in a)
        # simplified formulation leaks sink mass but never exceeds 1
        assert 0.2 < total <= 1.0 + 1e-9


class TestDedupKeepBest:
    def test_best_quality_survives_chain(self, spark):
        """A≈B≈C chain clusters transitively; the LONGEST member is the
        canonical, not the smallest id."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
            dedup_keep_best,
        )

        docs = spark.createDataFrame(
            [(1, 5.0), (2, 9.0), (3, 7.0), (10, 4.0)], "doc_id long, q double"
        )
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        out = {
            r["id"]: (r["cluster"], r["is_canonical"])
            for r in dedup_keep_best(docs, pairs, "doc_id", "q").collect()
        }
        assert out == {
            1: (1, False),
            2: (1, True),   # highest q in the {1,2,3} cluster
            3: (1, False),
            10: (10, True),  # singleton is its own canonical
        }

    def test_quality_tie_breaks_to_min_id(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
            dedup_keep_best,
        )

        docs = spark.createDataFrame(
            [(5, 3.0), (6, 3.0)], "doc_id long, q double"
        )
        pairs = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
        out = {
            r["id"]: r["is_canonical"]
            for r in dedup_keep_best(docs, pairs, "doc_id", "q").collect()
        }
        assert out == {5: True, 6: False}

    def test_quality_tie_breaks_to_min_id_above_2_53(self, spark):
        """60-bit hash-derived ids (md5_hash60 convention) exceed double
        precision: the negated-id tie-break must stay a LONG, or adjacent
        huge ids compare equal after a double cast and the winner drifts."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
            dedup_keep_best,
        )

        a = (1 << 59) + 2  # consecutive ids collide when rounded to double
        b = a + 1
        docs = spark.createDataFrame([(a, 3.0), (b, 3.0)], "doc_id long, q double")
        pairs = spark.createDataFrame([(a, b)], "id_a long, id_b long")
        out = {
            r["id"]: r["is_canonical"]
            for r in dedup_keep_best(docs, pairs, "doc_id", "q").collect()
        }
        assert out == {a: True, b: False}


class TestCheckpointModes:
    # NOTE: the raises-upfront test must run FIRST in this class — the later
    # tests set a checkpoint dir on the shared session (pytest runs methods
    # in definition order).
    def test_reliable_mode_without_dir_raises_upfront(self, spark):
        import pytest
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
            connected_components,
        )

        if spark.sparkContext.getCheckpointDir() is not None:
            pytest.skip("checkpoint dir already set by an earlier test")
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(pairs, checkpoint_mode="reliable")

    def test_reliable_mode_same_components(self, spark, tmp_path):
        """checkpoint_mode='reliable' (DFS-backed, executor-loss-safe) must
        produce identical components to the default local mode."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (5, 3)], "id_a long, id_b long"
        )
        local = {
            (r["id"], r["component"])
            for r in connected_components(pairs).collect()
        }
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        reliable = {
            (r["id"], r["component"])
            for r in connected_components(
                pairs, checkpoint_mode="reliable"
            ).collect()
        }
        assert reliable == local
        assert local == {(1, 1), (2, 1), (3, 1), (5, 1), (10, 10), (11, 10)}

    def test_pagerank_checkpointed_trajectory_identical(self, spark, tmp_path):
        """Lineage truncation must not change a single bit of the ranks."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 1), (4, 3)], "src long, dst long"
        )
        plain = {r["id"]: r["pr"] for r in pagerank(edges, iters=6).collect()}
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        ckpt = {
            r["id"]: r["pr"]
            for r in pagerank(edges, iters=6, checkpoint_every=2).collect()
        }
        assert ckpt == plain  # exact float equality: same IEEE trajectory
        lcl = {
            r["id"]: r["pr"]
            for r in pagerank(
                edges, iters=6, checkpoint_every=3, checkpoint_mode="local"
            ).collect()
        }
        assert lcl == plain
        # pre-materializing the edge set (the 100 TB recipe, measured in
        # PLANS.md §pagerank-edge-materialization) is also lineage-only
        pre = {
            r["id"]: r["pr"]
            for r in pagerank(
                edges, iters=6, pre_materialized=True, checkpoint_mode="local"
            ).collect()
        }
        assert pre == plain
        pre_rel = {
            r["id"]: r["pr"]
            for r in pagerank(edges, iters=6, pre_materialized=True).collect()
        }
        assert pre_rel == plain

    def test_exactly_one_canonical_per_cluster(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
            dedup_keep_best,
        )
        import pyspark.sql.functions as F

        docs = spark.createDataFrame(
            [(i, float(i % 5)) for i in range(30)], "doc_id long, q double"
        )
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(0, 28, 2)], "id_a long, id_b long"
        )
        out = dedup_keep_best(docs, pairs, "doc_id", "q")
        per = out.groupBy("cluster").agg(
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon")
        )
        assert {r["n_canon"] for r in per.collect()} == {1}


class TestPagerankAdaptiveMaterialization:
    def test_catalog_query_gate_is_value_neutral(self, spark, sf_dir):
        """supplier_customer_pagerank checkpoints its derived edge table
        at every scale (PLANS.md §pagerank-edge-materialization).  That
        choice must not change a single value: the catalog query equals an
        unmaterialized PageRank over the same edges, exactly."""
        import pyspark.sql.functions as F

        from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import (
            pagerank,
        )
        from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES

        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            (F.lit(1000000) + F.col("l_suppkey")).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        base = {(r["id"], r["pr"]) for r in pagerank(edges, iters=3, damping=0.85).collect()}
        fn = QUERIES["supplier_customer_pagerank"].fn
        mat = {(r["id"], r["pr"]) for r in fn(spark, sf_dir).collect()}
        assert mat == base
