"""Connected components / dedup collapse (operators/graph.py)."""

from __future__ import annotations

import pytest

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


def _union_find_components(pairs):
    """Reference labels: vertex -> minimum vertex id of its component."""
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_mixed_graph_matches_union_find(spark):
    """Chains, a star, a random patch and reversed pairs all label like a
    union-find over the same pairs."""
    import random

    rng = random.Random(11)
    pairs = [(i, i + 1) for i in range(30)]                  # long chain
    pairs += [(100, 100 + j) for j in range(1, 8)]           # star
    pairs += [(rng.randint(200, 240), rng.randint(200, 240)) for _ in range(40)]
    pairs += [(301, 300), (303, 302)]                        # reversed pairs
    got = {
        r["id"]: r["component"]
        for r in connected_components(_edges(spark, pairs), max_iters=40).collect()
    }
    assert got == _union_find_components(pairs)


def test_deep_path_converges_in_log_syncs(spark):
    """A 64-vertex path converges within max_iters=16 (8 syncs): the
    pointer jump halves the remaining chain distance each sync.  Min-label
    propagation alone moves the label 2 hops per sync and would need ~32
    syncs, so it would raise here."""
    e = _edges(spark, [(i, i + 1) for i in range(63)])
    comp = {r["id"]: r["component"] for r in connected_components(e, max_iters=16).collect()}
    assert comp == {i: 0 for i in range(64)}
    # non-convergence raises loudly instead of returning partial labels
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iters=4)


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


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A path the test may set as the shared session's checkpoint dir; the
    dir is unset afterwards (PySpark has no public call that unsets one)."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    try:
        yield tmp_path / "ckpt"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def _components(spark):
    pairs = _edges(spark, [(1, 2), (2, 3), (10, 11), (5, 3)])
    return {(r["id"], r["component"]) for r in connected_components(pairs).collect()}


def _pagerank_ranks(spark):
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (4, 3)], "src long, dst long"
    )
    return {r["id"]: r["pr"] for r in pagerank(edges, iters=6).collect()}


class TestCheckpointModes:
    def test_reliable_mode_same_components(self, spark, checkpoint_dir):
        """With a checkpoint dir set, every lineage cut is a reliable
        checkpoint written under it, and the components stay identical to
        the executor-local cuts taken without one."""
        local = _components(spark)
        spark.sparkContext.setCheckpointDir(str(checkpoint_dir))
        reliable = _components(spark)
        assert any(p.name.startswith("rdd-") for p in checkpoint_dir.rglob("*"))
        assert reliable == local == {(1, 1), (2, 1), (3, 1), (5, 1), (10, 10), (11, 10)}

    def test_pagerank_checkpointed_trajectory_identical(self, spark, checkpoint_dir):
        """Lineage truncation must not change a single bit of the ranks:
        the 6-iteration trajectory under reliable checkpoints equals the
        one under executor-local cuts."""
        plain = _pagerank_ranks(spark)
        spark.sparkContext.setCheckpointDir(str(checkpoint_dir))
        ckpt = _pagerank_ranks(spark)
        assert any(p.name.startswith("rdd-") for p in checkpoint_dir.rglob("*"))
        assert ckpt == plain  # exact float equality: same IEEE trajectory

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
        """supplier_customer_pagerank is the operator over the
        lineitem⋈orders edges, value for value: the catalog row adds no
        option of its own."""
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
