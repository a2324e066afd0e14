"""Validate the LSH/approximate operators against their exact counterparts
(the rows-only queries' real correctness check)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_topk,
    lsh_near_pairs,
)


def test_md5_hash_family_matches_duckdb(spark, duck):
    """The engine-agnostic hash primitives under MinHash/SimHash signatures:
    Spark and DuckDB must agree bit-for-bit, including the permutation
    arithmetic staying inside signed-64 (DuckDB errors on bigint overflow)."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
        MERSENNE61,
        _perm_hash,
        minhash_perm_coeffs,
    )
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32,
        md5_hash32_sql,
        md5_hash60,
        md5_hash60_sql,
    )

    words = ["", "a", "hello world", "the quick brown fox", "x" * 500]
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    a, b = minhash_perm_coeffs(1, seed=7)[0]
    srows = df.select(
        "w",
        md5_hash60(F.col("w")).alias("h60"),
        md5_hash32(F.col("w")).alias("h32"),
        _perm_hash(a, b, md5_hash32(F.col("w"))).alias("p"),
    ).collect()
    for r in srows:
        d60, d32, dp = duck.execute(
            f"SELECT {md5_hash60_sql('?')}, {md5_hash32_sql('?')},"
            f" ({a} * {md5_hash32_sql('?')} + {b}) % {MERSENNE61}",
            [r["w"]] * 3,
        ).fetchone()
        assert (r["h60"], r["h32"], r["p"]) == (d60, d32, dp), r["w"][:20]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    rows = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8).collect()
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}


def test_testdata_has_planted_near_dups(exact_pairs):
    # the synthetic corpus plants near-duplicate docs; the exact operator
    # must surface them (guards against a silently-empty dedup pipeline)
    assert len(exact_pairs) >= 5
    assert max(exact_pairs.values()) > 0.95


def test_minhash_lsh_recall(docs, exact_pairs):
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    # 16 bands × 4 rows: P(candidate | j=0.8) ≈ 0.9998 — expect near-total recall
    recall = len(got & set(exact_pairs)) / len(exact_pairs)
    assert recall >= 0.9
    # verification step guarantees precision == 1 vs the exact operator
    assert got <= set(exact_pairs)


def test_simhash_finds_identical_token_docs(spark, docs):
    # plant an exact duplicate: identical token multisets hash to identical
    # simhashes, so the pair must surface at hamming 0
    src = docs.limit(1).select("doc_id", "text").first()
    clone_id = 10_000_000
    clone = spark.createDataFrame([(clone_id, src["text"])], ["doc_id", "text"])
    with_clone = docs.select("doc_id", "text").unionByName(clone)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(with_clone, "text", "doc_id", max_hamming=3).collect()
    }
    assert got.get((src["doc_id"], clone_id)) == 0


def test_dedup_exact_preserves_schema_and_rows(docs):
    out = dedup_exact(docs, "text", "doc_id")
    assert out.columns == docs.columns
    # no exact duplicates in the synthetic corpus → row-preserving
    assert out.count() == docs.count()


def test_ann_lsh_agrees_with_bruteforce(emb):
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r["id"] for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()]
    approx = [
        r["id"]
        for r in lsh_bucket_topk(
            emb, "embedding", "vec_id", q, k=10, bits=8, probe_hamming=3
        ).collect()
    ]
    assert exact[0] == 0  # the query vector itself
    assert approx[0] == 0  # hamming(q, q) = 0 → always probed
    assert len(set(exact) & set(approx)) >= 3


def test_embedding_near_pairs_refuses_above_max_exact_rows(emb, monkeypatch):
    """Above MAX_EXACT_ROWS the exact operator raises and names the
    sub-quadratic operators; it never returns approximate pairs."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_EXACT_ROWS", 1)
    with pytest.raises(ValueError, match="lsh_near_pairs.*semantic_dedup_pairs"):
        dedup.embedding_near_pairs(emb, "embedding", "vec_id", threshold=0.3)


def test_lsh_near_pairs_subset_of_exact(emb):
    approx = lsh_near_pairs(
        emb, "embedding", "vec_id", threshold=0.3, bits=16, bands=4, dim=64
    )
    rows = approx.collect()
    # verification filter bounds precision: every returned pair really has
    # cosine >= threshold
    assert all(r["cosine"] >= 0.3 for r in rows)


def test_embedding_near_pairs_multiblock_equals_singleblock(spark, monkeypatch):
    """Cross-block completeness: with many blocks, every unordered pair must
    still surface exactly once (regression for the off-diagonal mask that
    dropped pairs whose smaller id hashed into the b-side block)."""
    import itertools

    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators import dedup

    n = 40
    clones = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(dedup, "BLOCK_ROWS", 10)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_pairs(
            clones, "embedding", "vec_id", threshold=0.99
        ).collect()
    }
    want = set(itertools.combinations(range(n), 2))
    assert got == want  # full C(40,2) = 780, no loss, no dupes

    # and a non-degenerate corpus: multi-block output == single-block output
    rng_rows = [
        (i, [float((i * 7 + d * 13) % 11 - 5) for d in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rng_rows, "vec_id long, embedding array<double>")

    def pairs(block_rows):
        monkeypatch.setattr(dedup, "BLOCK_ROWS", block_rows)
        return {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in dedup.embedding_near_pairs(
                df, "embedding", "vec_id", threshold=0.5
            ).collect()
        }

    multi, single = pairs(7), pairs(4096)
    assert multi == single and len(single) > 0


def test_embedding_near_pairs_plans_no_nested_loop_join(emb, monkeypatch):
    """The block-pair attach must be hash joins (index side broadcast), never
    a BroadcastNestedLoopJoin/CartesianProduct shipping packed matrices."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators import dedup

    monkeypatch.setattr(dedup, "BLOCK_ROWS", 100)
    plan = dedup.embedding_near_pairs(
        emb, "embedding", "vec_id", threshold=0.3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the block-pair index attaches
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


class TestIvfTrained:
    """K-means-trained IVF: training determinism, recall, and the persisted
    partition-pruned index path (the 100 TB probe)."""

    def test_kmeans_centroids_deterministic_and_shaped(self, emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            kmeans_centroids,
        )

        c1 = kmeans_centroids(emb, "embedding", "vec_id", n_centroids=4, iters=2)
        c2 = kmeans_centroids(emb, "embedding", "vec_id", n_centroids=4, iters=2)
        assert c1 == c2  # bit-identical across runs (davg + quantized assign)
        assert len(c1) == 4 and all(len(v) == 64 for _, v in c1)
        # training moved every centroid off its init vector (the lowest-id
        # embeddings) — the mean of a populated cell differs from its seed
        init = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.orderBy("vec_id").limit(4).collect()
        }
        assert all(vec != init[cid] for cid, vec in c1)

    def test_pq_assign_packed_equals_expression_path(self, spark, emb):
        """r16: the packed Arrow PQ assignment (one map stage over full
        vectors) must pick the exact same (id, sub, cluster) as the
        expression path (_pq_assign over exploded subvectors) — quantized
        L2, lowest-c_id ties."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            _pq_assign,
            _pq_assign_packed,
            _subvector_rows,
        )

        import pyspark.sql.functions as F

        seeds = (
            emb.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
            .orderBy(F.asc("id"))
            .limit(16)
            .collect()
        )
        books = [
            (sub, r["id"], [x * (1.0 + 0.001 * sub) for x in r["v"][sub * 8 : (sub + 1) * 8]])
            for sub in range(8)
            for r in seeds
        ]
        base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
        packed = {
            (r["id"], r["sub"]): r["cluster"]
            for r in _pq_assign_packed(base, "v", "id", books, 64, 8).collect()
        }
        cdf = spark.createDataFrame(books, "sub int, c_id bigint, c_vec array<double>")
        expr = {
            (r["id"], r["sub"]): r["cluster"]
            for r in _pq_assign(_subvector_rows(base, "v", "id", 64, 8), cdf, 8).collect()
        }
        assert packed == expr and len(packed) > 0

    def test_residuals_packed_equals_expression_subtract(self, spark, emb):
        """r16: the packed residual kernel (assign + subtract in one Arrow
        stage) must equal assignment followed by zip_with subtraction."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            assign_to_centroids,
            ivfpq_residuals,
            kmeans_centroids,
        )

        import pyspark.sql.functions as F

        coarse = kmeans_centroids(emb, "embedding", "vec_id", n_centroids=4, iters=1)
        got = {
            r["id"]: (r["cluster"], tuple(r["rv"]))
            for r in ivfpq_residuals(emb, "embedding", "vec_id", coarse).collect()
        }
        cdf = spark.createDataFrame(coarse, "c_id bigint, c_vec array<double>")
        assigned = assign_to_centroids(emb, "embedding", "vec_id", coarse)
        want = {
            r["id"]: (r["cluster"], tuple(r["rv"]))
            for r in assigned.join(F.broadcast(cdf), assigned["cluster"] == cdf["c_id"])
            .select(
                "id",
                "cluster",
                F.zip_with("v", "c_vec", lambda a, b: a.cast("double") - b).alias("rv"),
            )
            .collect()
        }
        assert got == want and len(got) > 0

    def test_ivf_trained_recall_vs_bruteforce(self, spark, emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            ivf_flat_topk_trained,
        )
        from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.trainingdata_queries import (
            _query_vector,
        )

        import os

        sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
        q = _query_vector(spark, sf)
        exact = {r["id"] for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()}
        trained = {
            r["id"]
            for r in ivf_flat_topk_trained(
                emb, "embedding", "vec_id", q, k=10, n_centroids=8, nprobe=3, iters=2
            ).collect()
        }
        # nprobe=3 of 8 cells over structureless random vectors: recall@10
        # must stay healthy (measured 0.9 at sf0.01, 1.0 at sf0.001)
        assert len(trained & exact) / 10 >= 0.7

    def test_ivf_partitioned_index_prunes_and_matches(self, spark, emb, tmp_path):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            ivf_flat_topk_trained,
            ivf_probe_partitioned,
            ivf_write_index,
            kmeans_centroids,
        )
        from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.trainingdata_queries import (
            _query_vector,
        )

        import os

        sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
        q = _query_vector(spark, sf)
        cents = kmeans_centroids(emb, "embedding", "vec_id", n_centroids=8, iters=2)
        path = str(tmp_path / "ivf_index")
        ivf_write_index(emb, path, "embedding", "vec_id", cents)

        probe = ivf_probe_partitioned(spark, path, q, cents, k=10, nprobe=3)
        # partition pruning reaches the file listing: cluster IN (...) shows
        # up as a PartitionFilter, so only nprobe directories are scanned
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "cluster" in plan.split("PartitionFilters", 1)[1][:300]

        # and the pruned-index read answers exactly like the in-memory plan
        mem = ivf_flat_topk_trained(
            emb, "embedding", "vec_id", q, k=10, n_centroids=8, nprobe=3, iters=2
        ).collect()
        assert [(r["id"], r["cosine"]) for r in probe.collect()] == [
            (r["id"], r["cosine"]) for r in mem
        ]


class TestSkewedBlocking:
    """The degenerate case the PPJoin prefix filter exists for: a
    stop-shingle present in half the corpus.  Naive shingle-blocking pairs
    every two docs that share any shingle — C(n/2, 2) from the stop-shingle
    alone; the prefix filter must keep candidates near-linear."""

    def test_stop_shingle_corpus_stays_subquadratic(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
            _shingle_rows,
            ngram_jaccard_pairs,
            prefix_candidates,
        )

        n = 400
        stop = "the quick brown fox jumps"  # 3 shared trigram shingles
        rows = [
            (
                i,
                (stop + " " if i % 2 == 0 else "")
                + " ".join(f"u{i}w{j}" for j in range(8)),
            )
            for i in range(n)
        ]
        # planted near-identical pair rides on top of the skew
        rows.append((1000, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9"))
        rows.append((1001, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        ex = _shingle_rows(docs, "text", "doc_id", n=3)
        n_cand = prefix_candidates(ex, threshold=0.8).count()
        naive_floor = (n // 2) * (n // 2 - 1) // 2  # stop-shingle bucket alone
        # prefixes hold each doc's ~20% RAREST shingles — the 50%-frequency
        # stop shingles never enter one, so candidates stay near-linear
        assert n_cand < n  # measured: just the planted pair; allow slack
        assert n_cand * 20 < naive_floor  # orders of magnitude under |D|²/4

        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8).collect()
        }
        assert got == {(1000, 1001): 1.0}  # recall intact under skew


class TestIncrementalMinhash:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    BASE = "the quick brown fox jumps over the lazy dog again and again today"

    def test_probe_finds_cross_corpus_duplicate_only(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
            minhash_band_index,
            minhash_probe_index,
        )

        corpus = self._docs(
            spark,
            [(1, self.BASE), (2, "completely different words about spark plans")],
        )
        increment = self._docs(
            spark,
            [
                (100, self.BASE),  # exact dup of corpus doc 1
                (101, "unrelated fresh content with novel tokens"),
                (102, self.BASE),  # dup of 1 AND of 100 (increment-internal)
            ],
        )
        index = minhash_band_index(corpus, "text", "doc_id")
        got = {
            (r.new_id, r.corpus_id): r.est_jaccard
            for r in minhash_probe_index(
                increment, index, "text", "doc_id", threshold=0.8
            ).collect()
        }
        # both increment copies match corpus doc 1 with perfect signatures;
        # the increment-internal pair (100,102) is NOT the probe's job
        assert set(got) == {(100, 1), (102, 1)}
        assert all(v == 1.0 for v in got.values())

    def test_probe_agrees_with_full_pairwise_on_crossing_pairs(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
            minhash_band_index,
            minhash_lsh_pairs,
            minhash_probe_index,
        )

        rows = [
            (i, f"shared prefix tokens run long enough for shingles {i % 3}")
            for i in range(12)
        ]
        df = self._docs(spark, rows)
        corpus = df.filter("doc_id % 2 = 0")
        increment = df.filter("doc_id % 2 = 1")
        probe = {
            (r.new_id, r.corpus_id)
            for r in minhash_probe_index(
                increment, minhash_band_index(corpus, "text", "doc_id"),
                "text", "doc_id", threshold=0.99,
            ).collect()
        }
        full = {
            (max(r.id_a, r.id_b), min(r.id_a, r.id_b))
            if r.id_a % 2 == 0
            else (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                df, "text", "doc_id", threshold=0.99
            ).collect()
            if (r.id_a % 2) != (r.id_b % 2)  # crossing pairs only
        }
        # normalize full pairs to (odd new_id, even corpus_id)
        full = {
            (a, b) if a % 2 == 1 else (b, a) for a, b in full
        }
        assert probe == full

    def test_index_carries_band_bucket_sig(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
            minhash_band_index,
        )

        idx = minhash_band_index(
            self._docs(spark, [(1, self.BASE)]), "text", "doc_id"
        )
        assert set(idx.columns) == {"id", "band", "bucket", "sig"}
        rows = idx.collect()
        assert len(rows) == 16  # one row per band
        assert all(len(r.sig) == 64 for r in rows)


class TestSpanDedup:
    """span_dedup: corpus-wide duplicate-span removal + reconstruction."""

    @staticmethod
    def _docs(spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_paragraph_mode_drops_later_occurrences(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import span_dedup

        boiler = "subscribe to our newsletter"
        df = self._docs(
            spark,
            [
                (1, f"alpha body one\n\n{boiler}"),
                (2, f"{boiler}\n\nbeta body two"),
                (3, "gamma body three"),
            ],
        )
        out = {
            r.id: r
            for r in span_dedup(df, "text", "doc_id", sep="\n\n").collect()
        }
        # doc 1 owns the first (id, pos) occurrence of the boilerplate
        assert out[1].clean_text == f"alpha body one\n\n{boiler}"
        assert out[1].n_dropped == 0
        # doc 2 repeats it -> the span is cut, survivors rejoin with the sep
        assert out[2].clean_text == "beta body two"
        assert out[2].n_spans == 2 and out[2].n_dropped == 1
        assert out[3].clean_text == "gamma body three"

    def test_within_document_repeat_is_cut(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import span_dedup

        df = self._docs(spark, [(1, "loop\n\nloop\n\nloop\n\ntail")])
        row = span_dedup(df, "text", "doc_id", sep="\n\n").collect()[0]
        assert row.clean_text == "loop\n\ntail"
        assert row.n_spans == 4 and row.n_dropped == 2

    def test_full_duplicate_doc_empties_in_chunk_mode(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import span_dedup

        words = " ".join(f"w{i}" for i in range(32))  # exactly 2 spans of 16
        df = self._docs(spark, [(1, words), (2, words), (3, "short tail doc")])
        out = {
            r.id: r
            for r in span_dedup(df, "text", "doc_id", span_tokens=16).collect()
        }
        assert out[1].clean_text == words and out[1].n_dropped == 0
        assert out[2].clean_text == "" and out[2].n_dropped == 2
        assert out[3].clean_text == "short tail doc"

    def test_chunk_mode_repartition_invariance(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import span_dedup

        rows = [
            (i, " ".join(f"t{(i * 7 + j) % 40}" for j in range(37)))
            for i in range(30)
        ]
        df = self._docs(spark, rows)
        a = sorted(
            map(tuple, span_dedup(df, "text", "doc_id", span_tokens=8).collect())
        )
        b = sorted(
            map(
                tuple,
                span_dedup(
                    df.repartition(13), "text", "doc_id", span_tokens=8
                ).collect(),
            )
        )
        assert a == b


class TestExactSubstringDedup:
    """exact_substring_dedup: sliding-window all-but-first removal with
    overlap merge and reconstruction (Lee et al. ExactSubstr at shingle
    granularity)."""

    @staticmethod
    def _docs(spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_mid_document_repeat_cut_at_any_offset(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import exact_substring_dedup

        passage = "a b c d e f g h"
        df = self._docs(spark, [
            (0, f"{passage} X Y Z"),        # owns the first occurrence
            (1, f"p q {passage} r s"),      # repeats it at offset 2 -> cut
            (2, "m n o"),                   # shorter than k -> untouched
            (3, ""),                        # empty doc
        ])
        out = {r.id: r for r in
               exact_substring_dedup(df, "text", "doc_id", k=8).collect()}
        assert out[0].clean_text == f"{passage} X Y Z" and out[0].n_removed == 0
        # span_dedup's disjoint 8-token chunks would MISS this offset-2 repeat
        assert out[1].clean_text == "p q r s"
        assert out[1].n_tokens == 12 and out[1].n_removed == 8
        assert out[2].clean_text == "m n o" and out[2].n_removed == 0
        assert out[3].clean_text == "" and out[3].n_tokens == 0

    def test_internal_repetition_and_overlap_merge(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import exact_substring_dedup

        # 2x the same 8 tokens: every sliding window is a duplicate of the
        # doc-0 original, overlapping cuts merge, the WHOLE doc empties
        passage = "a b c d e f g h"
        df = self._docs(spark, [
            (0, f"{passage} tail"),
            (3, f"{passage} {passage}"),
        ])
        out = {r.id: r for r in
               exact_substring_dedup(df, "text", "doc_id", k=8).collect()}
        assert out[0].n_removed == 0
        assert out[3].clean_text == "" and out[3].n_removed == 16

    def test_partial_overlap_keeps_unique_suffix(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import exact_substring_dedup

        # doc 1 shares only the first 9 tokens with doc 0: windows at pos 0
        # and 1 duplicate, covering tokens 0..8; the unique tail survives
        shared = "a b c d e f g h i"
        df = self._docs(spark, [
            (0, f"{shared} unique0 end0"),
            (1, f"{shared} unique1 end1 more1"),
        ])
        out = {r.id: r for r in
               exact_substring_dedup(df, "text", "doc_id", k=8).collect()}
        assert out[0].n_removed == 0
        assert out[1].clean_text == "unique1 end1 more1"
        assert out[1].n_removed == 9

    def test_min_count_threshold(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import exact_substring_dedup

        passage = "a b c d e f g h"
        df = self._docs(spark, [(0, passage), (1, passage), (2, passage)])
        # min_count=4: a window present 3x stays everywhere
        out = {r.id: r for r in exact_substring_dedup(
            df, "text", "doc_id", k=8, min_count=4).collect()}
        assert all(out[i].n_removed == 0 for i in (0, 1, 2))
        # default min_count=2: all but the doc-0 original are cut
        out2 = {r.id: r for r in exact_substring_dedup(
            df, "text", "doc_id", k=8).collect()}
        assert out2[0].n_removed == 0
        assert out2[1].clean_text == "" and out2[2].clean_text == ""

    def test_repartition_invariance(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import exact_substring_dedup

        rows = [
            (i, " ".join(f"t{(i * 5 + j) % 23}" for j in range(30)))
            for i in range(24)
        ]
        df = self._docs(spark, rows)
        a = sorted(map(tuple, exact_substring_dedup(
            df, "text", "doc_id", k=6).collect()))
        b = sorted(map(tuple, exact_substring_dedup(
            df.repartition(13), "text", "doc_id", k=6).collect()))
        assert a == b


class TestProductQuantization:
    """PQ codebooks + ADC: training determinism, encode shape, rank quality."""

    def test_codebooks_deterministic_and_shaped(self, emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            pq_train_codebooks,
        )

        c1 = pq_train_codebooks(emb, "embedding", "vec_id", dim=64, m=8, n_codes=4, iters=2)
        c2 = pq_train_codebooks(emb, "embedding", "vec_id", dim=64, m=8, n_codes=4, iters=2)
        assert c1 == c2  # davg updates + quantized assignment -> bit-identical
        assert len(c1) == 8 * 4
        assert all(len(vec) == 8 for _, _, vec in c1)
        assert {sub for sub, _, _ in c1} == set(range(8))

    def test_encode_one_code_per_subspace(self, emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            pq_encode,
            pq_train_codebooks,
        )

        cb = pq_train_codebooks(emb, "embedding", "vec_id", dim=64, m=8, n_codes=4, iters=1)
        codes = pq_encode(emb, "embedding", "vec_id", cb, dim=64, m=8)
        n = emb.count()
        assert codes.count() == n * 8
        assert codes.groupBy("id").count().filter("count <> 8").count() == 0
        valid = {(s, c) for s, c, _ in cb}
        assert all((r.sub, r.code) in valid for r in codes.collect())

    def test_adc_ranks_query_like_neighbors_first(self, spark, emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            cosine_topk,
            pq_adc_topk,
            pq_train_codebooks,
        )
        from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.trainingdata_queries import (
            _query_vector,
        )

        import os

        sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
        q = _query_vector(spark, sf)
        cb = pq_train_codebooks(emb, "embedding", "vec_id", dim=64, m=8, n_codes=16, iters=2)
        got = pq_adc_topk(emb, "embedding", "vec_id", q, cb, k=10, m=8).collect()
        ids = [r.id for r in got]
        # ascending distance, deterministic tiebreak
        dists = [r.approx_dist for r in got]
        assert dists == sorted(dists)
        # the query vector itself (vec_id 0) quantizes closest to its own
        # codewords — it must appear in the ADC top-10
        assert 0 in ids
        # compressed-domain ranking is approximate; against 64-dim random
        # vectors expect some exact-top-10 overlap, not none
        exact = {r["id"] for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()}
        assert len(set(ids) & exact) >= 1


class TestEmbeddingCuration:
    """diversity_sample + semantic_dedup_pairs over trained k-means cells."""

    @staticmethod
    def _cents(emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            kmeans_centroids,
        )

        return kmeans_centroids(emb, "embedding", "vec_id", n_centroids=4, iters=1)

    def test_diversity_sample_exactly_k_per_cell(self, emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            diversity_sample,
        )

        cents = self._cents(emb)
        out = diversity_sample(emb, "embedding", "vec_id", cents, k_per_cluster=3)
        per = {r["cluster"]: r["count"] for r in out.groupBy("cluster").count().collect()}
        n = emb.count()
        assert all(c <= 3 for c in per.values())
        # every populated cell contributes (4 cells over >=12 rows -> all full)
        if n >= 50:
            assert set(per.values()) == {3}
        # deterministic under repartition
        a = sorted(map(tuple, out.collect()))
        b = sorted(
            map(
                tuple,
                diversity_sample(
                    emb.repartition(7), "embedding", "vec_id", cents, k_per_cluster=3
                ).collect(),
            )
        )
        assert a == b

    def test_semantic_dedup_finds_same_cell_duplicates_only(self, spark):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            kmeans_centroids,
            semantic_dedup_pairs,
        )

        # two well-separated groups; the two lowest ids (the k-means seeds)
        # come from OPPOSITE groups so both cells stay populated; ids 10/11
        # identical (same cell), 10/20 opposite (different cells)
        base_a = [1.0, 0.0, 0.0, 0.0]
        base_b = [-1.0, 0.0, 0.0, 0.0]
        rows = (
            [(1, base_a), (2, base_b)]
            + [(10, base_a), (11, base_a), (12, [0.9, 0.1, 0.0, 0.0])]
            + [(20, base_b), (21, base_b), (22, [-0.9, -0.1, 0.0, 0.0])]
        )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = kmeans_centroids(df, "embedding", "vec_id", n_centroids=2, iters=2)
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in semantic_dedup_pairs(
                df, "embedding", "vec_id", cents, threshold=0.99
            ).collect()
        }
        assert (10, 11) in got and got[(10, 11)] == 1.0
        assert (20, 21) in got and got[(20, 21)] == 1.0
        assert all(a < b for a, b in got)
        assert not any({a, b} == {10, 20} for a, b in got)


class TestIvfPq:
    """IVF-PQ: residuals, probe pruning, ADC ranking quality."""

    @staticmethod
    def _index(spark, emb, sf):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            ivfpq_residuals,
            kmeans_centroids,
            pq_train_codebooks,
        )

        coarse = kmeans_centroids(emb, "embedding", "vec_id", n_centroids=8, iters=2)
        resid = ivfpq_residuals(emb, "embedding", "vec_id", coarse)
        cb = pq_train_codebooks(resid, "rv", "id", dim=64, m=8, n_codes=16, iters=1)
        return coarse, cb

    def test_residuals_reconstruct_vectors(self, spark, emb):
        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            ivfpq_residuals,
            kmeans_centroids,
        )

        coarse = kmeans_centroids(emb, "embedding", "vec_id", n_centroids=4, iters=1)
        cents = dict(coarse)
        resid = ivfpq_residuals(emb, "embedding", "vec_id", coarse)
        orig = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
        for r in resid.limit(20).collect():
            c = cents[r["cluster"]]
            rebuilt = [rv + cv for rv, cv in zip(r["rv"], c)]
            assert all(abs(a - b) < 1e-9 for a, b in zip(rebuilt, orig[r["id"]]))

    def test_adc_restricted_to_probed_cells(self, spark, emb):
        import os

        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            _assign_to_centroids,
            ivfpq_topk,
        )
        from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.trainingdata_queries import (
            _query_vector,
        )

        sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
        q = _query_vector(spark, sf)
        coarse, cb = self._index(spark, emb, sf)
        cdf = emb.sparkSession.createDataFrame(coarse, "c_id bigint, c_vec array<double>")
        cells = {
            r["id"]: r["cluster"]
            for r in _assign_to_centroids(emb, "embedding", "vec_id", cdf).collect()
        }
        out = ivfpq_topk(
            emb, "embedding", "vec_id", q, coarse, cb, k=50, nprobe=2, m=8
        ).collect()
        probed_cells = {cells[r["id"]] for r in out}
        assert len(probed_cells) <= 2  # results only from probed cells
        dists = [r["approx_dist"] for r in out]
        assert dists == sorted(dists)

    def test_adc_deterministic_and_query_found(self, spark, emb):
        import os

        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            ivfpq_topk,
        )
        from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.trainingdata_queries import (
            _query_vector,
        )

        sf = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
        q = _query_vector(spark, sf)
        coarse, cb = self._index(spark, emb, sf)
        a = [tuple(r) for r in ivfpq_topk(emb, "embedding", "vec_id", q, coarse, cb, k=10).collect()]
        b = [tuple(r) for r in ivfpq_topk(
            emb.repartition(9), "embedding", "vec_id", q, coarse, cb, k=10
        ).collect()]
        assert a == b
        # vec_id 0 IS the query: its cell is always the nearest probed cell
        # and its codes minimize the table by construction -> top-10 member
        assert 0 in {r[0] for r in a}


class TestZeroVectorContract:
    def test_zero_vector_raises_and_filter_restores(self, spark):
        import pytest as _pytest

        from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
            cosine_topk,
            nonzero_vectors,
        )

        rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5]), (2, [0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        # ANSI division surfaces the corrupt embedding loudly ...
        with _pytest.raises(Exception, match="DIVIDE_BY_ZERO|ArithmeticException"):
            cosine_topk(df, "embedding", "vec_id", [1.0, 0.0], k=3).collect()
        # ... and the documented ingest-time contract restores service
        clean = nonzero_vectors(df, "embedding")
        got = [r.id for r in cosine_topk(clean, "embedding", "vec_id", [1.0, 0.0], k=3).collect()]
        assert got == [0, 1]


def test_packed_assignment_matches_expression_path(spark, sf_dir):
    """The Arrow-batched nearest-centroid kernel (k >= _ASSIGN_PACKED_MIN_K)
    must reproduce the HOF expression path's assignment EXACTLY — quantized
    cosine, lowest-c_id ties — on real embeddings with a centroid count
    above the dispatch threshold (r13: the semdedup scale probe found the
    expression path interpreting n*k cosine folds, 2.5x the whole query at
    k=80)."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import load_table
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
        _ASSIGN_PACKED_MIN_K,
        _assign_packed,
        _assign_to_centroids,
        kmeans_centroids,
    )

    e = load_table(spark, sf_dir, "embeddings")
    k = max(20, _ASSIGN_PACKED_MIN_K + 4)
    cents = kmeans_centroids(e, "embedding", "vec_id", n_centroids=k, iters=1)
    cdf = spark.createDataFrame(cents, "c_id bigint, c_vec array<double>")
    expr = {
        r["id"]: r["cluster"]
        for r in _assign_to_centroids(e, "embedding", "vec_id", cdf).collect()
    }
    packed = {
        r["id"]: r["cluster"]
        for r in _assign_packed(e, "embedding", "vec_id", cents).collect()
    }
    assert packed == expr
    assert len(packed) == e.count()
    # v keeps the input element type (downstream pack/persist plans unchanged)
    vt = dict(_assign_packed(e, "embedding", "vec_id", cents).dtypes)["v"]
    assert vt == dict(e.dtypes)["embedding"]


def test_packed_assignment_degenerate_vectors_match(spark):
    """Degenerate-vector parity across the k-dispatch (ADVICE r13): a
    NaN-component vector makes every cosine NaN, and Spark's total order
    ranks NaN above all floats, so the HOF path assigns the LOWEST c_id —
    the packed kernel must do the same (it used to fall through to a
    nonexistent sentinel cluster, silently dropped by downstream inner
    joins on c_id).  A ZERO-NORM vector or centroid makes the divisor 0,
    which the expression path rejects under ANSI (DIVIDE_BY_ZERO) — the
    packed kernel must raise too, not silently mint NaN."""
    import pytest

    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
        _ASSIGN_PACKED_MIN_K,
        _assign_packed,
        _assign_to_centroids,
    )

    k = _ASSIGN_PACKED_MIN_K
    dim = 4
    cents = [(10 + i, [float(i + 1), 1.0, float(k - i), 2.0]) for i in range(k)]
    cdf = spark.createDataFrame(cents, "c_id bigint, c_vec array<double>")

    nan_rows = [
        (2, [float("nan"), 1.0, 1.0, 1.0]),  # NaN component -> all-NaN cosines
        (3, [1.0, 2.0, 3.0, 4.0]),           # healthy control row
    ]
    df = spark.createDataFrame(nan_rows, "vec_id bigint, embedding array<double>")
    expr = {
        r["id"]: r["cluster"]
        for r in _assign_to_centroids(df, "embedding", "vec_id", cdf).collect()
    }
    packed = {
        r["id"]: r["cluster"]
        for r in _assign_packed(df, "embedding", "vec_id", cents).collect()
    }
    assert packed == expr
    assert packed[2] == 10  # lowest c_id, not a phantom cluster
    assert all(c in {c0 for c0, _ in cents} for c in packed.values())

    # zero-norm ROW: expression path raises DIVIDE_BY_ZERO under ANSI; the
    # packed kernel raises its own explicit ValueError naming the ids.
    zdf = spark.createDataFrame(
        [(1, [0.0] * dim)], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _assign_to_centroids(zdf, "embedding", "vec_id", cdf).collect()
    with pytest.raises(Exception, match="zero-norm vector"):
        _assign_packed(zdf, "embedding", "vec_id", cents).collect()

    # zero-norm CENTROID: same contract on the centroid side.
    cents_zero = [(10, [0.0] * dim)] + cents[1:]
    with pytest.raises(Exception, match="zero-norm centroid"):
        _assign_packed(df, "embedding", "vec_id", cents_zero).collect()


def test_auto_n_centroids_rule():
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
        auto_n_centroids,
    )

    assert auto_n_centroids(2_000) == 8        # the sf0.1 pin reproduced
    assert auto_n_centroids(20_000) == 80      # 10x corpus -> 10x cells
    assert auto_n_centroids(100) == 8          # floor
