"""Corpus search and statistical-LM scoring: BM25 keyword ranking and
unigram language-model log-probability (a classic data-quality signal).

Both are expressed as pure DataFrame aggregation pipelines over one exploded
token stream — no inverted index is materialized driver-side, no Python row
path — so they run as ordinary shuffled hash-aggregates at corpus scale:

- :func:`bm25_topk` — Okapi BM25 over whitespace tokens.  The corpus-level
  statistics it needs (document frequency per query term, average document
  length) are tiny: per-term DF is at most ``len(terms)`` rows (broadcast),
  and the length stats are a single row (broadcast cross-join).  The corpus
  side is touched exactly twice, both times as linear scans feeding hash
  aggregates; the final ranking is a ``TakeOrderedAndProject`` top-k, never
  a full sort.
- :func:`unigram_logprob` — per-document mean log-probability under the
  corpus's own unigram distribution.  Low (very negative) scores mark
  documents made of rare junk tokens; high scores mark boilerplate.  The
  vocabulary table is built with one hash-aggregate and joined back by
  token (AQE broadcasts it when small — natural-language vocabularies are
  millions of rows against billions of documents, well inside broadcast
  range after the count aggregation).

Determinism/oracle story: token probabilities and BM25 addends are combined
with the quantized order-independent sum (functions/detagg.py), and ``ln``
is bit-identical between the JVM and DuckDB (verified on this platform), so
both scores hash-match an external SQL oracle at any parallelism.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import (
    davg,
    dsum,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.curation import (
    _exploded_tokens,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import cut_lineage
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import spread
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
    token_count,
)


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 scores for every MATCHING document (no ranking cut):
    ``(id, score, n_terms_hit)`` — the scoring core shared by
    :func:`bm25_topk` and the ``$search`` stage facade
    (docstore/pipeline.py).

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))
    idf(t)   = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))

    Plan shape: one exploded-token scan → per-(id, term) tf hash-agg (the
    pre-shuffle by id satisfies the grouping, so no extra exchange); df(t)
    reduces the tf rows to ≤ ``len(terms)`` rows (broadcast back); doc
    lengths come from a codegen'd regex count on the base table with the
    (N, avgdl) single row broadcast onto scorers.  Per-document scores
    combine with the quantized order-independent sum, so ranking ties are
    engine-stable.  Final top-k is TakeOrderedAndProject.
    """
    lower_terms = [t.lower() for t in terms]
    # Term filter INSIDE the token array, before any explode: the row stream
    # entering the shuffle carries only query-term hits (a handful per
    # document) instead of every token — at corpus scale the full-token
    # explode, not the scoring, is the bottleneck.  The spread keeps the
    # tokenize+filter pass parallel off few-split scans.
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        whitespace_tokens,
    )

    hits = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id").select(
        "id",
        F.explode(
            F.filter(
                whitespace_tokens(F.lower(F.col("__text"))),
                lambda t: t.isin(*lower_terms),
            )
        ).alias("tok"),
    )
    tf = hits.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    dl = df.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).cast("double").alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    contrib = (
        tf.join(dl, "id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(dfreq), "tok")
        .select(
            "id",
            (
                idf
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    return contrib.groupBy("id").agg(
        dsum("s").alias("score"), F.count(F.lit(1)).alias("n_terms_hit")
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag of query ``terms`` by Okapi BM25:
    ``(id, score, n_terms_hit)``, score descending, id ascending on ties
    (TakeOrderedAndProject over :func:`bm25_scores`)."""
    return (
        bm25_scores(df, text_col, id_col, terms, k1=k1, b=b)
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def bm25_topk_sql(
    table: str,
    text_expr: str,
    id_expr: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB oracle reproducing :func:`bm25_topk` value-for-value."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import (
        dsum_sql,
    )

    term_list = "[" + ", ".join(f"'{t.lower()}'" for t in terms) + "]"
    return f"""
        WITH toks AS (
            SELECT {id_expr} AS id,
                   unnest(list_filter(string_split(lower({text_expr}), ' '),
                                      x -> x <> '')) AS tok
            FROM {table}
        ),
        tf AS (
            SELECT id, tok, COUNT(*) AS tf FROM toks
            WHERE list_contains({term_list}, tok) GROUP BY id, tok
        ),
        dfreq AS (SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok),
        dl AS (
            SELECT {id_expr} AS id,
                   CAST(len(list_filter(string_split({text_expr}, ' '),
                                        x -> x <> '')) AS DOUBLE) AS dl
            FROM {table}
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                   SUM(dl) / COUNT(*) AS avgdl
            FROM dl
        ),
        contrib AS (
            SELECT tf.id,
                   ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                   * (tf * {k1 + 1.0!r})
                   / (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl)) AS s
            FROM tf
            JOIN dl USING (id)
            CROSS JOIN stats
            JOIN dfreq USING (tok)
        )
        SELECT id, {dsum_sql('s')} AS score, COUNT(*) AS n_terms_hit
        FROM contrib GROUP BY id
        ORDER BY score DESC, id ASC LIMIT {k}
    """


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    token distribution: ``(id, n_tokens, avg_logprob)``.

    The poor-man's perplexity filter: train nothing, score every document by
    how typical its tokens are of the corpus.  Two hash-aggregates (vocab
    histogram; per-document quantized mean) plus one join by token.
    Documents with zero tokens are absent from the output (no tokens — no
    distribution to score under).
    """
    # cut: the token stream feeds the vocab aggregate AND the scoring join
    # (and the vocab feeds the total) — without the cuts the explode runs
    # three times in one job (same structural-reuse rationale as the dedup
    # shingle front-ends)
    toks = cut_lineage(_exploded_tokens(df, text_col, id_col), eager=False)
    vocab = cut_lineage(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_t")), eager=False
    )
    total = vocab.agg(F.sum("c_t").cast("double").alias("t_total"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("id", F.log(F.col("c_t") / F.col("t_total")).alias("lp"))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"), davg("lp").alias("avg_logprob")
    )


def unigram_logprob_sql(table: str, text_expr: str, id_expr: str) -> str:
    """DuckDB oracle reproducing :func:`unigram_logprob` value-for-value."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import (
        davg_sql,
    )

    return f"""
        WITH toks AS (
            SELECT {id_expr} AS id,
                   unnest(list_filter(string_split(lower({text_expr}), ' '),
                                      x -> x <> '')) AS tok
            FROM {table}
        ),
        vocab AS (SELECT tok, COUNT(*) AS c_t FROM toks GROUP BY tok),
        total AS (SELECT CAST(SUM(c_t) AS DOUBLE) AS t_total FROM vocab),
        scored AS (
            SELECT id, ln(c_t / t_total) AS lp
            FROM toks JOIN vocab USING (tok) CROSS JOIN total
        )
        SELECT id, COUNT(*) AS n_tokens, {davg_sql('lp')} AS avg_logprob
        FROM scored GROUP BY id
    """


def bigram_logprob(
    df: DataFrame, text_col: str, id_col: str, lam: float = 0.9
) -> DataFrame:
    """Interpolated bigram language-model score per document — the
    CCNet-style perplexity quality filter one rung above
    :func:`unigram_logprob`: ``(id, n_tokens, avg_logprob, ppl)``.

    Model (trained on the corpus itself, like the unigram sibling):
    a document's first token scores under the unigram distribution
    ``c(w)/N``; every following token scores under the interpolated
    bigram ``λ·c(w1,w2)/ctx(w1) + (1−λ)·c(w2)/N`` where ``ctx(w1)`` is
    the number of bigrams starting with ``w1`` (so the conditional is a
    proper distribution even at document-final tokens).  ``avg_logprob``
    is the per-document quantized mean of ``ln p`` (order-independent),
    ``ppl = exp(−avg_logprob)`` quantized to 1e-6.

    Plan shape: bigrams form MAP-SIDE from each document's token array
    (two slices zipped — no self-join, no extra shuffle); one hash-agg
    each for the vocabulary, the bigram table, and the context totals
    (the latter derived from the bigram table, so it costs a
    vocabulary-sized agg, not a corpus pass).  Scoring joins broadcast
    the vocabulary and context tables (vocab-sized); the bigram join
    shuffles by ``(w1, w2)`` — the unavoidable LM-training shuffle, its
    width bounded by distinct bigrams, not corpus tokens.  At 100 TB a
    multi-GB vocabulary would flip the broadcasts to shuffle joins
    (drop the hint); everything else is scale-free.

    λ's complement is computed in PYTHON and injected into both engines
    as the same IEEE literal (``1.0 − λ`` constant-folds differently in
    DuckDB's exact decimals — the $expMovingAvg lesson).
    """
    one_m = 1.0 - lam
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    # cut: the token arrays feed the vocabulary, the bigram pairs and the
    # first-token scores; the vocabulary feeds the total and both scores
    docs = cut_lineage(
        df.select(F.col(id_col).alias("id"), arr.alias("toks")), eager=False
    )
    toks = docs.select("id", F.explode("toks").alias("tok"))
    vocab = cut_lineage(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_t")), eager=False
    )
    total = vocab.agg(F.sum("c_t").cast("double").alias("t_total"))
    n = F.size("toks")
    pairs = docs.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
                F.slice("toks", 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
            )
        ).alias("p"),
    ).select("id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bigrams = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_b"))
    ctx = bigrams.groupBy("w1").agg(F.sum("c_b").alias("c_ctx"))
    pair_lp = (
        pairs.join(bigrams, ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(vocab.withColumnRenamed("tok", "w2")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            F.log(
                F.lit(lam) * (F.col("c_b").cast("double") / F.col("c_ctx"))
                + F.lit(one_m) * (F.col("c_t") / F.col("t_total"))
            ).alias("lp"),
        )
    )
    first_lp = (
        docs.filter(n > 0)
        .select("id", F.element_at("toks", 1).alias("tok"))
        .join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select("id", F.log(F.col("c_t") / F.col("t_total")).alias("lp"))
    )
    scored = first_lp.unionByName(pair_lp)
    out = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"), davg("lp").alias("avg_logprob")
    )
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import (
        quantize6,
    )

    return out.withColumn("ppl", quantize6(F.exp(-F.col("avg_logprob"))))


def bigram_logprob_sql(
    table: str, text_expr: str, id_expr: str, lam: float = 0.9
) -> str:
    """DuckDB oracle reproducing :func:`bigram_logprob` value-for-value —
    identical arithmetic shape, λ and 1−λ injected as Python-computed
    IEEE literals on both sides."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import (
        davg_sql,
        quantize6_sql,
    )

    one_m = 1.0 - lam
    return f"""
        WITH docs AS (
            SELECT {id_expr} AS id,
                   list_filter(string_split(lower({text_expr}), ' '),
                               x -> x <> '') AS toks
            FROM {table}
        ),
        postoks AS (
            SELECT id, unnest(toks) AS tok,
                   generate_subscripts(toks, 1) AS ord
            FROM docs
        ),
        vocab AS (SELECT tok, COUNT(*) AS c_t FROM postoks GROUP BY tok),
        total AS (SELECT CAST(SUM(c_t) AS DOUBLE) AS t_total FROM vocab),
        pairs AS (
            SELECT t1.id, t1.tok AS w1, t2.tok AS w2
            FROM postoks t1
            JOIN postoks t2 ON t1.id = t2.id AND t2.ord = t1.ord + 1
        ),
        bigrams AS (SELECT w1, w2, COUNT(*) AS c_b FROM pairs GROUP BY w1, w2),
        ctx AS (SELECT w1, SUM(c_b) AS c_ctx FROM bigrams GROUP BY w1),
        pair_lp AS (
            SELECT p.id,
                   ln({lam!r} * (CAST(b.c_b AS DOUBLE) / c.c_ctx)
                      + {one_m!r} * (v.c_t / t.t_total)) AS lp
            FROM pairs p
            JOIN bigrams b ON p.w1 = b.w1 AND p.w2 = b.w2
            JOIN ctx c ON p.w1 = c.w1
            JOIN vocab v ON p.w2 = v.tok
            CROSS JOIN total t
        ),
        first_lp AS (
            SELECT d.id, ln(v.c_t / t.t_total) AS lp
            FROM docs d
            JOIN vocab v ON d.toks[1] = v.tok
            CROSS JOIN total t
            WHERE len(d.toks) > 0
        ),
        scored AS (SELECT * FROM first_lp UNION ALL SELECT * FROM pair_lp)
        SELECT id, COUNT(*) AS n_tokens, {davg_sql('lp')} AS avg_logprob,
               {quantize6_sql(f"exp(-({davg_sql('lp')}))")} AS ppl
        FROM scored GROUP BY id
    """


# ---------------------------------------------------------------------------
# Positional index + phrase search
# ---------------------------------------------------------------------------
def positional_index(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(tok, id, pos)`` positional inverted index — the build side of
    phrase/proximity search.  At corpus scale this is written ONCE
    partitioned/bucketed by ``tok`` so phrase probes touch only their
    terms' postings; here it's the same rows produced on the fly."""
    return (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id")
        .select(
            "id",
            F.posexplode(
                F.filter(F.split(F.lower(F.col("__text")), r"\s+"), lambda t: t != "")
            ).alias("pos", "tok"),
        )
    )


def phrase_match_counts(
    index: DataFrame, phrase: list[str]
) -> DataFrame:
    """Documents containing the exact token ``phrase`` (consecutive
    positions): ``(id, n_matches)``, one row per matching document.

    The classic positional-postings intersection: each phrase term's
    postings are anchored to ``pos − offset`` and equi-joined on
    ``(id, anchor)`` — a match survives all k joins exactly when the terms
    appear consecutively.  Join keys are (tok-filtered) postings only, so
    the work is bounded by the RAREST term's postings after the first
    join — the reason search engines process phrases by ascending document
    frequency.  Duplicate phrase terms are handled naturally (each slot
    filters independently)."""
    terms = [t.lower() for t in phrase]
    out = None
    for i, term in enumerate(terms):
        side = (
            index.filter(F.col("tok") == term)
            .select("id", (F.col("pos") - F.lit(i)).alias("anchor"))
        )
        out = side if out is None else out.join(side, ["id", "anchor"])
    return out.groupBy("id").agg(F.count(F.lit(1)).alias("n_matches"))


def rrf_fuse(
    rankings: list[DataFrame],
    k_rrf: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of N rankings:
    ``(id, rrf_score, n_legs)``, fused score descending, id ascending on
    ties — the standard hybrid-retrieval combiner (lexical BM25 + vector
    ANN) that needs no score calibration because it consumes only RANKS.

    Each input carries ``(id, rank)`` with rank 1-based (see
    :func:`ranked`); a document absent from a leg contributes nothing
    (the usual RRF convention).  ``rrf_score = Σ_legs 1 / (k_rrf + rank)``
    accumulated with the quantized order-independent ``dsum``, so the fused
    ranking hash-matches a SQL oracle at any parallelism and leg order.

    Scale shape: the legs are already top-k-bounded retrieval outputs
    (tens of rows each at any corpus size — the candidate generators bound
    them, not this combiner), so the union + hash-agg + top-k here is
    driver-trivial; nothing in the fusion touches the corpus.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    legs = [
        r.select(
            "id",
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank").cast("double"))).alias(
                "__contrib"
            ),
        )
        for r in rankings
    ]
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    return (
        u.groupBy("id")
        .agg(
            dsum("__contrib").alias("rrf_score"),
            F.count(F.lit(1)).alias("n_legs"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("id"))
        .limit(topk)
    )


def ranked(df: DataFrame, score_col: str, id_col: str = "id") -> DataFrame:
    """1-based rank by ``score_col`` descending with id-ascending tiebreak:
    ``(id, rank)`` — the adapter from a scored top-k leg to
    :func:`rrf_fuse` input.  The single-partition window is deliberate and
    safe ONLY because inputs are top-k-bounded legs (k rows); rank a
    corpus-wide score per-partition/bucket before fusing if you ever feed
    an unbounded frame."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return df.select(
        F.col(id_col).alias("id"), F.row_number().over(w).alias("rank")
    )
