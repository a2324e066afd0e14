"""Corpus-curation operators for training-data pipelines: repetition
metrics, deterministic train/val/test splits, stratified sampling, and
benchmark decontamination.

These extend the engine beyond the reference's surface into the operations a
100 TB pretraining-data pipeline runs after dedup (operators/dedup.py) and
quality scoring (operators/text.py):

- :func:`repetition_metrics` — the Gopher-style "excessive repetition"
  signals (duplicate n-gram fraction, most-frequent-token share) used to
  drop degenerate/boilerplate documents.
- :func:`split_assign` — hash-bucketed train/val/test assignment: a pure
  function of the document id, so membership is reproducible across runs,
  engines, and repartitioning (never ``rand()``, which reshuffles splits on
  every retry).
- :func:`stratified_sample` — per-stratum top-k by a deterministic hash
  rank: an unbiased, engine-agnostic sample with exactly-k-per-stratum
  semantics, all inside one window pass.
- :func:`contaminated_docs` — n-gram-overlap decontamination of the corpus
  against a benchmark set (the published eval-contamination defense:
  documents sharing long n-grams with any benchmark doc are flagged).

Scale design: everything is DataFrame algebra.  The decontamination join
broadcasts only the DISTINCT benchmark shingles — benchmark suites are tiny
relative to a pretraining corpus, which is exactly why the corpus side never
shuffles by shingle; repetition metrics are two hash-aggregations per
document joined on id; split/sample never shuffle more than their window
keys.  No operator holds per-document state on the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import (
    dsum,
    quantize6,
    quantize6_sql,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import _ngram_rows
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import (
    cut_lineage,
    spread,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
    md5_hash32,
    whitespace_tokens,
)


def _exploded_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, tok) rows — lowercased whitespace tokens with position.

    Spread by id first (:func:`.scale.spread`), so the downstream windows
    and aggregations do not run in a one-split scan's single task.
    """
    return (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id")
        .select(
            "id",
            F.posexplode(whitespace_tokens(F.lower(F.col("__text")))).alias(
                "pos", "tok"
            ),
        )
    )


def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition signals: ``(id, n_tokens,
    distinct_token_ratio, top_token_frac, dup_bigram_frac)``.

    ``dup_bigram_frac`` is ``1 − distinct_bigrams/total_bigrams`` (0 for
    documents with < 2 tokens): high values mark looping/boilerplate text.
    ``top_token_frac`` is the most frequent token's share.  Both are the
    standard repetition-filter signals for pretraining corpora.

    Two aggregations over one exploded token stream (token histogram → per-id
    rollup; windowed bigram stitch → per-id distinct count), joined on id —
    no data-dependent skew beyond document length itself.
    """
    toks = _exploded_tokens(df, text_col, id_col)
    tok_stats = (
        toks.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
    )
    w = Window.partitionBy("id").orderBy("pos")
    bigrams = (
        toks.select(
            "id",
            F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias("bg"),
            F.lead("tok", 1).over(w).alias("__next"),
        )
        .filter(F.col("__next").isNotNull())
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("total_bg"),
            F.count_distinct("bg").alias("distinct_bg"),
        )
    )
    return (
        tok_stats.join(bigrams, "id", "left")
        .select(
            F.col("id"),
            F.col("n_tokens"),
            (F.col("n_distinct") / F.col("n_tokens")).alias(
                "distinct_token_ratio"
            ),
            (F.col("top_c") / F.col("n_tokens")).alias("top_token_frac"),
            F.when(
                F.col("total_bg").isNull() | (F.col("total_bg") == 0), F.lit(0.0)
            )
            .otherwise(F.lit(1.0) - F.col("distinct_bg") / F.col("total_bg"))
            .alias("dup_bigram_frac"),
        )
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Attach a deterministic ``split`` column (train/val/test).

    Bucket = ``md5₃₂(id-as-string) mod 100`` — a pure function of the id:
    stable under retries, repartitioning, and engine choice (the md5-based
    hash has a bit-identical SQL twin).  ``rand()``-based splits silently
    reassign rows whenever a task retries; hash splits are the production
    idiom.
    """
    bucket = md5_hash32(F.col(id_col).cast("string")) % 100
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def split_assign_bucket_sql(id_expr: str) -> str:
    """DuckDB fragment matching :func:`split_assign`'s bucket bit-for-bit."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32_sql,
    )

    return f"({md5_hash32_sql(f'CAST({id_expr} AS VARCHAR)')}) % 100"


def shuffle_into_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    seed: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training-data sharding: attach
    ``shard`` (which output shard a row lands in) and ``pos`` (its 1-based
    position within that shard) — the order training consumes the corpus
    in, as a pure function of ``(seed, id)``.

    Training pipelines need the corpus in a reproducible "random" order;
    ``rand()``-based shuffles silently reorder whenever a task retries,
    and a single global ``orderBy(hash)`` serializes through one range
    sort.  This is the production shape instead: shard = md5 bucket of the
    seeded id, order WITHIN each shard by the full md5 draw (id tiebreak)
    — one hash exchange on ``shard`` plus an in-partition sort, no global
    sort, no count() pre-pass; a different ``seed`` is a fresh epoch
    permutation.  Consumers read shards in index order (or round-robin)
    and rows within a shard by ``pos``; with shards >> executors the
    concatenated order is statistically indistinguishable from a global
    permutation for training purposes while staying embarrassingly
    parallel to WRITE.  Bit-identical SQL twin:
    :func:`shuffle_shard_sql` / :func:`shuffle_order_sql`.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    sid = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    draw = F.md5(sid)
    shard = md5_hash32(sid) % n_shards
    w = Window.partitionBy("shard").orderBy(F.col("__draw"), F.col(id_col))
    return (
        df.withColumn("shard", shard)
        .withColumn("__draw", draw)
        .withColumn("pos", F.row_number().over(w))
        .drop("__draw")
    )


def shuffle_shard_sql(id_expr: str, n_shards: int, seed: str = "shuffle") -> str:
    """DuckDB fragment matching :func:`shuffle_into_shards`' shard."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32_sql,
    )

    sid = f"('{seed}' || ':' || CAST({id_expr} AS VARCHAR))"
    return f"(({md5_hash32_sql(sid)}) % {n_shards})"


def shuffle_order_sql(id_expr: str, seed: str = "shuffle") -> str:
    """DuckDB fragment matching the within-shard order draw."""
    return f"md5('{seed}' || ':' || CAST({id_expr} AS VARCHAR))"


def gumbel_topk_sample(
    df: DataFrame,
    id_col: str,
    score_col: str,
    k: int,
    seed: str = "gumbel",
) -> DataFrame:
    """Deterministic importance RESAMPLING: take ``k`` rows without
    replacement with probability ∝ exp(score) — the Gumbel-top-k identity
    (argmax_k of ``score + Gumbel`` draws IS a weighted sample), which is
    exactly DSIR's resampling step applied to its log-ratio weights.

    The Gumbel draw derives from the md5 hash family, not ``rand()``:
    ``u = (md5₃₂(seed:id) + 0.5) / 2³²`` (strictly inside (0,1)), ``g =
    −ln(−ln u)`` — a pure function of ``(seed, id)``, so retries,
    repartitioning, and engines agree; a new ``seed`` is a fresh draw.
    The ranking key quantizes to the 1e-6 grid with the id as tiebreak
    (transcendental-ulp discipline), and the plan is a
    TakeOrderedAndProject: per-partition top-k then a k-row merge — no
    global sort, driver holds k rows only.  SQL twin:
    :func:`gumbel_key_sql`.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    sid = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    u = (md5_hash32(sid) + F.lit(0.5)) / F.lit(float(1 << 32))
    g = -F.log(-F.log(u))
    key = quantize6(F.col(score_col) + g)
    return (
        df.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.col(id_col).asc())
        .limit(k)
    )


def gumbel_key_sql(id_expr: str, score_expr: str, seed: str = "gumbel") -> str:
    """DuckDB fragment matching :func:`gumbel_topk_sample`'s ranking key."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32_sql,
    )

    sid = f"('{seed}' || ':' || CAST({id_expr} AS VARCHAR))"
    u = f"((({md5_hash32_sql(sid)}) + 0.5) / {float(1 << 32)!r})"
    return quantize6_sql(f"({score_expr}) + (-ln(-ln({u})))")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    rank_col: str = None,
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample.

    Rank = md5 hash of ``rank_col`` (default: the id) with the id as a
    unique tiebreak, so the sample is uniform-ish, reproducible, and
    engine-agnostic — one window pass, no count() pre-pass, no ``rand()``.
    Rows get ``rk`` (1-based rank within stratum); callers keep ``rk <= k``.
    """
    basis = F.col(rank_col) if rank_col else F.col(id_col).cast("string")
    w = Window.partitionBy(strata_col).orderBy(
        md5_hash32(basis.cast("string")), F.col(id_col)
    )
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Corpus documents sharing at least one word-``n``-gram with any
    benchmark document: ``(id, n_shared, contam_frac)``.

    The decontamination defense for eval integrity: published pipelines drop
    or flag training documents that contain long n-grams from evaluation
    sets.  ``contam_frac`` = shared distinct n-grams / the document's
    distinct n-grams.

    Scale shape: the benchmark's DISTINCT shingles broadcast (benchmark
    suites are a few MB against a 100 TB corpus); the corpus side streams
    through one broadcast-hash semi-join + one per-id aggregation — the
    corpus is never shuffled by shingle.
    """
    corpus_sh = _ngram_rows(corpus, text_col, id_col, n)
    bench_sh = (
        _ngram_rows(benchmark, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.select(
        "id",
        "n_shared",
        (F.col("n_shared") / F.col("n_sh")).alias("contam_frac"),
    )


def contaminated_docs_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
    bloom_words: list[int] | None = None,
) -> DataFrame:
    """:func:`contaminated_docs` with a Bloom pre-filter: ``(id, n_bloom,
    n_shared, contam_frac)`` for documents with ≥ 1 shingle PASSING the
    filter — ``n_bloom`` counts filter passes (exact hits + false
    positives), ``n_shared`` the exact hits surviving the verification
    join, so the output itself shows what the filter let through.

    The scale story this adds over the plain broadcast join: the membership
    test becomes a codegen'd expression over an n_bits/8-byte constant
    (operators/sketch.bloom_might_contain) evaluated INSIDE the corpus scan
    stage — non-candidate shingles die before any join machinery, and the
    exact broadcast join only sees the tiny passing fraction.  This is the
    pattern Spark's own runtime bloom-filter join pushdown applies to big
    joins, made explicit, engine-agnostic (md5 family), and therefore
    SQL-oracle-reproducible down to each individual false positive.

    ``bloom_words``: pass a prebuilt bitmap (:func:`...sketch.bloom_build`)
    to keep query construction action-free; when omitted the build runs
    here (one aggregation collecting ≤ n_bits/64 words — the index-build
    step of the pipeline, not a per-row driver loop).
    """
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.sketch import (
        bloom_build,
        bloom_might_contain,
    )

    corpus_sh = _ngram_rows(corpus, text_col, id_col, n)
    bench_sh = (
        _ngram_rows(benchmark, text_col, id_col, n).select("shingle").distinct()
    )
    words = (
        bloom_words
        if bloom_words is not None
        else bloom_build(bench_sh, "shingle", n_bits, n_hashes)
    )
    cand = corpus_sh.filter(
        bloom_might_contain(F.col("shingle"), words, n_bits, n_hashes)
    )
    flagged = cand.join(
        F.broadcast(bench_sh.withColumn("__hit", F.lit(1))), "shingle", "left"
    )
    return flagged.groupBy("id", "n_sh").agg(
        F.count(F.lit(1)).alias("n_bloom"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_shared"),
    ).select(
        "id",
        "n_bloom",
        "n_shared",
        (F.col("n_shared") / F.col("n_sh")).alias("contam_frac"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    budget: int,
    n_shards: int = 64,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences (the packing
    step before writing pretraining shards): ``(id, n_tok, shard, bin,
    tok_offset)`` where ``bin`` is the sequence index within the shard and
    ``tok_offset`` the document's token start position inside that sequence.

    Packing is contiguous-fill in deterministic id order: a document starts
    at the running token total of its predecessors in the shard and belongs
    to ``bin = tok_offset // budget``.  Documents longer than the budget keep a
    single row (their bin is where they start; the writer decides whether to
    split or truncate — that policy is downstream of assignment).

    Scale shape: a GLOBAL running sum would serialize on one reducer, so
    documents first hash into ``n_shards`` independent shards (pure md5 of
    the id — reproducible across runs and engines) and the cumulative sum
    runs per shard: ``n_shards``-way parallel, one window pass, no driver
    state.  Real shard writers do exactly this — each output file packs
    independently.
    """
    n_tok = F.regexp_count(F.col(text_col), F.lit(r"\S+")).alias("n_tok")
    base = df.select(
        F.col(id_col).alias("id"),
        n_tok,
        (md5_hash32(F.col(id_col).cast("string")) % n_shards).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = (F.sum("n_tok").over(w) - F.col("n_tok")).alias("tok_offset")
    return base.select(
        "id",
        "n_tok",
        "shard",
        F.floor(offset / F.lit(budget)).cast("long").alias("bin"),
        offset,
    )


def pack_sequences_sql(
    table: str, text_expr: str, id_expr: str, budget: int, n_shards: int = 64
) -> str:
    """DuckDB oracle reproducing :func:`pack_sequences` row-for-row."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32_sql,
    )

    shard = f"({md5_hash32_sql(f'CAST({id_expr} AS VARCHAR)')}) % {n_shards}"
    return f"""
        WITH base AS (
            SELECT {id_expr} AS id,
                   len(regexp_extract_all({text_expr}, '\\S+')) AS n_tok,
                   {shard} AS shard
            FROM {table}
        ),
        cum AS (
            SELECT id, n_tok, shard,
                   SUM(n_tok) OVER (PARTITION BY shard ORDER BY id
                       ROWS UNBOUNDED PRECEDING) - n_tok AS tok_offset
            FROM base
        )
        SELECT id, n_tok, shard,
               CAST(FLOOR(tok_offset / {budget}) AS BIGINT) AS bin,
               -- window SUM(int) is HUGEINT in DuckDB; pandas-based
               -- comparators would surface it as float64 and hash-mismatch
               -- Spark's long
               CAST(tok_offset AS BIGINT) AS tok_offset
        FROM cum
    """


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-corpus
    document by how much more likely its hashed n-gram features are under
    a TARGET domain than under the raw corpus —
    ``(id, n_tokens, weight)`` with
    ``weight = Σ_tok [ln p_target(b(tok)) − ln p_raw(b(tok))]``.

    Features are unigram tokens hashed into ``n_buckets`` buckets with the
    engine-agnostic md5₃₂ family (the paper's hashed-feature trick: a
    FIXED-size distribution regardless of vocabulary), each side's bucket
    distribution add-``alpha`` smoothed over all ``n_buckets``, so unseen
    target buckets contribute a finite penalty instead of −∞.

    Plan shape: two token scans → two bucket hash-aggs (state ≤ n_buckets
    rows each); the log-ratio table is bucket-sized and BROADCASTS into
    the scoring join — the corpus shuffles only for its own per-document
    aggregation (by id), never by token/bucket.  The per-document sum uses
    the quantized order-independent ``dsum``; ``alpha·n_buckets`` is
    computed in Python and injected as one IEEE literal on both engines.
    Selection is then a filter/top-k on ``weight`` (resampling = the
    caller's `stratified_sample`/`mixture_sample` on this column).
    """
    denom_shift = alpha * n_buckets

    def _buckets(df: DataFrame) -> DataFrame:
        toks = _exploded_tokens(df, text_col, id_col)
        return toks.select(
            "id",
            "tok",
            F.pmod(md5_hash32(F.col("tok")), F.lit(n_buckets)).alias("b"),
        )

    # cut: the corpus buckets feed their histogram and the scoring join; the
    # histogram feeds its total and the ratio table
    tok_r = cut_lineage(_buckets(corpus), eager=False)
    c_r = cut_lineage(
        tok_r.groupBy("b").agg(F.count(F.lit(1)).alias("c_r")), eager=False
    )
    c_t = _buckets(target).groupBy("b").agg(F.count(F.lit(1)).alias("c_t"))
    n_r = c_r.agg(F.sum("c_r").cast("double").alias("n_r"))
    n_t = c_t.agg(F.coalesce(F.sum("c_t"), F.lit(0)).cast("double").alias("n_t"))
    ratio = (
        c_r.join(c_t, "b", "left")
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_t))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(alpha))
                    / (F.col("n_t") + F.lit(denom_shift))
                )
                - F.log(
                    (F.col("c_r") + F.lit(alpha))
                    / (F.col("n_r") + F.lit(denom_shift))
                )
            ).alias("lr"),
        )
    )
    return (
        tok_r.join(F.broadcast(ratio), "b")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), dsum("lr").alias("weight"))
    )


def dsir_weights_sql(
    corpus: str,
    target: str,
    text_expr: str,
    id_expr: str,
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> str:
    """DuckDB oracle reproducing :func:`dsir_weights` value-for-value.
    ``corpus``/``target`` are table names or parenthesized subqueries."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import (
        dsum_sql,
    )
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32_sql,
    )

    denom_shift = alpha * n_buckets
    bucket = f"(({md5_hash32_sql('tok')}) % {n_buckets} + {n_buckets}) % {n_buckets}"

    def _toks(src: str) -> str:
        return f"""
            SELECT {id_expr} AS id, tok, {bucket} AS b
            FROM (SELECT {id_expr},
                         unnest(list_filter(string_split(lower({text_expr}), ' '),
                                            x -> x <> '')) AS tok
                  FROM {src})
        """

    return f"""
        WITH tok_r AS ({_toks(corpus)}),
        tok_t AS ({_toks(target)}),
        c_r AS (SELECT b, COUNT(*) AS c_r FROM tok_r GROUP BY b),
        c_t AS (SELECT b, COUNT(*) AS c_t FROM tok_t GROUP BY b),
        n_r AS (SELECT CAST(SUM(c_r) AS DOUBLE) AS n_r FROM c_r),
        n_t AS (SELECT CAST(COALESCE(SUM(c_t), 0) AS DOUBLE) AS n_t FROM c_t),
        ratio AS (
            SELECT c_r.b,
                   ln((COALESCE(c_t.c_t, 0) + {alpha!r}) / (n_t.n_t + {denom_shift!r}))
                   - ln((c_r.c_r + {alpha!r}) / (n_r.n_r + {denom_shift!r})) AS lr
            FROM c_r LEFT JOIN c_t ON c_r.b = c_t.b
            CROSS JOIN n_r CROSS JOIN n_t
        )
        SELECT id, COUNT(*) AS n_tokens, {dsum_sql('lr')} AS weight
        FROM tok_r JOIN ratio ON tok_r.b = ratio.b
        GROUP BY id
    """


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-domain thinning toward a target corpus mixture:
    keep a row iff ``md5₃₂(id) % 1_000_000 < rate(domain) · 1_000_000``.

    The domain-mixture knob of a pretraining pipeline (down-weight crawl,
    keep all of books/code, ...) as a pure function of the id: membership is
    reproducible across runs, retries, engines, and repartitioning — never
    ``rand()``, which resamples on every task retry — and composable with
    :func:`split_assign` (independent hash domains: the sample hash salts
    the id with a fixed tag).  Rates are per-PPM, so engines compare the
    same integers; one codegen'd filter, no shuffle, no driver state.
    """
    bucket = md5_hash32(F.concat(F.lit("mix:"), F.col(id_col).cast("string"))) % 1_000_000
    rate_col = F.lit(int(default_rate * 1_000_000))
    for dom, r in sorted(rates.items()):
        rate_col = F.when(
            F.col(domain_col) == dom, F.lit(int(r * 1_000_000))
        ).otherwise(rate_col)
    return df.filter(bucket < rate_col)


def mixture_sample_sql(
    table_or_subquery: str,
    domain_expr: str,
    id_expr: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> str:
    """DuckDB oracle fragment: ``SELECT * FROM t WHERE <same condition>``."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32_sql,
    )

    salted = f"'mix:' || CAST({id_expr} AS VARCHAR)"
    bucket = f"({md5_hash32_sql(salted)}) % 1000000"
    rate = f"{int(default_rate * 1_000_000)}"
    for dom, r in sorted(rates.items(), reverse=True):
        rate = (
            f"CASE WHEN {domain_expr} = '{dom}' THEN {int(r * 1_000_000)} "
            f"ELSE {rate} END"
        )
    return f"SELECT * FROM {table_or_subquery} WHERE {bucket} < {rate}"


def chunk_token_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Overlapping fixed-size token context windows per document —
    ``(id, chunk_idx, chunk_text, n_chunk_tokens)``: the chunking step every
    training / retrieval pipeline runs before embedding, packing, or
    indexing (sliding windows of ``chunk_size`` tokens advancing by
    ``chunk_size − overlap``, so no span of text is split across a boundary
    without also appearing whole in some window).

    Chunk count is the closed form ``max(1, ⌈(n_tok − overlap) / stride⌉)``
    (every token covered; the final window may run short; an empty document
    yields one empty chunk so downstream joins never drop ids).  Pure
    narrow algebra — tokenize, explode a per-document index sequence,
    slice — with NO shuffle anywhere: chunks inherit the document scan's
    partitioning, which is exactly what lets a 100 TB corpus chunk as a
    map-only pass.  Deterministic: chunk identity is a pure function of
    (document text, chunk_size, overlap) — retry/repartition-stable.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    base = df.select(
        F.col(id_col).alias("id"),
        whitespace_tokens(F.col(text_col)).alias("__t"),
    ).withColumn("__n", F.size("__t"))
    # integer ceil-div — identical arithmetic replays in the SQL oracle
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((F.col("__n") - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)),
    )
    win = F.slice(
        F.col("__t"), F.col("chunk_idx").cast("int") * stride + 1, chunk_size
    )
    return (
        base.select(
            "id",
            "__t",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "id",
            "chunk_idx",
            F.concat_ws(" ", win).alias("chunk_text"),
            F.size(win).cast("long").alias("n_chunk_tokens"),
        )
    )


def chunk_id_windows(
    df: DataFrame,
    ids_col: str,
    id_col: str,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """:func:`chunk_token_windows` for PRE-TOKENIZED sequences: slide fixed
    windows over an ``array`` column of token ids (``text.encode_tokens`` /
    ``bpe.bpe_encode`` output) — training pipelines chunk over *tokenizer*
    ids, not whitespace words, so context lengths are exact.

    Output: ``(id, chunk_idx, n_chunk_ids, first_id, last_id, ids_md5,
    chunk_ids)`` — the scalar columns (boundary ids + md5 of the joined id
    string) exist so chunk IDENTITY is hashable without comparing arrays.
    Same closed-form chunk count and windowing as the text variant, and the
    same scale shape: pure per-row array algebra, NO shuffle — chunks
    inherit whatever partitioning the encoded input already has (the plan
    test pins Exchange-freedom).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    base = df.select(
        F.col(id_col).alias("id"), F.col(ids_col).alias("__ids")
    ).withColumn("__n", F.size("__ids"))
    n_chunks = F.greatest(
        F.lit(1),
        F.floor((F.col("__n") - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)),
    )
    win = F.slice(
        F.col("__ids"), F.col("chunk_idx").cast("int") * stride + 1, chunk_size
    )
    return (
        base.select(
            "id",
            "__ids",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "id",
            "chunk_idx",
            F.size(win).cast("long").alias("n_chunk_ids"),
            # try_: empty sequences yield a (0, null, null) chunk, not an
            # ANSI index error
            F.try_element_at(win, F.lit(1)).alias("first_id"),
            F.try_element_at(win, F.lit(-1)).alias("last_id"),
            F.md5(
                F.concat_ws(" ", F.transform(win, lambda x: x.cast("string")))
            ).alias("ids_md5"),
            win.alias("chunk_ids"),
        )
    )
