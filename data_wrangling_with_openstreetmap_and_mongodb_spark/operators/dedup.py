"""Deduplication operators for training-data pipelines: exact, span/
paragraph (with document reconstruction), n-gram Jaccard, MinHash+LSH
(batch, incremental index+probe), SimHash, and embedding-cosine near-dup.

Scale design (the 100 TB story):

- **Exact**: one hash-aggregate on a 128-bit content fingerprint — never a
  shuffle of full text.  AQE handles skew (empty docs etc.).
- **N-gram Jaccard**: shingle-inverted-index self-join (blocking on shingle),
  so only documents sharing ≥1 shingle ever meet; the candidate pair count,
  not |D|², bounds the shuffle.
- **MinHash+LSH**: per-band bucket join — the textbook sub-quadratic path;
  signatures use the md5-based engine-agnostic permutation family (JVM-side
  expressions with bit-identical DuckDB twins), so the whole pipeline
  SQL-oracles.
- **SimHash**: explode-tokens → per-bit majority vote as one 64-expression
  hash-aggregate (one shuffle), then Hamming-bucket candidate join.
- **Embedding cosine**: exact all-pairs as a block-nested-loop matrix join
  (blocks meet pairwise on executors; nothing collects to the driver, no
  whole-matrix broadcast).  Above ``MAX_EXACT_ROWS`` it raises; the
  sub-quadratic paths are similarity.py's ``lsh_near_pairs`` and
  ``semantic_dedup_pairs``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import (
    cut_lineage,
    spread,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
    _cell_cosine_pairs,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
    fingerprint_md5,
    whitespace_tokens,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of exact duplicates (by normalized-content fingerprint):
    ``(fingerprint, keep_id, dup_count)`` with keep = min id."""
    return (
        df.select(fingerprint_md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact-content group, preserving
    all columns.  Window over the fingerprint: one shuffle, no join."""
    w = Window.partitionBy(fingerprint_md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Span / paragraph dedup (corpus-wide duplicate-span removal + reassembly)
# ---------------------------------------------------------------------------
def span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int = 16,
    sep: str | None = None,
) -> DataFrame:
    """Corpus-wide duplicate-span removal with document reconstruction:
    ``(id, clean_text, n_spans, n_dropped)``.

    The C4/RefinedWeb curation step: every span (paragraph, or fixed
    token-count chunk) is kept only at its FIRST corpus occurrence — later
    repetitions (mirrored pages, boilerplate headers, quoted reposts) are
    cut out of the documents that repeat them, and the survivors are
    stitched back together in original order.

    Two span definitions share one core:

    - ``sep`` given → true paragraph mode: the document splits on the
      literal separator (e.g. ``"\\n\\n"``) and survivors rejoin with it.
    - ``sep=None`` → fixed-span mode: whitespace tokens group into
      disjoint ``span_tokens``-token chunks (span-granular exact-substring
      dedup — the tractable approximation of suffix-array substring dedup).

    "First occurrence" is the global ``(id, pos)`` minimum — deterministic,
    retry-stable, engine-reproducible (the SQL twin ranks identically).

    Scale shape: full span TEXT never shuffles by content — the winner per
    span is ``min(struct(id, pos))`` hash-aggregated over ``(md5(span), id,
    pos)`` rows (hash + two ints; partial aggregation collapses each
    partition to one candidate per distinct hash BEFORE the shuffle — a
    window ``row_number`` would shuffle and sort every span row instead);
    the surviving ``(id, pos)`` pairs equi-join back against the span
    table, which is already partitioned by id, and reassembly is one
    ordered ``collect_list`` per document.  The span table is cut
    (:func:`.scale.cut_lineage`) for its three consumers (dedup rank,
    survivor join, per-doc totals), so the tokenize/chunk pass runs once.  A 128-bit collision merging two
    distinct spans is ~2⁻⁶⁴-improbable; acceptable for corpus curation.
    """
    base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id")
    if sep is not None:
        parts = F.split(F.col("__text"), F.lit(sep), -1)
        join_sep = sep
    else:
        toks = whitespace_tokens(F.col("__text"))
        # disjoint span_tokens-sized chunks: slice is 1-based
        parts = F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int") - 1, F.lit(0)
                ),
            ),
            lambda i: F.array_join(
                F.slice(toks, i * span_tokens + 1, span_tokens), " "
            ),
        )
        join_sep = " "
    spans = cut_lineage(
        base.select("id", F.posexplode(parts).alias("pos", "span")).filter(
            F.col("span") != ""
        ),
        eager=False,
    )
    winners = (
        spans.select(F.md5(F.col("span")).alias("h"), "id", "pos")
        .groupBy("h")
        .agg(F.min(F.struct("id", "pos")).alias("w"))
        .select(F.col("w.id").alias("id"), F.col("w.pos").alias("pos"))
    )
    kept = spans.join(winners, ["id", "pos"])
    kept_agg = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
            join_sep,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = spans.groupBy("id").agg(F.count(F.lit(1)).alias("n_spans"))
    return totals.join(kept_agg, "id", "left").select(
        "id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        "n_spans",
        (F.col("n_spans") - F.coalesce(F.col("__n_kept"), F.lit(0))).alias("n_dropped"),
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Sliding-window exact-substring dedup with document reconstruction:
    ``(id, clean_text, n_tokens, n_removed)``.

    The ExactSubstr curation step (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better") at k-token shingle granularity:
    every SLIDING k-token window is hashed, windows whose content occurs
    ``min_count``+ times corpus-wide are removed at every site except the
    global first occurrence, overlapping removed windows merge into maximal
    spans, and each document is rebuilt from its surviving tokens.  Unlike
    ``span_dedup`` (disjoint chunks), a duplicated passage is caught at ANY
    token offset — including internal repetition within one document.

    "First occurrence" is the global ``(id, pos)`` minimum per shingle hash
    — deterministic and engine-reproducible (the SQL twin ranks by the same
    key).  Reconstruction joins tokens with single spaces (whitespace runs
    do not survive, as in any token-level rewrite).

    Scale shape: shingle TEXT never shuffles — each sliding window hashes to
    md5 map-side and only ``(hash, id, pos)`` rows move.  Duplicate sites
    come from one hash-aggregate over ``h`` (count + ``min(struct(id,
    pos))``, partially aggregated map-side) joined back to the shingle rows
    on ``h``; the per-document removed-position lists are tiny arrays that
    join back to the token table on ``id``.  Coverage tests run per token
    against the doc's own removed positions (``exists`` over an array that
    is almost always short); no step is quadratic in the corpus.  A true
    suffix array would catch duplicates shorter than ``k`` tokens; at 100 TB
    the shingle approximation is the standard engineering trade
    (reference analogue: none — beyond-reference training-data tier).
    """
    toks = whitespace_tokens(F.col(text_col))
    # spread BEFORE the cut, so the HOF-heavy tokenize/shingle hash pass is
    # not pinned to a one-split scan's single task; the cut token table is
    # read by the shingle branch and the rebuild branch
    base = cut_lineage(
        spread(df, id_col).select(F.col(id_col).alias("id"), toks.alias("__toks")),
        eager=False,
    )

    def _window_hash(i: Column) -> Column:
        return F.md5(F.array_join(F.slice(F.col("__toks"), i + 1, k), " "))

    starts = F.when(
        F.size("__toks") >= k,
        F.sequence(F.lit(0), F.size("__toks") - F.lit(k)),
    ).otherwise(F.array().cast("array<int>"))
    sh = base.select(
        "id", F.posexplode(F.transform(starts, _window_hash)).alias("pos", "h")
    )
    sites = sh.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"), F.min(F.struct("id", "pos")).alias("w")
    ).filter(F.col("c") >= min_count)
    marked = sh.join(sites, "h").filter(
        ~((F.col("id") == F.col("w.id")) & (F.col("pos") == F.col("w.pos")))
    )
    removed = marked.groupBy("id").agg(
        F.sort_array(F.collect_list("pos")).alias("__ps")
    )

    def _covered_factory(ps: Column):
        def _covered(t: Column) -> Column:
            return ~F.exists(
                ps, lambda p: (p <= t) & (t < p + F.lit(k))
            )

        return _covered

    with_ps = base.join(removed, "id", "left").withColumn(
        "__ps", F.coalesce(F.col("__ps"), F.array().cast("array<int>"))
    )
    idxs = F.when(
        F.size("__toks") > 0, F.sequence(F.lit(0), F.size("__toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept = F.filter(idxs, _covered_factory(F.col("__ps")))
    return with_ps.select(
        "id",
        F.array_join(
            F.transform(kept, lambda t: F.element_at("__toks", t + 1)), " "
        ).alias("clean_text"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (blocked self-join — exact similarity, scalable blocking)
# ---------------------------------------------------------------------------
def _ngram_rows(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct word-n-gram rows ``(id, n_sh, shingle)`` — the front end of
    the shingle-based dedup and decontamination families.

    Construction is all JVM-native relational algebra: posexplode tokens →
    window ``lead`` to stitch each n-gram → dropDuplicates.  The equivalent
    array expression (``transform`` over ``slice``+``array_join``) evaluates
    its lambda interpreted per position and dominated dedup runtime (~4s of
    a 7.5s query at sf0.1); window lead/concat are native expressions.
    Output shingle STRINGS are identical to operators/text.shingles (token
    n-grams joined by one space, distinct per document).

    Documents are spread by id first (:func:`.scale.spread`).  ``n_sh``
    (distinct shingle count, the prefix-filter bound) rides along via a
    window count, so downstream consumers need no extra join.
    """
    toks = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id")
        .select(
            "id",
            F.posexplode(whitespace_tokens(F.lower(F.col("__text")))).alias(
                "pos", "tok"
            ),
        )
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    grams = toks.select(
        "id",
        F.concat_ws(" ", *parts).alias("shingle"),
        F.lead("tok", n - 1).over(w).alias("__last"),
    ).filter(
        # concat_ws skips NULLs, so tail positions would yield short grams —
        # requiring the last token keeps exactly the full n-grams
        F.col("__last").isNotNull()
    )
    distinct_rows = grams.select("id", "shingle").dropDuplicates(["id", "shingle"])
    return distinct_rows.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """:func:`_ngram_rows`, cut (:func:`.scale.cut_lineage`): the shared
    front end of the dedup family.  Every caller reads the rows more than
    once (signature aggregate and verification arrays; df ranking, prefix
    rows and verification arrays), so the explode/window front end runs
    once per call."""
    return cut_lineage(_ngram_rows(df, text_col, id_col, n), eager=False)


def _shingle_arrays(rows: DataFrame) -> DataFrame:
    """(id, sh) arrays for set-verification joins, built from the distinct
    shingle rows (order irrelevant: only intersection/union SIZES are used)."""
    return rows.groupBy("id").agg(F.collect_list("shingle").alias("sh"))


def prefix_candidates(ex: DataFrame, threshold: float) -> DataFrame:
    """PPJoin-style candidate pairs ``(id_a, id_b)`` from distinct shingle
    rows ``(id, n_sh, shingle)``: block only on each document's
    ⌊(1−t)·|s|⌋+1 globally-RAREST shingles.

    This is the skew defense: a stop-shingle occurring in half the corpus
    sits at the END of the document-frequency order, so it never enters any
    prefix and never forms a |D|²-sized bucket — candidate count is bounded
    by Σ_over-prefix-shingles C(df_prefix, 2), not by the frequency of the
    most common shingle (asserted under a planted 50%-stop-shingle corpus in
    tests/test_dedup_similarity.py).

    The document-frequency table is a vocabulary-sized aggregate, so the
    planner broadcasts it into the rank join whenever it fits the session's
    ``autoBroadcastJoinThreshold`` (64 MiB, session.py): the shingle table
    then keeps its id-partitioning all the way into the rank window.  A
    vocabulary too large for that budget falls back to a shuffle join.
    """
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_cnt"))
    w = Window.partitionBy("id").orderBy(F.asc("df_cnt"), F.asc("shingle"))
    # Sound prefix bound: J(a,b) ≥ t implies overlap ≥ ceil(t·|x|) on each
    # side, so a shared shingle must appear within the first
    # |x| − ceil(t·|x|) + 1 under any consistent global order.  The inner
    # round() guards FP: t·|x| lands 1 ulp above/below an integer for |x|
    # divisible by the threshold's denominator, and a naive floor/ceil then
    # shortens the prefix below the bound and silently drops true pairs.
    prefix_len = (
        F.col("n_sh") - F.ceil(F.round(F.lit(threshold) * F.col("n_sh"), 9)) + 1
    )
    prefix = (
        ex.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "shingle", "n_sh", "rn")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    t = float(threshold)
    # PPJoin length filter: J ≥ t forces t·|a| ≤ |b| ≤ |a|/t (both
    # directions since id-ordering is not size-ordering); same round() guard
    # as the prefix bound against t·|s| landing 1 ulp off an integer.
    len_ok = (
        F.col("b.n_sh") >= F.ceil(F.round(F.lit(t) * F.col("a.n_sh"), 9))
    ) & (F.col("a.n_sh") >= F.ceil(F.round(F.lit(t) * F.col("b.n_sh"), 9)))
    # PPJoin positional filter: for the EARLIEST shared prefix shingle (at
    # 1-based in-document positions rn under the global order) every shared
    # shingle sits at ≥ those positions, so overlap ≤ 1 + min(|a|−rn_a,
    # |b|−rn_b); J ≥ t needs overlap ≥ ⌈t/(1+t)·(|a|+|b|)⌉.  Rows for later
    # shared shingles may under-bound and drop out, but a true pair always
    # keeps its earliest matching row, so the pair set is unchanged — this
    # only thins the candidate multi-rows before the dedup.
    alpha = F.ceil(
        F.round(F.lit(t / (1.0 + t)) * (F.col("a.n_sh") + F.col("b.n_sh")), 9)
    )
    ubound = 1 + F.least(
        F.col("a.n_sh") - F.col("a.rn"), F.col("b.n_sh") - F.col("b.rn")
    )
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & len_ok
            & (ubound >= alpha),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs (a, b), a<b, with shingle-set Jaccard ≥ threshold — exact.

    Prefix-filtered inverted-index plan (PPJoin-style): order each document's
    shingles by ascending global document-frequency; any pair with
    Jaccard ≥ t must share a shingle among each side's first
    ⌊(1-t)·|s|⌋+1 rarest shingles.  Blocking on *rare* shingles keeps the
    candidate join sub-quadratic even when a few shingles occur in most
    documents (naive shingle-blocking degenerates to |D|² exactly there).
    Candidates are then verified with exact set Jaccard.  Returns
    ``(id_a, id_b, jaccard)``.

    Three consumers read the shingle table — the global df ranking, the
    prefix rows, and the verification arrays — and recomputing the
    tokenize/explode/window front-end per consumer dominated runtime on
    low-vocabulary corpora where the prefix filter passes many candidates,
    so :func:`_shingle_rows` returns it cut.  The 100 TB analogue is
    materializing the inverted index once (a bucketed table keyed on
    shingle) and running candidate generation + verification against that,
    exactly as PPJoin implementations do.
    """
    ex = _shingle_rows(df, text_col, id_col, n)
    cand = prefix_candidates(ex, threshold)
    arrays = _shingle_arrays(ex)
    sha = arrays.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    shb = arrays.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
MERSENNE61 = (1 << 61) - 1
# The one MinHash family: 64 permutations in 16 bands of 4 rows over
# distinct word 3-grams.  Every pair pass, band index, probe and SQL oracle
# reads these, so an index and its probe cannot disagree on the family.
MINHASH_HASHES = 64
MINHASH_BANDS = 16
MINHASH_SHINGLE_N = 3
MINHASH_SEED = 42


def minhash_perm_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the universal-hash permutation
    family h_i(x) = (a_i·x + b_i) mod (2⁶¹−1) — shared by the Spark plan and
    the SQL oracle so both compute identical signatures.

    Bounds keep every intermediate inside signed-64 against a 32-bit base
    hash: a < 2³⁰ and x < 2³² give a·x < 2⁶², plus b < 2⁶¹ stays < 2⁶³ —
    pure bigint math in both engines (DuckDB bigint arithmetic is
    overflow-checked, so this is load-bearing, not a micro-optimization).
    """
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, MERSENNE61))
        for _ in range(num_hashes)
    ]


def _perm_hash(a: int, b: int, h32: Column) -> Column:
    """(a·h + b) mod 2⁶¹−1 in plain bigint arithmetic (see
    :func:`minhash_perm_coeffs` for the no-overflow bounds)."""
    return F.pmod(F.lit(a) * h32 + F.lit(b), F.lit(MERSENNE61))


def _sig_and_bands(shingle_rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash machinery: ``(with_sig, band_rows)`` from (id, shingle)
    rows — ``with_sig`` = (id, sig array), ``band_rows`` = (id, band, bucket).

    Signature as hash-aggregate with 64 min() buffers: a single
    giant array<transform<...>> projection exceeds what whole-stage codegen
    will compile (interpreted fallback, ~10×), while min-aggregate buffers
    codegen fine at any width.  The groupBy shuffles only (id, 64×8 bytes)
    partial states thanks to map-side combine; the base md5 hash computes
    once per shingle row and feeds all permutations.  ``with_sig`` is cut
    (:func:`.scale.cut_lineage`) — it feeds band construction plus every
    downstream consumer (self-join sides, verification, index storage) and
    the 64-buffer aggregation is the pipeline's most expensive stage.

    Band rows carry ONLY (id, band, bucket): exploding the signature arrays
    16× and shuffling them through joins costs far more than
    re-attaching arrays to the (small) candidate set by id afterwards.  The
    bucket key is an 8-byte md5-based hash of the row-slice's joined-string
    form — engine-agnostic, so SQL oracles reproduce the same buckets.
    """
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash32,
        md5_hash60,
    )

    coeffs = minhash_perm_coeffs(MINHASH_HASHES, MINHASH_SEED)
    rows_per_band = MINHASH_HASHES // MINHASH_BANDS
    ex = shingle_rows.select("id", md5_hash32(F.col("shingle")).alias("h32"))
    sig_agg = ex.groupBy("id").agg(
        *[
            F.min(_perm_hash(a, b, F.col("h32"))).alias(f"h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    with_sig = cut_lineage(
        sig_agg.select(
            "id", F.array(*[F.col(f"h{i}") for i in range(MINHASH_HASHES)]).alias("sig")
        ),
        eager=False,
    )
    band_rows = with_sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_hash60(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("bucket"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    return with_sig, band_rows


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH, verified with exact
    shingle Jaccard.  ``(id_a, id_b, est_jaccard, jaccard)``.

    16 bands × 4 rows = 64 hashes; a pair is a candidate if any band's
    row-slice hashes equal.  The bucket join shuffles only (band, bucket) keys.
    Signatures use the md5-based engine-agnostic hash family, so the whole
    pipeline — including which candidate pairs the bands surface — is
    reproducible by the DuckDB oracle.
    """
    # Shared JVM-native shingle rows (see _shingle_rows), consumed by the
    # signature aggregation and (as arrays) both verification sides; the
    # cut makes the reuse structural (AQE exchange reuse covered it on some
    # data shapes but is a heuristic).
    shingle_rows = _shingle_rows(df, text_col, id_col, MINHASH_SHINGLE_N)
    with_sig, band_rows = _sig_and_bands(shingle_rows)

    a = band_rows.alias("a")
    b = band_rows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sides = with_sig.join(_shingle_arrays(shingle_rows), "id")
    side_a = sides.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sig").alias("sig_a")
    )
    side_b = sides.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sig").alias("sig_b")
    )
    return (
        cand.join(side_a, "id_a")
        .join(side_b, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            )
            / F.lit(float(MINHASH_HASHES)),
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard", "jaccard")
    )


def minhash_band_index(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The incremental-dedup index: ``(id, band, bucket, sig)`` rows — what a
    production pipeline writes once per corpus so that daily increments
    dedup against it WITHOUT rescanning corpus text.

    16 rows per document (one per band), each carrying the full 64-hash
    signature (64×8 bytes): the band/bucket columns drive the probe's
    equi-join, the signature column lets the probe estimate Jaccard without
    touching corpus text.  Write it partitioned/bucketed by ``(band,
    bucket)`` (operators/scale.py) and probes become co-located joins.
    """
    shingle_rows = _shingle_rows(df, text_col, id_col, MINHASH_SHINGLE_N)
    with_sig, band_rows = _sig_and_bands(shingle_rows)
    return band_rows.join(with_sig, "id").select("id", "band", "bucket", "sig")


def minhash_probe_index(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup detection: new documents probed against a
    prebuilt :func:`minhash_band_index` — ``(new_id, corpus_id,
    est_jaccard)`` for signature-estimated Jaccard ≥ ``threshold``.

    The production shape of dedup at corpus scale: the corpus is indexed
    ONCE; each increment computes its own signatures (linear in the
    increment, not the corpus), joins band/bucket keys against the index,
    and verifies candidates by signature agreement — corpus TEXT is never
    read again, which is exactly what makes daily increments O(increment).
    Verification is therefore the estimator, not exact Jaccard (the
    standard trade for index-only probes; run the exact check on the tiny
    candidate set downstream if the index retains text pointers).

    Same engine-agnostic hash family as :func:`minhash_lsh_pairs`, so the
    whole probe — candidates and estimates — SQL-oracles exactly.
    """
    shingle_rows = _shingle_rows(new_df, text_col, id_col, MINHASH_SHINGLE_N)
    with_sig, band_rows = _sig_and_bands(shingle_rows)
    cand = (
        band_rows.alias("p")
        .join(
            index.select(
                F.col("id").alias("corpus_id"), "band", "bucket", "sig"
            ).alias("x"),
            (F.col("p.band") == F.col("x.band"))
            & (F.col("p.bucket") == F.col("x.bucket")),
        )
        .select(
            F.col("p.id").alias("new_id"),
            F.col("corpus_id"),
            F.col("x.sig").alias("sig_corpus"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    probed = cand.join(
        with_sig.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_new")),
        "new_id",
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_new", "sig_corpus", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(MINHASH_HASHES))
    return (
        probed.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60  # width of the md5-based engine-agnostic token hash


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """SimHash per document: per-bit majority vote over 60-bit token hashes.

    Plan: explode tokens → md5_hash60 → one hash-aggregate computing all bit
    sums (single shuffle on id), then recombine bits driver-free.  Returns
    ``(id, simhash)`` with simhash as bigint.  The md5 basis makes the
    signature reproducible in the DuckDB oracle bit-for-bit.
    """
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import md5_hash60

    # spread on id so tokenize+hash parallelizes off a one-split scan
    toks = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id")
        .select("id", F.explode(whitespace_tokens(F.lower(F.col("__text")))).alias("tok"))
        .withColumn("h", md5_hash60(F.col("tok")))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("id").agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sig = sig + F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * (2**b)).otherwise(0)
    return agg.select("id", sig.alias("simhash"))


def _simhash_chunk_layout(bits: int, n_chunks: int) -> list[tuple[int, int]]:
    """(offset, width) per chunk, widths as even as integer division allows
    (the first ``bits % n_chunks`` chunks get the extra bit)."""
    base, rem = divmod(bits, n_chunks)
    if base < 1:
        raise ValueError(f"{n_chunks} chunks over {bits} bits: chunks need >=1 bit")
    out, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        out.append((off, w))
        off += w
    return out


def simhash_block_keys(sig: F.Column, max_hamming: int, key_chunks: int = 1) -> F.Column:
    """Array of ``struct(block, key)`` LSH keys for a simhash signature.

    Combinatorial multi-chunk blocking (the collision-bound fix, VERDICT
    r10 ask #2): split the signature into ``m = max_hamming + key_chunks``
    chunks and emit every ``key_chunks``-subset concatenation as a key.  A
    pair within Hamming distance ``max_hamming`` damages at most
    ``max_hamming`` chunks, so at least ``key_chunks`` chunks agree — the
    subset made of those agreeing chunks is emitted identically by both
    docs (pigeonhole ⇒ recall 1, property-tested against the quadratic
    scan).  ``key_chunks=1`` is the classic (max_hamming+1)-chunk scheme.

    Why widen: random-collision candidates scale as
    C(m, k)·n²/2^(k·60/m).  At max_hamming=3: k=1 gives 4 keys
    of 15 bits (~n²/2^13 effective); k=2 gives 10 keys of 24 bits
    (~n²/2^20.7) — ~200× fewer random candidates for 2.5× the key rows,
    which is what keeps the self-join output-bound as n approaches and
    passes 2^15 documents.
    """
    from itertools import combinations

    if key_chunks < 1:
        raise ValueError(f"key_chunks must be >= 1, got {key_chunks}")
    m = max_hamming + key_chunks
    layout = _simhash_chunk_layout(SIMHASH_BITS, m)

    def chunk_val(c: int) -> F.Column:
        off, w = layout[c]
        return F.shiftrightunsigned(sig, off).bitwiseAND(F.lit((1 << w) - 1))

    entries = []
    for blk, combo in enumerate(combinations(range(m), key_chunks)):
        key = F.lit(0).cast("long")
        for c in combo:
            _, w = layout[c]
            key = F.shiftleft(key, w).bitwiseOR(chunk_val(c))
        entries.append(F.struct(F.lit(blk).alias("block"), key.alias("key")))
    return F.array(*entries)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    key_chunks: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming — EXACT with
    respect to the signature: pigeonhole blocking has recall 1 (any pair
    within the distance shares at least one emitted block key, see
    :func:`simhash_block_keys`), so the output equals the quadratic scan's,
    at sub-quadratic cost.

    Blocking: ``key_chunks=1`` (default, oracle-reproducible) splits the
    signature into (max_hamming+1) chunks and joins per chunk;
    ``key_chunks>=2`` switches to combinatorial multi-chunk keys — wider
    keys, C(max_hamming+key_chunks, key_chunks) of them per doc.  Both
    verify exact Hamming via bit_count(xor), so the OUTPUT is identical;
    only the candidate volume changes.

    SCALE GUIDANCE (measured, PLANS.md §dedup-band-scaling): single-chunk
    blocking is collision-bound — random chunk matches contribute
    ~n²/2^chunk_bits candidates per chunk (at 150k docs and 15-bit chunks
    that is already 235M candidates for ~2M true pairs).  ``key_chunks=2``
    is the RECOMMENDED setting above ~10⁵ docs (and the setting the
    driver-visible ``dedup_simhash_k2`` catalog row runs since r12):
    24-bit keys cut random candidates ~200×
    (measured at 30×: candidates track TRUE pairs, the MinHash shape,
    instead of corpus²).  For threshold-Jaccard similarity prefer
    :func:`minhash_lsh_pairs` or the incremental
    :func:`minhash_band_index` probe path.
    """
    # cut: one (id, simhash) row per document, read by both sides of the
    # chunk self-join — without it the 60-buffer vote aggregation runs twice
    # (same structural-reuse rationale as minhash_lsh_pairs)
    sh = cut_lineage(simhash(df, text_col, id_col), eager=False)
    with_chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            simhash_block_keys(F.col("simhash"), max_hamming, key_chunks)
        ).alias("ck"),
    ).select("id", "simhash", F.col("ck.block").alias("chunk"), F.col("ck.key").alias("key"))
    a = with_chunks.alias("a")
    b = with_chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (exact; LSH variant in similarity.py)
# ---------------------------------------------------------------------------
# Rows per block of the exact all-pairs plan.  Small blocks parallelize
# (2048 → ONE task at n=2000; 256 → 36 block pairs, measured 1.88s → 0.81s
# at sf0.1) while replication stays bounded by the 128-block cap: a vector
# ships once per block pair it is in, at most 128× whatever the block size,
# so this only governs the small-n regime where parallelism is scarce.
BLOCK_ROWS = 256
# Exact all-pairs is O(n²) compute by definition; above this many rows the
# operator refuses instead of running for days.
MAX_EXACT_ROWS = 1_000_000


def embedding_near_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs of near-identical embeddings by cosine ≥ threshold — exact:
    ``(id_a, id_b, cosine)`` with ``id_a < id_b``.

    Block-nested-loop matrix plan, fully executor-side (no driver collect, no
    broadcast of vector data): the whole input is one cell of
    ``similarity._cell_cosine_pairs``, split into ⌈n/``BLOCK_ROWS``⌉ blocks
    (at most 128).  Each block packs its (id, vector) rows once, diagonal
    blocks multiply straight from the packed frame, and the nb·(nb−1)/2
    off-diagonal block pairs attach through a tiny broadcast index table and
    two equi-joins.  Each Arrow batch multiplies one block against another
    in numpy; a block is ~``BLOCK_ROWS``×d doubles (a few MB), never the
    whole matrix.

    Bit parity: ``similarity._seq_cosine`` accumulates dims-sequentially,
    the operation order of Spark's ``aggregate`` and DuckDB's
    ``list_dot_product``; quantization mirrors functions/detagg.py.

    The one ``df.count()`` is this operator's driver action: it sizes the
    block count, and above ``MAX_EXACT_ROWS`` rows the operator raises a
    ``ValueError`` — use ``similarity.lsh_near_pairs`` (approximate,
    sub-quadratic) or ``similarity.semantic_dedup_pairs`` (exact within
    k-means cells) there.
    """
    n = df.count()
    if n > MAX_EXACT_ROWS:
        raise ValueError(
            f"embedding_near_pairs: {n} rows exceed MAX_EXACT_ROWS="
            f"{MAX_EXACT_ROWS} (exact all-pairs cosine is O(n²)); use "
            "similarity.lsh_near_pairs (approximate) or "
            "similarity.semantic_dedup_pairs (exact within k-means cells)"
        )
    rows = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.lit(0).alias("cell"),
    )
    n_sub = max(1, min(128, -(-n // BLOCK_ROWS)))
    return _cell_cosine_pairs(rows, threshold, n_sub)
