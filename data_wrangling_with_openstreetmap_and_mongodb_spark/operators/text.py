"""Text-analysis operators for training-data pipelines (BASELINE.json north
star): token counting, quality scoring, language-ID heuristics, document
fingerprinting.

All hot-path expressions are native Column functions (JVM-side, codegen'd);
nothing here crosses into Python per row, so every operator scales linearly
with executors at the 100 TB design point.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, Window

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import spread

# A BPE-ish word/punctuation tokenizer: word pieces OR single non-space
# punctuation — the classic pre-tokenization regex shape.
TOKEN_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Minimal per-language stopword lists for the n-gram/stopword language-ID
# heuristic (language identification by closed-class word hits).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
}


def whitespace_tokens(col: Column) -> Column:
    """Whitespace tokenization; empty strings filtered (split artifacts)."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Number of whitespace tokens — counted as ``\\S+`` matches in a single
    codegen'd regex pass (identical to ``size(whitespace_tokens(...))``, which
    materializes the array and falls out of whole-stage codegen)."""
    return F.regexp_count(col, F.lit(r"\S+"))


def regex_token_count(col: Column) -> Column:
    """Count of BPE-ish pre-tokens without materializing the token array."""
    return F.regexp_count(col, F.lit(TOKEN_RE))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Stopword-token fraction.  The membership filter needs the token array
    (one split + one filter pass); the denominator reuses the codegen'd
    ``\\S+`` count, which equals ``size(tokens)`` exactly."""
    toks = whitespace_tokens(F.lower(col))
    hits = F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))
    return F.size(hits) / F.greatest(token_count(col), F.lit(1))


def mean_word_length(col: Column) -> Column:
    """Mean token length = non-whitespace character count / token count —
    two codegen'd regex passes, no array materialization or interpreted
    fold.  Integer-identical to summing per-token lengths: stripping ``\\s``
    leaves exactly the characters the tokens are made of."""
    total = F.length(F.regexp_replace(col, r"\s", ""))
    return total / F.greatest(token_count(col), F.lit(1))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality score from cheap surface statistics:
    length band + low punctuation + plausible mean word length + stopword
    presence.  Mirrors the usual pretraining quality-filter recipe."""
    n_tok = token_count(col)
    length_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.25)
    punct_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.5)
    mwl = mean_word_length(col)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.5)
    stop_ok = F.when(stopword_ratio(col) > 0.01, 1.0).otherwise(0.75)
    return (length_ok * 0.4 + punct_ok * 0.2 + mwl_ok * 0.2 + stop_ok * 0.2)


def c4_rule_flags(
    col: Column, min_tokens: int = 10, max_tokens: int = 100_000
) -> dict[str, Column]:
    """Per-document boolean drop-reason flags — the C4/Gopher-style RULE
    filter, as opposed to :func:`quality_score`'s soft composite: production
    curation pipelines keep/drop on individual rules and log WHICH rule
    fired, because the reason histogram is how you audit a filter against a
    new corpus before trusting it.

    All flags are single codegen'd expressions over one scan; no arrays
    materialize except the stopword membership filter.
    """
    n_tok = token_count(col)
    mwl = mean_word_length(col)
    return {
        "too_short": n_tok < min_tokens,
        "too_long": n_tok > max_tokens,
        "word_length_out": (mwl < 2.0) | (mwl > 12.0),
        "high_punct": punct_ratio(col) >= 0.2,
        "no_stopwords": stopword_ratio(col) <= 0.01,
        "has_brace": col.contains("{") | col.contains("}"),
        "has_lorem": F.lower(col).contains("lorem ipsum"),
    }


def rule_filter_audit(df, text_col: str, *group_cols: str):
    """Per-group rule-filter audit: one count column per drop reason plus
    ``n_keep`` (documents no rule fired on) and ``n_docs``.  Integer-exact
    (hash-reproducible across engines); one scan, one hash-aggregate."""
    flags = c4_rule_flags(F.col(text_col))
    aggs = [
        F.sum(flag.cast("long")).alias(f"n_{name}") for name, flag in flags.items()
    ]
    keep = F.lit(True)
    for flag in flags.values():
        keep = keep & ~flag
    aggs.append(F.sum(keep.cast("long")).alias("n_keep"))
    aggs.append(F.count(F.lit(1)).alias("n_docs"))
    return df.groupBy(*group_cols).agg(*aggs)


def detect_from_scores(scores: dict[str, Column], default: str = "unknown") -> Column:
    """Language decision from per-language hit-count columns: most hits wins,
    ties → lexicographic order of language code, deterministic."""
    out = F.lit(default)
    # fold a when-chain: a language wins when it beats every other language
    # (earlier codes win ties via >= vs >)
    for lang in sorted(scores):
        cond = scores[lang] > 0
        for other in sorted(scores):
            if other == lang:
                continue
            cmp = scores[lang] >= scores[other] if lang < other else scores[lang] > scores[other]
            cond = cond & cmp
        out = F.when(cond, lang).otherwise(out)
    return out


def detect_language_agg(
    df, text_col: str, keep: list[str], default: str = "unknown"
):
    """Language-ID as a distributed plan: explode lowercase tokens once, count
    per-language stopword hits in one hash-aggregate (#langs codegen'd count
    buffers keyed by the ``keep`` columns — include the row's unique id), then
    decide from the materialized counters.  The when-chain references real
    attributes post-aggregation, so nothing re-evaluates.

    Returns ``df[keep] + detected`` with one row per input row."""
    toks = spread(df, *keep[:1]).select(
        *keep, F.explode_outer(whitespace_tokens(F.lower(F.col(text_col)))).alias("__tok")
    )
    score_cols = {
        lang: F.count(F.when(F.col("__tok").isin(*words), True)).alias(f"__s_{lang}")
        for lang, words in STOPWORDS.items()
    }
    scored = toks.groupBy(*keep).agg(*score_cols.values())
    return scored.select(
        *keep,
        detect_from_scores(
            {lang: F.col(f"__s_{lang}") for lang in STOPWORDS}, default
        ).alias("detected"),
    )


def md5_hash60(col: Column) -> Column:
    """Engine-agnostic 60-bit integer hash: the first 15 hex chars of md5.

    Reproducible bit-for-bit in DuckDB as
    ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — the foundation that lets
    MinHash/SimHash signatures be verified by an external SQL oracle
    (``xxhash64`` is Spark-private).  Native JVM expression; md5 costs more
    than xxhash64 per row — the price of engine-portable verification; swap
    the hash in one place if portability is not needed.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(expr: str) -> str:
    """DuckDB fragment matching :func:`md5_hash60` bit-for-bit."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def md5_hash32(col: Column) -> Column:
    """32-bit variant (first 8 hex chars of md5) for hash *families* built on
    top by modular arithmetic: a 32-bit base times a <2³⁰ coefficient plus a
    <2⁶¹ offset stays inside signed-64 — pure bigint math on both engines,
    no 128-bit intermediates."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_hash32_sql(expr: str) -> str:
    """DuckDB fragment matching :func:`md5_hash32` bit-for-bit."""
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def fingerprint_md5(col: Column) -> Column:
    """Exact-content fingerprint: md5 of whitespace-normalized lowercase text
    (identical in DuckDB: ``md5(...)``)."""
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(normalized)


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (the near-dup unit)."""
    toks = whitespace_tokens(F.lower(col))
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def winnow_fingerprints(df, text_col: str, id_col: str, k: int = 8, window: int = 4):
    """Winnowing document fingerprints (the MOSS scheme) as ``(id, fp)``
    rows: hash every character k-gram, slide a window of ``window`` hashes,
    keep each window's minimum — the distinct minima are the fingerprints.

    Guarantee: any shared substring of length ≥ k+window-1 between two
    documents contributes at least one shared fingerprint, so partial-copy
    detection needs only an equi-join on ``fp`` — sub-quadratic at corpus
    scale, the same blocking shape as shingle dedup.  The per-gram hash is
    :func:`md5_hash32` (positionally identical output to a Rabin-Karp
    rolling hash; the "rolling" recurrence is a per-row CPU optimization a
    JVM expression doesn't need) — engine-agnostic, so the selection
    pipeline SQL-oracles exactly.

    Plan: explode gram positions → hash each gram in codegen (a
    higher-order ``transform`` evaluates interpreted and measured ~40×
    slower at ~300 grams/doc) → sliding-frame window ``min`` per document →
    distinct.  One shuffle on id (the window), one on the distinct; the
    input is spread by id first (:func:`.scale.spread`).
    """
    from pyspark.sql import Window

    grams = (
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")), "id")
        .select(
            "id",
            F.length("__text").alias("__len"),
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.length("__text") - k, F.lit(0)))
            ).alias("i"),
            F.col("__text"),
        )
        .select(
            "id",
            "__len",
            "i",
            md5_hash32(F.col("__text").substr(F.col("i") + 1, F.lit(k))).alias("h"),
        )
    )
    frame = Window.partitionBy("id").orderBy("i").rowsBetween(0, window - 1)
    # window start positions: j ∈ [0, max(G-window, 0)] with G grams — rows
    # past that have short frames and are exactly the positions the
    # slice-clamp formulation excludes
    n_windows = F.greatest(F.col("__len") - k + 1 - window, F.lit(0))
    return (
        grams.withColumn("fp", F.min("h").over(frame))
        .filter(F.col("i") <= n_windows)
        .select("id", "fp")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Vocabulary build + token-id encoding — the text → ids step a pretraining
# pipeline runs between curation and sequence packing (curation.pack_sequences
# picks up exactly where encode_tokens leaves off).
# ---------------------------------------------------------------------------
def build_vocab(df, text_col: str, id_col: str, vocab_size: int):
    """Frequency vocabulary over lowercased whitespace tokens:
    ``(tok, tok_id, tok_count)`` with ids 0..vocab_size-1 assigned in
    (count DESC, tok ASC) order — deterministic, engine-reproducible
    (ties break lexically, never by partition order).  ``vocab_size`` is
    reserved as the OOV/UNK id.

    One explode + hash-agg + a top-k window over the GLOBAL count table —
    the count table is vocabulary-sized (not corpus-sized), so the final
    rank runs on a small single-partition frame exactly like every
    tokenizer trainer's sort step.
    """
    counts = (
        df.select(F.explode(whitespace_tokens(F.lower(F.col(text_col)))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tok_count"))
    )
    w = Window.orderBy(F.desc("tok_count"), F.asc("tok"))
    return (
        counts.withColumn("tok_id", F.row_number().over(w) - 1)
        .filter(F.col("tok_id") < vocab_size)
        .select("tok", "tok_id", "tok_count")
    )


def encode_tokens(df, vocab, text_col: str, id_col: str, unk_id: int):
    """Encode each document to its token-id sequence: ``(id, ids)`` with
    ``ids`` an ``array<int>`` in original token order; out-of-vocabulary
    tokens map to ``unk_id``.

    Scale shape: tokens explode with positions, the vocabulary BROADCASTS
    into a left join (a vocab is ≤ a few hundred MB even at 100k entries —
    never shuffle the corpus by token string), and sequences reassemble with
    one ordered ``collect_list`` per document — a single shuffle on the
    document id, which the exploded rows already carry.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(whitespace_tokens(F.lower(F.col(text_col)))).alias("pos", "tok"),
    )
    joined = toks.join(F.broadcast(vocab.select("tok", "tok_id")), "tok", "left")
    return (
        joined.groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "pos",
                            F.coalesce(F.col("tok_id"), F.lit(unk_id)).alias("tid"),
                        )
                    )
                ),
                lambda s: s["tid"].cast("int"),
            ).alias("ids")
        )
    )
