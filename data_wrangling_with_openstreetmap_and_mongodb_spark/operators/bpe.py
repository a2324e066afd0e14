"""Distributed BPE (byte-pair-encoding) vocabulary training.

The standard subword-vocabulary construction for LLM training data
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units"): start from characters, repeatedly merge the corpus-wide
most-frequent ADJACENT symbol pair, emit the merge table that tokenizers
replay at encode time.

Scale design — the whole reason to train BPE on the cluster:

- The corpus collapses ONCE into a ``(word, freq)`` table (one hash-agg over
  exploded tokens).  Every subsequent iteration works on that table — its
  size is the corpus VOCABULARY, not the corpus, and at 100 TB that is the
  difference between touching terabytes per merge and gigabytes.
- Each iteration is one explode + hash-agg (adjacent-pair counts weighted
  by word frequency) and one narrow map (apply the merge).  The only driver
  action per iteration is collecting the SINGLE best pair — a bounded
  1-row action, the iterative-algorithm exception the engine documents
  (same contract as connected_components' convergence count).
- The merge application is a pure higher-order-function fold
  (:func:`merge_pair_col`) — greedy left-to-right, non-overlapping, the
  exact semantics reference BPE implementations use — so the symbol table
  never round-trips through Python.
- Lineage: the symbol table re-derives from the word table through k merge
  expressions; a lineage cut every ``MERGES_PER_CUT`` iterations truncates
  the growing fold-expression plan.

Determinism: ties on pair count break lexicographically (pair asc) — the
trained merge table is a pure function of the corpus, stable under retries
and repartitioning.  Verified against a pure-Python reference BPE in
tests/test_bpe.py; the first-iteration pair counts additionally replay in
DuckDB (catalog query ``bpe_first_merge_pairs``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.scale import cut_lineage
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import whitespace_tokens

# Merges folded into the symbol-table expression between lineage cuts: a
# cut costs a job, and each uncut merge nests one more fold in the plan.
MERGES_PER_CUT = 4


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """``(word, freq)`` over whitespace tokens — the corpus collapse that
    bounds every BPE iteration by vocabulary size."""
    return (
        df.select(F.explode(whitespace_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def chars_col(word: Column) -> Column:
    """Initial symbol sequence: the word's characters."""
    return F.split(word, "")


def adjacent_pair_counts(symbols: DataFrame) -> DataFrame:
    """``(a, b, cnt)`` frequency-weighted adjacent pair counts over a
    ``(symbols array<string>, freq)`` table — one explode + one hash-agg."""
    n = F.size("symbols")
    pairs = symbols.select(
        "freq",
        F.explode(
            F.arrays_zip(
                F.slice("symbols", 1, n - 1).alias("a"),
                F.slice("symbols", 2, n - 1).alias("b"),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.a").alias("a"), F.col("p.b").alias("b")
    ).agg(F.sum("freq").alias("cnt"))


def merge_pair_col(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent ``(a, b)`` into ``a+b`` —
    a pure ``aggregate`` fold carrying one pending symbol, so overlapping
    occurrences merge non-overlapping exactly like reference BPE
    ("aaa" + (a,a) → [aa, a]; "aaaa" → [aa, aa])."""
    merged = F.lit(a + b)

    def step(acc: Column, x: Column) -> Column:
        hit = (acc["carry"] == F.lit(a)) & (x == F.lit(b))
        return F.when(
            hit,
            F.struct(
                F.concat(acc["arr"], F.array(merged)).alias("arr"),
                F.lit("").alias("carry"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc["carry"] != "", F.concat(acc["arr"], F.array(acc["carry"]))
                )
                .otherwise(acc["arr"])
                .alias("arr"),
                x.alias("carry"),
            )
        )

    def finish(acc: Column) -> Column:
        return (
            F.when(acc["carry"] != "", F.concat(acc["arr"], F.array(acc["carry"])))
            .otherwise(acc["arr"])
        )

    init = F.struct(
        F.array().cast("array<string>").alias("arr"), F.lit("").alias("carry")
    )
    return F.aggregate(symbols, init, step, finish)


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 10,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges over the corpus.

    Returns ``(merges, symbol_table)`` where ``merges`` is the ordered list
    of ``(a, b, corpus_count)`` merge rules (the tokenizer artifact) and
    ``symbol_table`` the final ``(word, freq, symbols)`` DataFrame.

    Stops early when no adjacent pair remains.  One bounded 1-row collect
    per iteration (the argmax pair); everything else is DataFrame algebra
    over the vocabulary-sized word table.
    """
    words = word_frequencies(df, text_col)
    table = cut_lineage(
        words.select("word", "freq", chars_col(F.col("word")).alias("symbols"))
    )
    merges: list[tuple[str, str, int]] = []
    for i in range(n_merges):
        best = (
            adjacent_pair_counts(table)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # bounded: exactly one row (documented driver action)
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        table = table.withColumn("symbols", merge_pair_col(F.col("symbols"), a, b))
        if (i + 1) % MERGES_PER_CUT == 0:
            table = cut_lineage(table)
    return merges, table


# Above this merge count the expression path is an expression-depth bomb:
# one nested transform() per merge builds a K-deep Catalyst tree whose
# analysis/codegen cost grows superlinearly in K (analyzer recursion and the
# 64KB generated-method limit fail long before data size matters at a real
# 8k-32k-merge vocabulary).  200 keeps the whole tree comfortably inside
# codegen while covering every toy/eval table.
BPE_EXPRESSION_MAX_MERGES = 200


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str, int]],
    expression_max_merges: int = BPE_EXPRESSION_MAX_MERGES,
) -> DataFrame:
    """Apply a trained merge table to a corpus: adds ``bpe_tokens``
    (array<string>) — per-word char split, merges replayed in training
    order, word boundaries preserved (flatten of per-word symbol arrays).

    Two physical strategies, same semantics (equality-tested in
    tests/test_bpe.py across both paths and vs the pure-Python reference):

    - ``len(merges) <= expression_max_merges``: pure Catalyst — one
      higher-order ``transform`` fold per merge, JVM-side, inside
      whole-stage codegen.  Cost grows with the EXPRESSION depth, so this
      path is capped (see :data:`BPE_EXPRESSION_MAX_MERGES`).
    - above the cap: an Arrow-batched ``mapInPandas`` encoder.  The merge
      table ships once per task inside the closure (32k merges ≈ 1 MB);
      each task encodes every DISTINCT word once through a rank-indexed
      replay (O(applied_merges x word_len) per word, not O(K x word_len) —
      only ranks actually present in the word are visited) and reuses it
      via a per-task cache, so Zipfian corpora pay the encode cost per
      vocabulary entry, not per token.  No shuffle either way: both paths
      are a narrow map over the corpus.
    """
    if len(merges) <= expression_max_merges:
        words = F.transform(
            whitespace_tokens(F.col(text_col)), lambda w: F.split(w, "")
        )

        # factory, not default-arg capture: PySpark infers the higher-order
        # lambda's arity from the callable's PARAMETER COUNT, so `lambda s,
        # a=a, b=b` would be built as an (invalid) 3-arg array lambda
        def _merger(a: str, b: str):
            return lambda s: merge_pair_col(s, a, b)

        for a, b, _ in merges:
            words = F.transform(words, _merger(a, b))
        return df.withColumn("bpe_tokens", F.flatten(words))
    return _bpe_encode_arrow(df, text_col, merges)


def _encode_word_replay(
    syms: list[str],
    pairs: list[tuple[str, str]],
    rank_of: dict[tuple[str, str], int],
) -> list[str]:
    """Sequential-replay BPE encode of one word, rank-indexed.

    Exactly equivalent to applying every merge in training order with one
    greedy left-to-right non-overlapping pass each (the expression path),
    but visits only merges whose pair is PRESENT: a pointer sweeps the rank
    axis once; at each step the lowest present rank >= pointer is applied
    fully, then the pointer moves past it.  Pairs created by a merge with a
    rank BELOW the pointer are correctly ignored — sequential replay had
    already passed them when they did not yet exist.
    """
    ptr = 0
    while True:
        best = -1
        for i in range(len(syms) - 1):
            r = rank_of.get((syms[i], syms[i + 1]), -1)
            if r >= ptr and (best == -1 or r < best):
                best = r
        if best == -1:
            return syms
        a, b = pairs[best]
        ab = a + b
        out: list[str] = []
        i, n = 0, len(syms)
        while i < n:
            if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                out.append(ab)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
        ptr = best + 1


def _bpe_encode_arrow(
    df: DataFrame, text_col: str, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Arrow-batched merge-table replay (the scale path of :func:`bpe_encode`)."""
    import re as _re

    from pyspark.sql import types as T

    pairs = [(a, b) for a, b, *_ in merges]
    rank_of = {p: i for i, p in enumerate(pairs)}
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("bpe_tokens", T.ArrayType(T.StringType()), True)]
    )
    # Java regex \s is ASCII-only ([ \t\n\x0B\f\r]) without
    # UNICODE_CHARACTER_CLASS; Python str \s is unicode-aware — spell the
    # class out so tokenization matches whitespace_tokens() exactly
    ws = _re.compile("[ \t\n\x0b\f\r]+")

    def encode_batches(batches):
        cache: dict[str, list[str]] = {}

        def enc_text(t):
            if t is None:
                return None
            out: list[str] = []
            for w in ws.split(t):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = _encode_word_replay(list(w), pairs, rank_of)
                    cache[w] = got
                out.extend(got)
            return out

        for pdf in batches:
            pdf = pdf.copy()
            pdf["bpe_tokens"] = pdf[text_col].map(enc_text)
            yield pdf

    return df.mapInPandas(encode_batches, schema=out_schema)
