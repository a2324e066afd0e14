"""Count-min sketch: mergeable sub-linear frequency estimation.

The second sketch family next to HLL (``approx_distinct_users``), with one
decisive difference: HLL's register layout is engine-private, so that query
can only ever be rows-only-checked — this CMS is built from the repo's
engine-agnostic md5 hash family (operators/text.md5_hash32 + the
minhash universal-hash coefficients), so the ENTIRE sketch — every cell
count, every estimate, every collision — replays bit-for-bit in a DuckDB
oracle.  A sketch you can hash-verify externally is a sketch you can trust
in a multi-engine pipeline.

Semantics (Cormode & Muthukrishnan 2005): ``depth`` pairwise-independent
hash rows × ``width`` buckets; each occurrence increments one bucket per
row; a key's estimate is the MIN over its ``depth`` buckets.  Estimates
never undercount; with prob ≥ 1−(1/2)^depth the overcount is ≤ (e/width)·N.

Scale shape: building is ONE hash-aggregation over (row, bucket) — the
shuffle carries depth keys per item, and partial aggregation collapses each
partition to ≤ depth·width cells before the exchange regardless of input
size (that is the whole point of a sketch: the reduced state is the d×w
grid, not the keys).  Cell grids from disjoint corpus shards ADD cell-wise
(mergeable — a cell union + sum re-aggregation), which is what makes the
sketch the 100 TB path for streaming/incremental frequency tracking.
Estimation broadcasts the tiny grid (≤ depth·width rows) against the probe
keys — probes never shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.dedup import (
    MERSENNE61,
    minhash_perm_coeffs,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
    md5_hash32,
    md5_hash32_sql,
)


def _bucket_cols(key: Column, depth: int, width: int, seed: int) -> list[Column]:
    """One bucket index per hash row for ``key``: ((a·h32 + b) mod P) mod w.

    All operands are non-negative and < 2⁶³ (see minhash_perm_coeffs bounds),
    so plain ``%`` matches DuckDB's ``%`` with no sign correction.
    """
    h = md5_hash32(key)
    return [
        ((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE61) % F.lit(width)).alias("bucket")
        for a, b in minhash_perm_coeffs(depth, seed)
    ]


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """Build the sketch grid over every row of ``df`` (one increment per
    occurrence of ``key_col``): ``(row, bucket, cnt)`` — only non-empty
    cells, ≤ depth·width rows total.
    """
    cells = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("row"), b.alias("bucket"))
                for i, b in enumerate(
                    _bucket_cols(F.col(key_col), depth, width, seed)
                )
            ]
        )
    ).alias("rb")
    return (
        df.select(cells)
        .select("rb.row", "rb.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*grids: DataFrame) -> DataFrame:
    """Merge sketch grids built with identical (depth, width, seed): union +
    cell-wise sum — the property that lets shards/increments sketch
    independently and combine without rescanning anything."""
    it = iter(grids)
    out = next(it)
    for g in it:
        out = out.unionByName(g)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    grid: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """Estimate each key's frequency from the grid: ``(key, est_cnt)`` =
    min over the key's ``depth`` cells (missing cell → 0).

    The grid broadcasts (≤ depth·width rows); probe keys never shuffle.
    """
    probes = keys.select(
        F.col(key_col).alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), b.alias("bucket"))
                    for i, b in enumerate(
                        _bucket_cols(F.col(key_col), depth, width, seed)
                    )
                ]
            )
        ).alias("rb"),
    ).select("key", "rb.row", "rb.bucket")
    return (
        probes.join(F.broadcast(grid), ["row", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


# ---------------------------------------------------------------------------
# Bloom filter: O(1)-size membership pre-filter for small-side semi-joins.
#
# The decontamination scale pattern: a benchmark suite's distinct shingles
# broadcast fine at a few MB, but the broadcast HASH TABLE still costs a
# probe-per-row into a many-MB structure.  A Bloom filter compresses the
# same membership test into n_bits/8 bytes (128 KB at 2^20 bits) evaluated
# as a codegen'd expression — corpus rows that can't possibly match die
# inside the scan stage, and only the tiny surviving fraction reaches the
# exact join that removes false positives.  Spark's own runtime row-group
# filters are this exact trick; building it from the md5 universal-hash
# family makes OURS engine-agnostic: a key passes iff ALL its k bit
# positions are set, and since "bit p set" ⟺ "p ∈ the benchmark's position
# set", a SQL oracle reproduces every pass — including every false
# positive — without modeling the bitmap at all.
# ---------------------------------------------------------------------------
BLOOM_SEED = 11


def bloom_positions(
    key: Column, n_bits: int, n_hashes: int = 5, seed: int = BLOOM_SEED
) -> list[Column]:
    """The key's ``n_hashes`` bit positions in [0, n_bits) — same universal
    hash family as the CMS, different default seed so the two sketches'
    collisions are independent."""
    return [
        b for b in _bucket_cols(key, n_hashes, n_bits, seed)
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
    seed: int = BLOOM_SEED,
) -> list[int]:
    """Build the bitmap over ``df[key_col]`` and return it as
    ``n_bits/64`` little-endian words.

    Small-side contract (same as any broadcast build): the INPUT may be any
    size — bit positions reduce through a (word → bit_or) hash-aggregation,
    so the driver receives at most n_bits/64 rows, never keys — but n_bits
    itself must be a broadcast-worthy size.  2^16–2^23 bits covers benchmark
    suites (the bitmap lands on the DRIVER and re-enters the plan as one
    literal array, so past ~2^20 bits plan size becomes the limit);
    corpus-sized sets belong in a join, not a Bloom filter.  For multi-GB
    filters at the 100 TB design point use
    :func:`bloom_build_distributed` + :func:`bloom_filter_distributed`,
    which keep the words executor-side end to end.
    """
    pos = F.explode(
        F.array(*bloom_positions(F.col(key_col), n_bits, n_hashes, seed))
    ).alias("p")
    words = (
        df.select(pos)
        .select(
            (F.col("p") / F.lit(64)).cast("int").alias("w"),
            # SQL form: the PySpark wrapper insists on a literal shift count
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    out = [0] * (n_bits // 64)
    for r in words:
        out[r["w"]] = r["word"]
    return out


def bloom_might_contain(
    key: Column,
    words: list[int],
    n_bits: int,
    n_hashes: int = 5,
    seed: int = BLOOM_SEED,
) -> Column:
    """Codegen'd membership test: true iff every hash position's bit is set.

    ``words`` becomes ONE constant array in the plan; each row then costs
    ``n_hashes`` element_at + bit-test ops inside whole-stage codegen — no
    join, no UDF, no shuffle.  Plan size grows with n_bits/64 literal
    elements: fine through ~2^20 bits; past that, prefer the exact
    broadcast join (the filter would no longer be the cheap path anyway).
    """
    wcol = F.lit(words)

    def _one_bit(p: Column) -> Column:
        # shiftleft with a column count via SQL form (the PySpark wrapper
        # insists on a literal); nested as a lambda var to stay expression-only
        word = F.element_at(wcol, ((p / F.lit(64)).cast("int") + F.lit(1)))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        return word.bitwiseAND(mask) != 0

    checks = [_one_bit(p) for p in bloom_positions(key, n_bits, n_hashes, seed)]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_build_distributed(
    df: DataFrame,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
    seed: int = BLOOM_SEED,
) -> DataFrame:
    """The same (word → bit_or) reduction as :func:`bloom_build`, but the
    words NEVER reach the driver: returns a lazy DataFrame of sparse
    ``(w int, word long)`` rows (zero words absent).  This is the 100 TB
    path — a 2^30-bit filter is 128 MB of words, fine as a shuffled
    aggregate, fatal as a driver list re-entering the plan as a literal."""
    pos = F.explode(
        F.array(*bloom_positions(F.col(key_col), n_bits, n_hashes, seed))
    ).alias("p")
    return (
        df.select(pos)
        .select(
            (F.col("p") / F.lit(64)).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_bitmap_df(words_df: DataFrame, n_bits: int) -> DataFrame:
    """Collapse the sparse words into ONE row carrying the dense bitmap as
    an ``array<long>`` column ``__bloom_bitmap`` — the executor-side
    equivalent of :func:`bloom_build`'s driver list.  The single row then
    broadcasts to consumers; the bitmap itself moves executor→executor,
    never through a plan literal."""
    n_words = n_bits // 64
    entries = F.map_from_entries(
        F.collect_list(F.struct(F.col("w"), F.col("word")))
    )
    return words_df.agg(entries.alias("__m")).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(F.try_element_at(F.col("__m"), i), F.lit(0).cast("long")),
        ).alias("__bloom_bitmap")
    )


def bloom_might_contain_col(
    key: Column,
    bitmap: Column,
    n_bits: int,
    n_hashes: int = 5,
    seed: int = BLOOM_SEED,
) -> Column:
    """:func:`bloom_might_contain` reading the bitmap from a COLUMN (the
    1-row broadcast array) instead of a plan literal — same bit algebra."""

    def _one_bit(p: Column) -> Column:
        word = F.element_at(bitmap, ((p / F.lit(64)).cast("int") + F.lit(1)))
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        return word.bitwiseAND(mask) != 0

    checks = [_one_bit(p) for p in bloom_positions(key, n_bits, n_hashes, seed)]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_filter_distributed(
    corpus: DataFrame,
    key_col: str,
    words_df: DataFrame,
    n_bits: int,
    n_hashes: int = 5,
    seed: int = BLOOM_SEED,
    negate: bool = False,
) -> DataFrame:
    """Filter ``corpus`` to rows whose key MIGHT be in the filter (or
    definitely is NOT, with ``negate``) without the bitmap ever touching
    the driver: the dense bitmap row cross-joins in as a 1-row broadcast
    (BroadcastNestedLoopJoin over one row — no shuffle of the corpus, no
    per-row join probe; the bit tests stay codegen'd expressions)."""
    bm = bloom_bitmap_df(words_df, n_bits)
    cond = bloom_might_contain_col(
        F.col(key_col), F.col("__bloom_bitmap"), n_bits, n_hashes, seed
    )
    if negate:
        cond = ~cond
    return (
        corpus.crossJoin(F.broadcast(bm)).filter(cond).drop("__bloom_bitmap")
    )


def bloom_pass_sql(
    key_expr: str,
    positions_relation: str,
    n_bits: int,
    n_hashes: int = 5,
    seed: int = BLOOM_SEED,
) -> str:
    """DuckDB fragment reproducing :func:`bloom_might_contain` —
    ``positions_relation`` must be a relation with one column ``p`` holding
    the benchmark's DISTINCT bit positions (bit p set ⟺ p present), which
    makes the oracle reproduce even the false positives bit-for-bit."""
    h = md5_hash32_sql(key_expr)
    conds = " AND ".join(
        f"((({a} * ({h}) + {b}) % {MERSENNE61}) % {n_bits}) IN "
        f"(SELECT p FROM {positions_relation})"
        for a, b in minhash_perm_coeffs(n_hashes, seed)
    )
    return f"({conds})"


def bloom_positions_sql(
    key_expr: str, n_bits: int, n_hashes: int = 5, seed: int = BLOOM_SEED
) -> str:
    """DuckDB fragment: list of the key's bit positions (for building the
    oracle's position relation)."""
    h = md5_hash32_sql(key_expr)
    ps = ", ".join(
        f"(({a} * ({h}) + {b}) % {MERSENNE61}) % {n_bits}"
        for a, b in minhash_perm_coeffs(n_hashes, seed)
    )
    return f"[{ps}]"


# ---------------------------------------------------------------------------
# Linear counting: the distinct-count estimator you can oracle-verify.
#
# HLL's registers are engine-private (approx_distinct_users is rows-only
# forever); linear counting (Whang et al. 1990) is the same mergeable-
# bitmap idea one rung down the accuracy/size ladder, and on the md5
# universal-hash family EVERY bit — hence the estimate itself — replays in
# SQL.  Estimate: n̂ = −m·ln(empty/m) for an m-bit bitmap with `empty`
# unset bits; good to a few % while n ≲ m (the operating regime where you
# size m to the expected cardinality).  The reduced state is ≤ m set-bit
# ids — mergeable by union, the same property that makes CMS/Bloom the
# incremental path.
# ---------------------------------------------------------------------------
def lc_bits(df: DataFrame, key_col: str, m: int = 1 << 14) -> DataFrame:
    """The bitmap as its set-bit ids: ``(bit)`` distinct rows, ≤ m of them.
    One hash-project + distinct — the shuffle carries bit ids, never keys.
    Bitmaps from shards merge by plain union+distinct.

    Bucket = salted md5₆₀ mod m, NOT the affine 32-bit family the CMS/Bloom
    use: with a single hash function the permutation adds variance instead
    of independence (measured −6% estimator bias on one coefficient draw vs
    −0.7% for raw md5 — the full 60 bits of digest are the better
    randomness when only one function is needed)."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash60,
    )

    bit = md5_hash60(F.concat(F.lit("lc:"), F.col(key_col))) % F.lit(m)
    return df.select(bit.alias("bit")).distinct()


def lc_estimate(bits: DataFrame, m: int = 1 << 14) -> DataFrame:
    """``(n_bits_set, estimate)`` — the −m·ln(empty/m) estimator as one
    aggregation over the set-bit table; ln is IEEE-identical across engines
    (verified for the unigram-LM scorer already)."""
    return bits.agg(F.count(F.lit(1)).alias("n_bits_set")).select(
        "n_bits_set",
        (
            -F.lit(float(m))
            * F.log((F.lit(float(m)) - F.col("n_bits_set")) / F.lit(float(m)))
        ).alias("estimate"),
    )


def lc_hash_sql(key_expr: str, m: int) -> str:
    """DuckDB fragment: the key's bit id, matching :func:`lc_bits`."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.text import (
        md5_hash60_sql,
    )

    h = md5_hash60_sql(f"'lc:' || ({key_expr})")
    return f"({h}) % {m}"
