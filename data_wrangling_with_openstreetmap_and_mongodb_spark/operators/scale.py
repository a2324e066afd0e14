"""Scale-out primitives: the one rebalance and the one lineage cut, skew
salting, bucketed co-located joins, and partitioned sinks with pruning.

None of these change results — they change *plans*.  They are the knobs a
100 TB deployment turns when the defaults (AQE skew handling, shuffle hash
join, flat parquet layout) stop being enough, packaged so the choice is one
call instead of a hand-rolled pattern.  Each has a plan-level test pinning
the behavior (tests/test_scale.py): salted joins keep result equality,
bucketed joins produce no shuffle exchange, partitioned reads prune.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints must resolve under
# `from __future__ import annotations` (stringified hints are looked up in
# module globals)
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

SALT_COL = "__salt"


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition to the scheduler's default parallelism before heavy
    per-row work (tokenize/shingle passes, signature hashing, Python codec
    stages): hash-partitioned on ``key_cols``, round-robin without them.

    This is the package's one rebalance: a one-row-group parquet scan is
    ONE input split, so everything downstream of it would run on one core.
    The count is explicit because AQE's coalescePartitions folds an
    unpinned ``repartition`` of a few MB back into one partition.  Catalyst
    still pushes filters and prunes columns below the exchange."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and return a frame that reads the materialized
    blocks: the package's one materialization, for iterative operators
    (graph loops, ``$graphLookup``, BPE training), ``$merge``, and
    multi-consumer frames (a shingle, token or signature table that
    several branches of one plan read, so its front end runs once).

    The session decides where the blocks live.  With a checkpoint dir set
    on the SparkContext they go there (reliable ``checkpoint``, which
    survives executor loss); otherwise they stay in executor-local storage
    (``localCheckpoint``).  A cut changes no value, only the plan.  It is
    not a cache entry: a later call with the same plan cannot read it, and
    its blocks go when the frame is garbage-collected.  ``eager=False``
    defers the write to the first job that reads the frame (shuffle stages
    below the cut still run when the cut is made).
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to hot keys: the big side gets a deterministic
    salt derived from its partition-local row, the small side is replicated
    ``salt_factor``× — so one hot key spreads over ``salt_factor`` reducers
    instead of melting a single one.

    Use when a handful of keys dominate (the Zipfian user, the null bucket)
    and AQE's skew-join splitting isn't available (e.g. broadcast is too big
    and the skew is in a sort-merge join).  Deterministic AND lineage-stable:
    the salt is a content hash of the whole row (``xxhash64(*columns)``), so
    a retried or re-partitioned task salts each row identically —
    ``monotonically_increasing_id``/``rand`` would not — while rows sharing
    a hot key still spread across ``salt_factor`` reducers.
    """
    big_salted = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*big.columns), F.lit(salt_factor)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))).alias(SALT_COL)
    small_replicated = small.select("*", salts)
    joined = big_salted.join(small_replicated, on=[key, SALT_COL], how=how)
    return joined.drop(SALT_COL)


def salted_count_distinct(
    df: DataFrame, group_key: str, distinct_col: str, salt_factor: int = 16
) -> DataFrame:
    """Two-phase exact count-distinct for skewed group keys: first distinct
    on (key, salt, value) spreads the hot key, then the final exact count
    collapses.  Same result as ``countDistinct`` — different shuffle shape."""
    salted = df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(salt_factor)).cast("int")
    )
    partial = salted.select(group_key, SALT_COL, distinct_col).distinct()
    return partial.groupBy(group_key).agg(
        F.count(F.col(distinct_col)).alias("n_distinct")
    )


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 32, sort: bool = True
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table: joins and
    aggregations on ``key`` between co-bucketed tables need NO shuffle —
    the exchange happened once, at write time.  This is the Spark rendering
    of 'pre-partition your 100 TB fact table by join key'."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a previous session may have left the managed location behind (the
    # metastore is session-scoped in local deployments); saveAsTable refuses
    # to reuse it, so clear the orphan directory
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if warehouse:
        shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-layout partitioned parquet sink: equality/range filters on the
    partition columns prune whole directories at plan time (PartitionFilters
    in the scan), the coarse-grained analogue of row-group pushdown."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def events_partitioned_by_day(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """Materialize events partitioned by epoch day — the layout a streaming
    ingest would write — and return the partitioned reader."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.catalog import (
        MICROS_PER_DAY,
        load_table,
        ts_micros,
    )

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", ts_micros(ev)).withColumn(
        "epoch_day", F.expr(f"ts_us div {MICROS_PER_DAY}").cast("int")
    ).drop("ts_us")
    write_partitioned(ev, path, ["epoch_day"])
    return spark.read.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite ``src_path`` parquet into
    ``⌈input_bytes / target_bytes⌉`` files at ``dst_path`` — the table-
    maintenance job every streaming/incremental sink needs (micro-batches
    and per-task writers leave thousands of KB-sized files; scans then pay
    per-file open/footer costs and lose row-group locality).

    Input size comes from the filesystem listing (a driver-side metadata
    walk, the same thing a table format's manifest would answer — no data
    job).  The rewrite itself is one ``repartition`` shuffle sized to the
    TARGET layout, so output files land near ``target_bytes`` regardless of
    input fragmentation.  Returns the output file count.
    """
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = path.getFileSystem(conf)
    total = fs.getContentSummary(path).getLength()
    n = max(1, -(-total // target_bytes))
    spark.read.parquet(src_path).repartition(int(n)).write.mode(
        "overwrite"
    ).parquet(dst_path)
    out = jvm.org.apache.hadoop.fs.Path(dst_path)
    return sum(
        1
        for st in fs.listStatus(out)
        if st.getPath().getName().endswith(".parquet")
    )


def zvalue_n(cols, bits: int = 20):
    """Morton (Z-order) interleave of k ≥ 2 non-negative integer columns:
    ``bits`` bits of each, bit i of column j at output position i·k + j —
    one pure bit expression, fully codegen'd.

    Inputs must already be non-negative ints in [0, 2^bits); map real
    domains first (e.g. ``percent_rank``-bucket or epoch-day).  ``k·bits``
    must stay within a signed 64-bit value (≤ 63) — lower ``bits`` as
    dimensions grow (20 bits/dim at k=2, 21 at k=3, 15 at k=4...).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("zvalue_n needs at least 2 columns")
    if k * bits > 63:
        raise ValueError(
            f"{k} cols × {bits} bits = {k * bits} exceeds 63 interleaved "
            f"bits; lower bits to ≤ {63 // k}"
        )
    out = F.lit(0).cast("long")
    for j, col in enumerate(cols):
        c = col.cast("long")
        for i in range(bits):
            bit = F.shiftright(c, i).bitwiseAND(F.lit(1))
            out = out + bit * F.lit(1 << (i * k + j)).cast("long")
    return out


def zvalue(col_a, col_b, bits: int = 20):
    """Two-column :func:`zvalue_n` (a-bits in the even positions)."""
    return zvalue_n([col_a, col_b], bits)


def hilbert_index(col_x, col_y, bits: int = 16):
    """2-D Hilbert-curve index of two non-negative integer columns in
    [0, 2^bits) — the QUALITY alternative to :func:`zvalue`: the Hilbert
    curve has no Morton "seams" (consecutive indices are always grid
    neighbors), so contiguous index ranges cover tighter boxes and per-file
    min/max pruning improves further.

    Implementation note: the standard xy2d bit walk carries rotation state
    across bit levels, so a pure Column-expression unroll multiplies every
    sub-expression per level (~5^bits nodes — unusable past ~6 bits).  A
    vectorized Arrow-batched pandas_udf (numpy bit ops, no Python-level
    row loop) is the measured right trade for a one-shot layout write;
    zvalue stays the pure-codegen option.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _h(x: pd.Series, y: pd.Series) -> pd.Series:
        import numpy as np

        xs = x.to_numpy(dtype="int64").copy()
        ys = y.to_numpy(dtype="int64").copy()
        d = np.zeros_like(xs)
        s = 1 << (bits - 1)
        while s > 0:
            rx = ((xs & s) > 0).astype("int64")
            ry = ((ys & s) > 0).astype("int64")
            d += s * s * ((3 * rx) ^ ry)
            # rotate the sub-quadrant: flip when rx==1&ry==0, then swap
            swap = ry == 0
            flip = swap & (rx == 1)
            xs[flip] = s - 1 - xs[flip]
            ys[flip] = s - 1 - ys[flip]
            tmp = xs[swap].copy()
            xs[swap] = ys[swap]
            ys[swap] = tmp
            s >>= 1
        return pd.Series(d)

    return _h(col_x, col_y)


def hilbert_index_n(cols, bits: int = 16):
    """n-dimensional Hilbert index (Skilling's transpose algorithm, AIP
    Conf. Proc. 707, 2004) of k ≥ 2 non-negative integer columns in
    [0, 2^bits) — the n-dim generalization of :func:`hilbert_index`
    (which keeps the classic 2-D xy2d orientation).  ``k·bits ≤ 63``.

    Same engineering trade as the 2-D case: the bit walk carries state
    across levels, so it runs as ONE vectorized Arrow-batched pass (numpy
    bit ops over all rows at once, no Python row loop).  Bijectivity and
    unit-step adjacency are property-tested in 3-D.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("hilbert_index_n needs at least 2 columns")
    if k * bits > 63:
        raise ValueError(
            f"{k} cols × {bits} bits = {k * bits} exceeds 63 index bits; "
            f"lower bits to ≤ {63 // k}"
        )
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _h(*series: pd.Series) -> pd.Series:
        import numpy as np

        X = [s.to_numpy(dtype="int64").copy() for s in series]
        n = len(X)
        M = 1 << (bits - 1)
        # inverse-undo pass: fold each level's rotation into the coords
        Q = M
        while Q > 1:
            P = Q - 1
            for i in range(n):
                hi = (X[i] & Q) != 0
                X[0][hi] ^= P
                t = (X[0] ^ X[i]) & P
                t[hi] = 0
                X[0] ^= t
                X[i] ^= t
            Q >>= 1
        # Gray encode
        for i in range(1, n):
            X[i] ^= X[i - 1]
        t = np.zeros_like(X[0])
        Q = M
        while Q > 1:
            hi = (X[n - 1] & Q) != 0
            t[hi] ^= Q - 1
            Q >>= 1
        for i in range(n):
            X[i] ^= t
        # interleave the transposed bits into one scalar index
        h = np.zeros_like(X[0])
        for kk in range(bits):
            for i in range(n):
                h = (h << 1) | ((X[i] >> (bits - 1 - kk)) & 1)
        return pd.Series(h)

    return _h(*cols)


def write_zordered(
    df: DataFrame,
    path: str,
    *cols: str,
    n_files: int = 8,
    bits: int = 20,
    curve: str = "z",
) -> None:
    """Write ``df`` as parquet clustered by the Z-order of ``cols`` (any
    k ≥ 2 dimensions): rows range-partition on the interleaved Morton
    value, so EACH output file covers a small k-dimensional box of the key
    space instead of a full stripe of one dimension.

    Why this matters at 100 TB: parquet readers prune row groups on per-file
    min/max stats.  A sort on the first column alone gives perfect pruning
    on it and NONE on the others; Z-ordering gives good pruning on ALL —
    the layout trick behind Delta/Iceberg OPTIMIZE ZORDER, here as a plain
    column expression + ``repartitionByRange``.  The bounding-box shrinkage
    (each file's ∏Δdim volume vs a one-dimensional sort's) is what the
    layout test asserts — in 2-D and 3-D — engine-independent of any
    reader.

    ``curve='hilbert'`` clusters on the Hilbert curve instead — 2-D routes
    through :func:`hilbert_index`, any higher k through
    :func:`hilbert_index_n` (Skilling transpose) — tighter boxes per
    contiguous range at the cost of the Arrow-batched index computation
    (see their docstrings).
    """
    if curve == "hilbert":
        if len(cols) == 2:
            z = hilbert_index(F.col(cols[0]), F.col(cols[1]), bits).alias("__z")
        else:
            z = hilbert_index_n([F.col(c) for c in cols], bits).alias("__z")
    elif curve == "z":
        z = zvalue_n([F.col(c) for c in cols], bits).alias("__z")
    else:
        raise ValueError(f"unknown curve: {curve!r}")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
