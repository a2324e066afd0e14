"""Upsert / enrichment-update operators (SURVEY.md §2.3 J1).

The reference's update pass (04-working-with-mongodb/update.py:56-76) builds a
small ``{label → binomialAuthority}`` dict, then per key runs ``find_one`` +
mutate + ``save()`` — a client-side point-update loop.  DataFrames are
immutable, so the same semantics re-express as one broadcast left-join +
column recompute: every target row survives, matched rows take the update
value, unmatched keep their own (Mongo ``save`` upsert on existing docs).

Scale: the updates side is a dimension table → broadcast hash join, no
shuffle of the big side; the whole update is one narrow projection after the
join, so it pipelines with whatever comes next.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def merge_update(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    set_map: dict[str, Column | str],
) -> DataFrame:
    """Left-join ``updates`` on ``key`` and apply ``set_map``.

    ``set_map`` maps target column name → update-side column (name or
    Column); matched rows take the update value, unmatched rows keep the
    original (coalesce).  Mirrors update.py:72-76's set-then-save.
    """
    joined = target.join(F.broadcast(updates), on=key, how="left")
    out = joined
    for tgt_col, src in set_map.items():
        src_col = F.col(src) if isinstance(src, str) else src
        out = out.withColumn(tgt_col, F.coalesce(src_col, F.col(tgt_col)))
    # drop update-side payload columns that aren't being kept
    keep = set(target.columns)
    return out.select(*[c for c in out.columns if c in keep])


def merge_update_struct(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    struct_col: str,
    field: str,
    src: str,
) -> DataFrame:
    """Struct-field variant: set ``struct_col.field`` from the update side,
    keeping all other struct fields — the exact ``classification.
    binomialAuthority`` shape of update.py:72-74."""
    joined = target.join(F.broadcast(updates), on=key, how="left")
    merged = F.col(struct_col).withField(field, F.coalesce(F.col(src), F.col(struct_col)[field]))
    keep = set(target.columns)
    return joined.withColumn(struct_col, merged).select(
        *[c for c in joined.columns if c in keep]
    )


def scd2_from_changes(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Build a type-2 slowly-changing dimension from a change log:
    ``(key, value, valid_from, valid_to, is_current)`` — one row per value
    EPISODE, consecutive repeats collapsed, ``valid_to`` exclusive and NULL
    on the open (current) episode.

    The warehouse-standard historization of an event stream (account
    status, price, assignment): two window passes over the same (key,
    time, tiebreak) ordering — a null-safe ``lag`` marks episode starts,
    a ``lead`` over the surviving rows closes each interval — so the whole
    dimension builds in ONE shuffle (both windows share the partitioning)
    with no self-join.  The explicit ``tiebreak_col`` makes same-timestamp
    changes deterministic; timestamps are integers, so results hash-match
    across engines.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(value_col).over(w)
    prev_exists = F.lag(F.lit(1)).over(w)
    episodes = df.select(
        key_col, ts_col, value_col, tiebreak_col
    ).withColumn(
        "__start",
        prev_exists.isNull() | ~F.col(value_col).eqNullSafe(prev),
    ).filter(F.col("__start"))
    w2 = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    return episodes.select(
        F.col(key_col).alias("key"),
        F.col(value_col).alias("value"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def scd2_from_changes_sql(
    table: str, key_expr: str, ts_expr: str, value_expr: str, tiebreak_expr: str
) -> str:
    """DuckDB oracle reproducing :func:`scd2_from_changes` row-for-row."""
    return f"""
        WITH ordered AS (
            SELECT {key_expr} AS k, {ts_expr} AS t, {value_expr} AS v,
                   {tiebreak_expr} AS tb,
                   LAG({value_expr}) OVER w AS prev_v,
                   LAG(1) OVER w AS prev_exists
            FROM {table}
            WINDOW w AS (PARTITION BY {key_expr} ORDER BY {ts_expr}, {tiebreak_expr})
        ),
        episodes AS (
            SELECT k, t, v, tb FROM ordered
            WHERE prev_exists IS NULL OR v IS DISTINCT FROM prev_v
        )
        SELECT k AS key, v AS value, t AS valid_from,
               LEAD(t) OVER w2 AS valid_to,
               LEAD(t) OVER w2 IS NULL AS is_current
        FROM episodes
        WINDOW w2 AS (PARTITION BY k ORDER BY t, tb)
    """


def scd2_apply_changes(
    dim: DataFrame,
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    validate: bool = True,
) -> DataFrame:
    """Incrementally fold NEW change rows into an existing SCD2 dimension
    (the output shape of :func:`scd2_from_changes`) — the batch-maintenance
    half of the streaming as-of enrichment loop
    (``streaming/asof_enrich.py``): historize arrivals periodically, enrich
    streams against the result continuously.

    Contract (the standard warehouse forward-only assumption): each new
    change's timestamp must be at or after its key's OPEN episode
    ``valid_from`` — closed history is immutable.  Under that contract the
    collapsed episodes are a lossless change log for the affected keys
    (episode starts never repeat consecutively; only the open episode can
    extend or close), so rebuilding from episodes + new changes equals
    rebuilding from the full original changelog (equivalence-tested in
    tests/test_upsert_scd2.py).  ``validate=True`` enforces the contract
    with one bounded count action (a violation raises ValueError — a
    silent accept would corrupt history); pass ``validate=False`` to skip
    the extra job when the caller already guarantees ordering (e.g. an
    event-time-watermarked stream).

    Scale shape: only AFFECTED keys (semi-join on the change keys) rebuild
    through the two-window :func:`scd2_from_changes` pass; untouched keys'
    episodes move verbatim through an anti-join — no global re-sort, no
    full-history shuffle.  Existing episode rows re-enter the rebuild with
    a NULL tiebreak so they order BEFORE any same-timestamp new change
    (nulls sort first ascending), making replays deterministic.
    """
    keys = changes.select(F.col(key_col).alias("key")).distinct()
    touched = dim.join(keys, "key", "semi")
    untouched = dim.join(keys, "key", "anti")
    if validate:
        open_eps = touched.filter(F.col("is_current")).select(
            "key", F.col("valid_from").alias("__open_from")
        )
        bad = (
            changes.join(open_eps, changes[key_col] == open_eps["key"])
            .filter(F.col(ts_col) < F.col("__open_from"))
            .count()  # bounded contract check (documented driver action)
        )
        if bad:
            raise ValueError(
                f"scd2_apply_changes: {bad} change(s) predate their key's "
                "open episode — closed SCD2 history is immutable (replay "
                "the full changelog through scd2_from_changes instead)"
            )
    tb_t = changes.schema[tiebreak_col].dataType
    old_as_changes = touched.select(
        F.col("key").alias(key_col),
        F.col("valid_from").alias(ts_col),
        F.col("value").alias(value_col),
        F.lit(None).cast(tb_t).alias(tiebreak_col),
    )
    rebuilt = scd2_from_changes(
        old_as_changes.unionByName(
            changes.select(key_col, ts_col, value_col, tiebreak_col)
        ),
        key_col,
        ts_col,
        value_col,
        tiebreak_col,
    )
    return untouched.unionByName(rebuilt)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation: ``(*key_cols, status)`` with status ∈
    {added, removed, changed} — rows present only in ``new``, only in
    ``old``, or in both with different ``compare_cols`` content.  Unchanged
    rows are omitted (the interesting output of a reconciliation is the
    delta, and at 100 TB emitting the unchanged majority is the bug).

    Content comparison is an md5 over the ``compare_cols`` rendered to
    strings, each prefixed with a null-flag byte (``\\x00`` for NULL,
    ``\\x01`` + value otherwise) so a NULL can never collide with any
    literal value — one narrow (key, hash) projection per side, one
    full-outer equi-join on the keys; column values themselves never
    shuffle.  The same fingerprint idiom as exact dedup, so the SQL twin
    is exact.
    """
    def fp(df: DataFrame) -> Column:
        parts = [
            F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
                F.concat(F.lit("\x01"), F.col(c).cast("string"))
            )
            for c in compare_cols
        ]
        return F.md5(F.concat_ws("\x02", *parts))

    a = old.select(*key_cols, fp(old).alias("__h_old"))
    b = new.select(*key_cols, fp(new).alias("__h_new"))
    j = a.join(b, key_cols, "full_outer")
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )
