"""Mongo aggregation-pipeline → DataFrame-plan compiler (SURVEY.md §3.2).

Stages map 1:1 onto lazy DataFrame transformations, so the whole pipeline is
one Catalyst logical plan: ``$match``→filter (pushes to the scan), ``$project``
→select (prunes columns), ``$unwind``→explode, ``$group``→groupBy.agg (partial
+ final hash aggregation), ``$sort``+``$limit``→TakeOrderedAndProject.

mongod executes stages strictly in order and relies on its own pipeline
optimizer to reorder $match before $unwind (05/indian_regions_with_most_cities
.py:34-35); here Catalyst performs the same reorderings on the logical plan.
"""

from __future__ import annotations

from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import types as T

from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore.expressions import (
    ExpressionCompiler,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import davg, dsum
from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore.find import (
    FindCompiler,
    compile_projection,
)

# Fixed-length time unit → microseconds, shared by $setWindowFields range
# frames and $densify.  Calendar units (month/quarter/year) have no fixed
# micros width and take the `_CAL_UNIT_MONTHS` interval-arithmetic path
# instead (clamp-to-month-end semantics, like Mongo's $dateAdd).
_UNIT_MICROS = {
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3_600 * 1_000_000,
    "day": 86_400 * 1_000_000,
    "week": 7 * 86_400 * 1_000_000,
}

# Calendar time unit → months; quarter/year normalize to month intervals so
# both $densify spines and $setWindowFields range frames share one path.
_CAL_UNIT_MONTHS = {"month": 1, "quarter": 3, "year": 12}


def _require_temporal(df: DataFrame, field: str, ctx: str) -> None:
    """mongod validates that a time-``unit`` range applies to a date field
    ($densify field / unit-range window sortBy); mirror that check so a
    numeric field fails loud here instead of deep in Catalyst.  Dotted
    paths resolve through nested structs (ADVICE r6: ``meta.ts`` was
    reported 'missing' by a top-level ``in df.columns`` test)."""
    from pyspark.sql import types as _T

    dtype = ExpressionCompiler(df).field_type(field)
    if not isinstance(
        dtype, (_T.DateType, _T.TimestampType, _T.TimestampNTZType)
    ):
        raise ValueError(
            f"{ctx} requires a date/timestamp field, got "
            f"{field!r}: {dtype.simpleString() if dtype else 'missing'} "
            "(mongod: 'the partition field must be a date')"
        )

# $group accumulators (05-analyzing-data/*.py).  $push → collect_list,
# $addToSet → collect_set, per SURVEY.md §2.4 A6/A7.
_ACCUMULATORS = {
    "$sum",
    "$avg",
    "$min",
    "$max",
    "$push",
    "$addToSet",
    "$first",
    "$last",
    "$count",
    "$stdDevPop",
    "$stdDevSamp",
    "$minN",
    "$maxN",
    "$firstN",
    "$lastN",
    "$top",
    "$topN",
    "$bottom",
    "$bottomN",
    "$median",
    "$percentile",
}


def _is_floating(ec: ExpressionCompiler, col: Column) -> bool:
    try:
        dt = ec.df.select(col).schema.fields[0].dataType
    except Exception:
        return False
    return isinstance(dt, (T.DoubleType, T.FloatType))


def _ranked_pick(arr: Column, sort_by: dict, op: str, n: int) -> Column:
    """Sort an array of ``(__k0..__kN, __v)`` structs by a Mongo sortBy spec
    and keep the first ``n`` — shared by the $top/$topN/$bottom/$bottomN
    accumulators and their window forms.

    Single-direction specs sort by plain struct comparison (the __v field
    rides along as the deterministic tiebreak, as in r4); mixed-direction
    specs — which used to raise — use a comparator array_sort with each key
    total-ordered in its own direction (BSON null placement) and __v as the
    ascending tiebreak.  $bottom* picks from the reversed order, then the
    result flips back so elements appear in sortBy order (Mongo)."""
    dirs = set(sort_by.values())
    if dirs - {1, -1}:
        raise ValueError(f"{op} sortBy directions must be 1/-1: {sort_by}")
    bottom = op in ("$bottom", "$bottomN")
    if len(dirs) == 1:
        asc = (dirs == {1}) != bottom
        ranked = F.slice(F.sort_array(arr, asc=asc), 1, n)
    else:
        lt = ExpressionCompiler._lt_total

        def _cmp(a: Column, b: Column) -> Column:
            out = (
                F.when(lt(a["__v"], b["__v"]), F.lit(-1))
                .when(lt(b["__v"], a["__v"]), F.lit(1))
                .otherwise(F.lit(0))
            )
            for i, d in reversed(list(enumerate(sort_by.values()))):
                if bottom:
                    d = -d
                av, bv = a[f"__k{i}"], b[f"__k{i}"]
                out = (
                    F.when(lt(av, bv), F.lit(-d))
                    .when(lt(bv, av), F.lit(d))
                    .otherwise(out)
                )
            return out

        ranked = F.slice(F.array_sort(arr, _cmp), 1, n)
    if bottom:
        ranked = F.reverse(ranked)  # Mongo returns bottom picks in sort order
    return ranked


def _accumulator(ec: ExpressionCompiler, alias: str, spec: Any) -> Column:
    if not isinstance(spec, dict) or len(spec) != 1:
        raise ValueError(f"accumulator spec must be a single-op doc: {spec}")
    op, arg = next(iter(spec.items()))
    if op not in _ACCUMULATORS:
        raise ValueError(f"unsupported $group accumulator: {op}")
    if op == "$sum":
        # {$sum: 1} is Mongo's idiom for count (05/tweet_apps.py:34)
        if isinstance(arg, (int, float)) and arg == 1:
            return F.count(F.lit(1)).alias(alias)
        col = ec.compile(arg)
        # Floating sums accumulate via exact decimals (functions/detagg.py) so
        # results are independent of partitioning/summation order.  Mongo's
        # $sum of NO numeric values is 0, never null — SQL SUM over an
        # all-null group returns null, so coalesce restores Mongo semantics
        # (caught by tests/test_pipeline_properties.py).
        if _is_floating(ec, col):
            return F.coalesce(dsum(col), F.lit(0.0)).alias(alias)
        return F.coalesce(F.sum(col), F.lit(0).cast("long")).alias(alias)
    if op == "$count":
        return F.count(F.lit(1)).alias(alias)
    if op in ("$minN", "$maxN"):
        # N smallest ascending / N largest descending (Mongo order); nulls
        # are skipped (collect_list drops them).  One hash-agg + array ops —
        # no window, no second shuffle.
        n = int(arg["n"])
        vals = F.sort_array(F.collect_list(ec.compile(arg["input"])), asc=op == "$minN")
        return F.slice(vals, 1, n).alias(alias)
    if op in ("$firstN", "$lastN"):
        # document-arrival order, same caveat as $first/$last: deterministic
        # only under an upstream $sort.  Unlike $minN/$maxN, Mongo's
        # $firstN/$lastN KEEP null inputs — collect_list drops bare nulls,
        # so the value rides inside a (non-null) single-field struct and is
        # projected back out after the slice.
        n = int(arg["n"])
        arr = F.collect_list(F.struct(ec.compile(arg["input"]).alias("v")))
        if op == "$firstN":
            sliced = F.slice(arr, 1, n)
        else:
            sliced = F.when(F.size(arr) <= n, arr).otherwise(F.slice(arr, -n, n))
        return F.transform(sliced, lambda s: s["v"]).alias(alias)
    if op in ("$median", "$percentile"):
        # Mongo 7.0 only offers method:'approximate' (t-digest); this
        # engine computes the EXACT R-7-interpolated quantile instead —
        # strictly more accurate, deterministic, and oracle-replayable
        # (DuckDB quantile_cont matches Spark percentile bit-for-bit, the
        # same pairing value_percentiles pins).  The documented divergence:
        # results may differ from mongod's t-digest approximation.
        col = ec.compile(arg["input"])
        if op == "$median":
            return F.percentile(col, F.lit(0.5)).alias(alias)
        ps = arg["p"]
        return F.percentile(
            col, F.array(*[F.lit(float(p)) for p in ps])
        ).alias(alias)
    if op in ("$top", "$topN", "$bottom", "$bottomN"):
        sort_by = arg["sortBy"]
        n = 1 if op in ("$top", "$bottom") else int(arg["n"])
        keyed = F.struct(
            *[ec.compile(f"${k}").alias(f"__k{i}") for i, k in enumerate(sort_by)],
            ec.compile(arg["output"]).alias("__v"),
        )
        ranked = _ranked_pick(F.collect_list(keyed), sort_by, op, n)
        out = F.transform(ranked, lambda s: s["__v"])
        if op in ("$top", "$bottom"):
            out = F.element_at(out, 1)
        return out.alias(alias)
    col = ec.compile(arg)
    if op == "$avg" and _is_floating(ec, col):
        return davg(col).alias(alias)
    if op in ("$push", "$addToSet"):
        # Mongo keeps null inputs in $push arrays and $addToSet sets;
        # collect_list/collect_set silently drop bare nulls, so the value
        # rides inside a non-null single-field struct (same trick as
        # $firstN) and projects back out.
        gather = F.collect_list if op == "$push" else F.collect_set
        arr = gather(F.struct(col.alias("v")))
        return F.transform(arr, lambda s: s["v"]).alias(alias)
    return {
        "$avg": F.avg,
        "$min": F.min,
        "$max": F.max,
        "$first": F.first,
        "$last": F.last,
        "$stdDevPop": F.stddev_pop,
        "$stdDevSamp": F.stddev_samp,
    }[op](col).alias(alias)


def _apply_group(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    ec = ExpressionCompiler(df)
    gid = spec["_id"]
    drop_cols: list[str] = []
    if gid is None:
        # Mongo emits one doc PER GROUP, so an empty input yields ZERO
        # docs — Spark's global aggregate would return one row; grouping
        # by a constant key restores Mongo's contract (caught by
        # tests/test_pipeline_properties.py)
        keys: list[Column] = [F.lit(True).alias("__gall")]
        drop_cols = ["__gall"]
    elif isinstance(gid, dict) and not (len(gid) == 1 and next(iter(gid)).startswith("$")):
        # compound key: {_id: {country: '$country', region: '$isPartOf'}}
        keys = [ec.compile(v).alias(k) for k, v in gid.items()]
    else:
        keys = [ec.compile(gid).alias("_id")]
    aggs = [_accumulator(ec, alias, s) for alias, s in spec.items() if alias != "_id"]
    if not aggs:
        return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("count")).drop(
            "count", *drop_cols
        )
    return df.groupBy(*keys).agg(*aggs).drop(*drop_cols)


def _check_options(stage: str, spec: dict, allowed: set[str]) -> None:
    """Silent-ignore class guard (r10 sweep): an unknown/misspelled option
    must not quietly change a stage's semantics — the concise-$lookup
    over-match and the r8/r9 ADVICE findings were all this class.  Raises
    on any spec key outside the stage's documented surface."""
    extra = set(spec) - allowed
    if extra:
        raise ValueError(f"unsupported {stage} options: {sorted(extra)}")


def _apply_unwind(df: DataFrame, spec: Any) -> DataFrame:
    """$unwind '$path' — Mongo 2.x drops docs with null/missing/empty arrays,
    which is exactly `explode` (not `explode_outer`); SURVEY.md §7.

    Document-form options (Mongo 3.2): ``preserveNullAndEmptyArrays`` →
    ``explode_outer`` (docs with null/empty arrays survive with a null
    element), ``includeArrayIndex: name`` → ``posexplode[_outer]`` exposing
    the 0-based element index (null on preserved empty docs, per Mongo)."""
    preserve = False
    index_name = None
    if isinstance(spec, dict):
        _check_options(
            "$unwind", spec,
            {"path", "preserveNullAndEmptyArrays", "includeArrayIndex"},
        )
        path = spec["path"]
        preserve = bool(spec.get("preserveNullAndEmptyArrays", False))
        index_name = spec.get("includeArrayIndex")
    else:
        path = spec
    if not path.startswith("$"):
        raise ValueError("$unwind path must start with '$'")
    field = path[1:]
    if "." in field:
        raise ValueError("unwind of nested paths: project the field first")
    others = [c for c in df.columns if c != field]
    if index_name is not None:
        gen = F.posexplode_outer if preserve else F.posexplode
        return df.select(
            *others, gen(F.col(field)).alias(index_name, field)
        ).select(*others, field, F.col(index_name).cast("long").alias(index_name))
    gen = F.explode_outer if preserve else F.explode
    return df.select(*others, gen(F.col(field)).alias(field))


def _apply_sort(df: DataFrame, spec: dict[str, int]) -> DataFrame:
    cols = [F.col(k).asc() if v >= 0 else F.col(k).desc() for k, v in spec.items()]
    return df.orderBy(*cols)


class _ForeignCompiler(ExpressionCompiler):
    """Compiles expressions in a correlated $lookup sub-pipeline: bare
    ``'$field'`` paths resolve to the FOREIGN side (alias-qualified), while
    ``'$$var'`` references resolve through the ``let`` bindings to LOCAL
    columns — exactly Mongo's scoping for the pipeline form."""

    def __init__(self, from_df: DataFrame, prefix: str, env: dict[str, Column]):
        super().__init__(from_df)
        self._prefix = prefix
        self._env.update(env)

    def compile(self, e: Any) -> Column:
        if isinstance(e, str) and e.startswith("$") and not e.startswith("$$"):
            return F.col(f"{self._prefix}.{e[1:]}")
        return super().compile(e)


def _apply_uncorrelated_lookup(
    df: DataFrame, from_df: DataFrame, pipe: list[dict], alias: str
) -> DataFrame:
    """Mongo 3.6's UNCORRELATED ``$lookup`` sub-pipeline (no ``$expr``, no
    join keys): the sub-pipeline runs ONCE against the foreign collection
    and the same result array attaches to every input document — mongod
    even caches it across documents.

    Compiled as: ``aggregate(from, pipe)`` → one global ``collect_list``
    row → 1-row broadcast cross join (the documented bounded-crossJoin
    pattern; the array is as small as the sub-pipeline makes it, exactly
    the mongod contract).  A trailing ``$sort`` in the sub-pipeline
    determines the ARRAY ORDER: the collect is order-free, so the sorted
    order is reimposed on the array with the $sortArray comparator (BSON
    key order) — deterministic regardless of partitioning."""
    sort_spec = None
    if pipe and "$sort" in pipe[-1]:
        sort_spec = pipe[-1]["$sort"]
    elif len(pipe) >= 2 and "$limit" in pipe[-1] and "$sort" in pipe[-2]:
        sort_spec = pipe[-2]["$sort"]  # $sort + $limit tail: top-n, in order
    sub = aggregate(from_df, pipe)
    arr = sub.agg(
        F.collect_list(F.struct(*[F.col(c) for c in sub.columns])).alias(alias)
    )
    if sort_spec is not None:
        aec = ExpressionCompiler(arr)
        arr = arr.select(
            aec.compile(
                {"$sortArray": {"input": f"${alias}", "sortBy": sort_spec}}
            ).alias(alias)
        )
    return df.crossJoin(F.broadcast(arr))


def _expr_path_roots(expr: Any) -> set[str]:
    """Root field names the ``$expr`` AST actually references as paths —
    ``"$items.qty"`` contributes ``items``; ``$$let``-variables, ``$literal``
    payloads, and plain string literals do NOT (r9, ADVICE r8: the old
    substring scan of the JSON dump false-positived on prefix-sharing field
    names like ``$item`` vs ``$items`` and on ``'$field'`` inside string
    literals)."""
    roots: set[str] = set()

    def walk(node: Any, is_operand: bool) -> None:
        if isinstance(node, str):
            # only OPERAND-position strings are path references in Mongo
            if is_operand and node.startswith("$") and not node.startswith("$$"):
                roots.add(node[1:].split(".")[0])
            return
        if isinstance(node, dict):
            for k, v in node.items():
                if k == "$literal":
                    continue  # literal payloads are data, not references
                walk(v, True)
            return
        if isinstance(node, (list, tuple)):
            for item in node:
                walk(item, True)

    walk(expr, True)
    return roots


def _apply_lookup_group(
    df: DataFrame,
    from_df: DataFrame,
    cond: Column,
    env: dict[str, Column],
    gspec: dict[str, Any],
    sort_spec: dict[str, int] | None,
    limit_n: int | None,
    alias: str,
    proj: dict[str, Any] | None = None,
    skip_n: int = 0,
) -> DataFrame:
    """Aggregated correlated ``$lookup`` sub-pipeline (interior ``$group``):
    "attach the count/sum/avg of related docs" — the natural Mongo spelling
    of the reference's top-k-then-fetch J2 family (README.md:976-986).

    Compiled as ONE left join + a two-level hash aggregation, never a
    per-document sub-pipeline: each local doc gets an ephemeral row key
    (``monotonically_increasing_id`` — r9, ADVICE r8: grouping by the full
    local row collapsed byte-identical local docs into one output row and
    broke on non-groupable map-typed local columns; Mongo emits one result
    per INPUT doc), then ``groupBy(row key, group key)`` computes every
    accumulator with map-side partial aggregation (the bulk reduction —
    output is one row per (doc, key) pair), then ``groupBy(row key)``
    assembles the per-document array.  The second exchange moves only
    already-aggregated rows, and hashing a long key is cheaper than
    hashing the wide local tuple.  Join misses survive both
    hops via the ``__present`` marker and yield ``[]`` — exactly mongod's
    empty sub-pipeline result (a keyed ``$group`` over zero docs emits zero
    docs, and so does ``{_id: null}``, matching ``_apply_group``'s
    constant-key contract).

    A trailing ``$project`` (include/rename over the GROUP-OUTPUT fields —
    the "{status: '$_id', n: 1}" idiom; ``_id`` rides along unless
    ``{"_id": 0}``, Mongo's include-mode default) reshapes each group doc;
    a trailing ``$sort`` then orders the ARRAY by the (projected) fields
    (the collect is order-free, so order is reimposed with the
    ``$sortArray`` comparator — BSON key order, deterministic under
    repartitioning); ``$limit`` slices the sorted array ("top 2 statuses
    per customer").
    Accumulator inputs compile against the FOREIGN side (``$f`` →
    ``__f__.f``) with ``$$var`` resolving through ``let`` — the same
    ``_accumulator`` table as the top-level ``$group`` stage, so float sums
    take the exact-decimal ``dsum`` path and ``{$sum: 1}`` is a count."""
    # compile group expressions against the ALIASED foreign frame so
    # type-directed accumulator decisions (_is_floating's schema probe)
    # can resolve the __f__-prefixed columns
    gec = _ForeignCompiler(from_df.alias("__f__"), "__f__", env)
    gid = gspec["_id"]
    if gid is None:
        # one global group per local doc; mirror _apply_group's {_id: null}
        # convention (no _id field in the output doc)
        gid_col = None
    elif isinstance(gid, dict) and not (
        len(gid) == 1 and next(iter(gid)).startswith("$")
    ):
        gid_col = F.struct(*[gec.compile(v).alias(k) for k, v in gid.items()])
    else:
        gid_col = gec.compile(gid)
    acc_names = [a for a in gspec if a != "_id"]
    accs = [_accumulator(gec, a, s) for a, s in gspec.items() if a != "_id"]

    aug = from_df.withColumn("__present", F.lit(True))
    ldf = df.withColumn("__lk_rowid", F.monotonically_increasing_id())
    joined = ldf.join(aug.alias("__f__"), cond, "left")
    marker = F.col("__f__.__present")
    # local columns ride the (tiny-group) aggs as first() carries — every
    # row in a __lk_rowid group shares the same local doc, so first() is
    # deterministic
    carry = [F.first(F.col(c)).alias(c) for c in df.columns]
    gkeys = [F.col("__lk_rowid")] + (
        [gid_col.alias("__gid")] if gid_col is not None else []
    )
    grouped = joined.groupBy(*gkeys).agg(
        *accs, F.max(marker).alias("__any"), *carry
    )
    if proj is None:
        elem_fields = (
            [F.col("__gid").alias("_id")] if gid_col is not None else []
        ) + [F.col(a) for a in acc_names]
    else:
        avail: dict[str, Column] = {a: F.col(a) for a in acc_names}
        if gid_col is not None:
            avail["_id"] = F.col("__gid")
        elem_fields = []
        for name, ex in proj.items():
            if name == "_id" and ex in (0, False):
                continue
            if isinstance(ex, bool) or isinstance(ex, int):
                if not ex:
                    raise ValueError(
                        "$lookup group $project is include/rename mode only; "
                        f"cannot exclude {name!r} (project the keepers instead)"
                    )
                if name not in avail:
                    raise ValueError(
                        f"$lookup group $project references unknown group "
                        f"field {name!r}; have {sorted(avail)}"
                    )
                elem_fields.append(avail[name].alias(name))
            elif isinstance(ex, str) and ex.startswith("$"):
                parts = ex[1:].split(".")
                if parts[0] not in avail:
                    raise ValueError(
                        f"$lookup group $project path {ex!r} must start at a "
                        f"group-output field; have {sorted(avail)}"
                    )
                src = avail[parts[0]]
                for part in parts[1:]:  # dotted compound-_id sub-fields
                    src = src.getField(part)
                elem_fields.append(src.alias(name))
            else:
                raise ValueError(
                    "$lookup group $project supports include (1) and "
                    f"'$field' renames only, got {name!r}: {ex!r}"
                )
        # Mongo include-mode keeps _id unless excluded explicitly
        if "_id" not in proj and gid_col is not None:
            elem_fields.insert(0, F.col("__gid").alias("_id"))
    out = grouped.groupBy("__lk_rowid").agg(
        *[F.first(F.col(c)).alias(c) for c in df.columns],
        F.collect_list(
            F.when(F.col("__any"), F.struct(*elem_fields))
        ).alias(alias),
    ).select(*df.columns, alias)
    if sort_spec is not None:
        aec = ExpressionCompiler(out)
        out = out.withColumn(
            alias,
            aec.compile({"$sortArray": {"input": f"${alias}", "sortBy": sort_spec}}),
        )
        if skip_n or limit_n is not None:
            # paging over the sorted group array: elements skip_n+1 ..
            # skip_n+limit (to the end when no limit); slice clamps, so a
            # fully-skipped array becomes []
            length = (
                F.lit(limit_n)
                if limit_n is not None
                else F.greatest(F.size(F.col(alias)) - F.lit(skip_n), F.lit(0))
            )
            out = out.withColumn(
                alias, F.slice(F.col(alias), F.lit(skip_n + 1), length)
            )
    return out


def _apply_lookup(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$lookup: left outer join collecting matches into an array of structs
    under ``as`` — Mongo 3.2's join stage (not in the 2.x-era reference,
    provided for surface completeness).  Planned as join +
    groupBy(collect_list); the foreign side should be the smaller one
    (broadcast fires under the threshold).

    Three forms:

    - ``localField``/``foreignField``: plain equi-join.
    - ``localField``/``foreignField`` + ``pipeline`` (Mongo 5.0 concise
      correlated form): the equality match applies IN ADDITION to the
      pipeline — desugared below to the ``let`` form with the equality
      AND-ed into the leading ``$match $expr`` (total ``$eq``: null local
      keys match null foreign keys, same as the plain form's eqNullSafe).
    - ``let`` + ``pipeline`` (Mongo 3.6 correlated form): the pipeline's
      FIRST stage must be ``{"$match": {"$expr": cond}}`` — the condition
      (referencing foreign fields as ``$f`` and ``let`` variables as
      ``$$v``) becomes the JOIN condition, which is how a correlated
      sub-query distributes: one join, not a per-document sub-pipeline.
      Residual stages, in Mongo stage order:

      * zero or more ``$unwind`` stages on foreign array fields — applied
        to the foreign collection BEFORE the join (filter-then-unwind
        commutes with unwind-then-filter when the join condition does not
        reference the unwound field; referencing one raises);
      * EITHER an interior ``{"$group": ...}`` (aggregated lookup — see
        :func:`_apply_lookup_group`) followed by optional ``$sort`` (array
        order over group-output fields) + optional ``$limit`` (slice of the
        sorted array);
      * OR the document form: optional LEADING ``{"$project": {...}}``
        (narrows/computes the document the rest of the sub-pipeline sees —
        the following ``$sort`` may reference its computed fields),
        optional ``{"$sort": {...}}`` + optional ``{"$limit": n}`` ("top 3
        related docs each" — compiled to ``row_number`` over the join
        partitioned by the LOCAL document, so the limit prunes BEFORE the
        array builds, never a per-doc sub-pipeline; the result array comes
        back in sort order via the embedded rank), then optional trailing
        ``{"$project": {...}}`` narrowing the collected structs (when no
        leading one was given).

      ``$limit`` without ``$sort`` raises — its result order would be
      nondeterministic.  Anything else raises.
    """
    from_df: DataFrame = spec["from"]
    alias = spec["as"]
    if not isinstance(from_df, DataFrame):
        raise ValueError("$lookup 'from' must be a DataFrame (no shared catalog)")
    extra = set(spec) - {"from", "as", "localField", "foreignField", "let", "pipeline"}
    if extra:
        # silent-ignore class: unknown options must not quietly change
        # join semantics
        raise ValueError(f"unsupported $lookup options: {sorted(extra)}")

    if "pipeline" in spec and ("localField" in spec or "foreignField" in spec):
        # Mongo 5.0 concise correlated form: the localField/foreignField
        # equality applies IN ADDITION to the pipeline (server desugars it to
        # a let + leading $match $expr — replayed here so the equality can
        # never be silently dropped, which over-matched before r10).
        if "localField" not in spec or "foreignField" not in spec:
            raise ValueError(
                "$lookup concise correlated form needs BOTH localField and "
                "foreignField alongside pipeline"
            )
        var = "__concise_local"
        let = dict(spec.get("let") or {})
        if var in let:  # pragma: no cover - pathological name collision
            raise ValueError(f"$lookup let variable {var!r} is reserved")
        let[var] = "$" + spec["localField"]
        eq_expr: dict[str, Any] = {
            "$eq": [f"$${var}", "$" + spec["foreignField"]]
        }
        pipe = list(spec["pipeline"])
        if (
            pipe
            and isinstance(pipe[0], dict)
            and "$match" in pipe[0]
            and isinstance(pipe[0]["$match"], dict)
            and "$expr" in pipe[0]["$match"]
        ):
            # AND the equality into the user's correlated condition so the
            # compiler still sees exactly one leading $match $expr
            pipe = [
                {"$match": {"$expr": {"$and": [eq_expr, pipe[0]["$match"]["$expr"]]}}}
            ] + pipe[1:]
        else:
            pipe = [{"$match": {"$expr": eq_expr}}] + pipe
        spec = {
            "from": from_df,
            "as": alias,
            "let": let,
            "pipeline": pipe,
        }

    if "pipeline" in spec:
        pipe = list(spec["pipeline"])
        correlated = bool(
            pipe and "$match" in pipe[0]
            and isinstance(pipe[0]["$match"], dict)
            and "$expr" in pipe[0]["$match"]
        )
        if not correlated:
            if spec.get("let"):
                raise ValueError(
                    "$lookup with let needs a leading {$match: {$expr: ...}} "
                    "referencing the variables (correlated form)"
                )
            return _apply_uncorrelated_lookup(df, from_df, pipe, alias)
        env = {}
        lec = ExpressionCompiler(df)
        for var, src in (spec.get("let") or {}).items():
            env[var] = lec.compile(src)
        rest = pipe[1:]
        # interior $unwind stages apply to the foreign collection BEFORE
        # the join: $match($expr) is row-level and $unwind only multiplies
        # rows, so filter∘unwind == unwind∘filter unless the condition
        # reads the unwound field itself (the element-vs-array ambiguity) —
        # that case raises
        u = 0
        cond_roots = _expr_path_roots(pipe[0]["$match"]["$expr"])
        while u < len(rest) and "$unwind" in rest[u]:
            uspec = rest[u]["$unwind"]
            upath = uspec["path"] if isinstance(uspec, dict) else uspec
            ufield = upath[1:].split(".")[0]
            if ufield in cond_roots:
                raise ValueError(
                    f"$lookup $unwind of {upath!r} conflicts with the join "
                    "$expr referencing the same field: the condition would "
                    "see the array pre-unwind in Mongo but the element here"
                )
            from_df = _apply_unwind(from_df, uspec)
            u += 1
        rest = rest[u:]
        fec = _ForeignCompiler(from_df, "__f__", env)
        cond = fec.compile_bool(pipe[0]["$match"]["$expr"])
        if rest and "$group" in rest[0]:
            gspec = rest[0]["$group"]
            g_proj = g_sort = g_limit = None
            g_skip = 0
            j = 1
            if j < len(rest) and "$project" in rest[j]:
                g_proj = rest[j]["$project"]
                j += 1
            if j < len(rest) and "$sort" in rest[j]:
                g_sort = rest[j]["$sort"]
                j += 1
            if j < len(rest) and "$skip" in rest[j]:
                g_skip = int(rest[j]["$skip"])
                j += 1
            if j < len(rest) and "$limit" in rest[j]:
                g_limit = int(rest[j]["$limit"])
                j += 1
            if j != len(rest):
                raise ValueError(
                    "$lookup aggregated pipeline supports [$match $expr] + "
                    "$unwind* + $group + optional $project + optional $sort "
                    f"+ optional $skip + optional $limit, in that order; got "
                    f"residual stage {rest[j]}"
                )
            if (g_limit is not None or g_skip) and g_sort is None:
                raise ValueError(
                    "$lookup $skip/$limit needs a preceding $sort "
                    "(deterministic paging)"
                )
            return _apply_lookup_group(
                df, from_df, cond, env, gspec, g_sort, g_limit, alias, g_proj,
                g_skip,
            )
        sort_spec = limit_n = proj = None
        proj_leading = False
        i = 0
        # Mongo stage order: a $project may come BEFORE the $sort (narrowing
        # the document the sort sees) or after the $limit (narrowing only
        # the collected structs) — both compile to the same one-exchange
        # window-over-join plan; the leading form additionally lets the
        # $sort reference computed projection fields.
        if i < len(rest) and "$project" in rest[i]:
            proj = rest[i]["$project"]
            proj_leading = True
            i += 1
        skip_n = 0
        if i < len(rest) and "$sort" in rest[i]:
            sort_spec = rest[i]["$sort"]
            i += 1
        if i < len(rest) and "$skip" in rest[i]:
            # paging inside the sub-pipeline ("the second page of related
            # docs"): rows ranked skip_n+1..skip_n+limit survive
            skip_n = int(rest[i]["$skip"])
            i += 1
        if i < len(rest) and "$limit" in rest[i]:
            limit_n = int(rest[i]["$limit"])
            i += 1
        if proj is None and i < len(rest) and "$project" in rest[i]:
            proj = rest[i]["$project"]
            i += 1
        if i != len(rest):
            raise ValueError(
                "$lookup pipeline form supports [$match $expr] + optional "
                "$project + optional $sort + optional $skip + optional "
                "$limit + optional trailing $project, in that order; got "
                f"residual stage {rest[i]}"
            )
        if (limit_n is not None or skip_n) and sort_spec is None:
            raise ValueError(
                "$lookup $skip/$limit needs a preceding $sort "
                "(deterministic paging)"
            )
        proj_cols: dict[str, Column] | None = None
        if proj is not None:
            entries = {n: e for n, e in proj.items() if n != "_id"}
            excluded = [
                n for n, e in entries.items()
                if isinstance(e, (bool, int)) and not e
            ]
            if excluded and len(excluded) != len(entries):
                raise ValueError(
                    "$lookup $project cannot mix include and exclude "
                    f"(except _id): excluded {excluded} alongside includes"
                )
            if excluded:
                # exclusion mode (r9 — a 0/False value used to be silently
                # treated as an include): keep every other foreign column
                keep = [c for c in from_df.columns if c not in set(excluded)]
                if not keep:
                    raise ValueError("$lookup $project excludes every field")
                fields = [(c, F.col(f"__f__.{c}")) for c in keep]
            else:
                fields = [
                    (name, fec.compile(expr) if not isinstance(expr, int) else F.col(f"__f__.{name}"))
                    for name, expr in entries.items()
                ]
            proj_cols = dict(fields)
            matched = F.struct(*[c.alias(n) for n, c in fields])
        else:
            matched = F.struct(*[F.col(f"__f__.{c}") for c in from_df.columns])
        # a literal marker column distinguishes a join miss from a matched
        # row whose foreign fields happen to be null; the ephemeral row key
        # preserves one output row per INPUT doc (duplicate local docs no
        # longer collapse — r9, ADVICE r8) and keeps map-typed local
        # columns out of grouping keys
        aug = from_df.withColumn("__present", F.lit(True))
        ldf = df.withColumn("__lk_rowid", F.monotonically_increasing_id())
        joined = ldf.join(aug.alias("__f__"), cond, "left")
        marker = F.col("__f__.__present")
        carry = [F.first(F.col(c)).alias(c) for c in df.columns]
        if sort_spec is not None:
            # per-local-document sort/limit: rank matches inside each local
            # document's partition, prune to the limit BEFORE building the
            # array, and carry the rank into the collected struct so
            # sort_array restores Mongo's sorted-array contract (works for
            # mixed sort directions — the rank is always ascending).  The
            # window and the groupBy share the same partition keys, so the
            # exchange is reused: still one shuffle.
            if proj_leading:
                # after a leading $project only projected fields exist
                # (Mongo); sort keys resolve through the projection, so a
                # computed field sorts by its expression
                missing = [k for k in sort_spec if k not in proj_cols]
                if missing:
                    raise ValueError(
                        "$lookup $sort after $project can only reference "
                        f"projected fields; missing: {missing}"
                    )
                order_cols = [
                    proj_cols[k].asc() if v >= 0 else proj_cols[k].desc()
                    for k, v in sort_spec.items()
                ]
            else:
                order_cols = [
                    F.col(f"__f__.{k}").asc() if v >= 0 else F.col(f"__f__.{k}").desc()
                    for k, v in sort_spec.items()
                ]
            w = Window.partitionBy(F.col("__lk_rowid")).orderBy(*order_cols)
            ranked = joined.withColumn("__rn", F.row_number().over(w))
            if limit_n is not None:
                # prune the tail BEFORE the array builds; join-miss rows
                # (marker null) must survive to yield [].  Skipped-page head
                # rows (rn <= skip_n, at most skip_n per doc) also stay in
                # the frame — a doc whose matches ALL fall inside the
                # skipped page must still emit [], not disappear — but the
                # collect excludes them below.
                ranked = ranked.filter(
                    (F.col("__rn") <= skip_n + limit_n) | marker.isNull()
                )
            collectable = marker.isNotNull()
            if skip_n:
                collectable = collectable & (F.col("__rn") > skip_n)
            arr = F.sort_array(
                F.collect_list(
                    F.when(
                        collectable,
                        F.struct(F.col("__rn").alias("k"), matched.alias("v")),
                    )
                )
            )
            return (
                ranked.groupBy("__lk_rowid")
                .agg(*carry, arr.alias(alias))
                .withColumn(alias, F.transform(F.col(alias), lambda s: s["v"]))
                .select(*df.columns, alias)
            )
        return (
            joined.groupBy("__lk_rowid")
            .agg(
                *carry,
                F.collect_list(
                    F.when(marker.isNotNull(), matched)
                ).alias(alias),
            )
            .select(*df.columns, alias)
        )

    local, foreign = spec["localField"], spec["foreignField"]
    matched = F.struct(*[F.col(f"__f__.{c}") for c in from_df.columns])
    ldf = df.withColumn("__lk_rowid", F.monotonically_increasing_id())
    # Mongo equality: a null/missing localField matches foreign docs whose
    # foreignField is null/missing (r9 — plain SQL == silently dropped
    # those matches); the __present marker distinguishes a join miss from
    # a matched row whose foreignField is null
    aug = from_df.withColumn("__present", F.lit(True))
    joined = ldf.join(
        aug.alias("__f__"),
        F.col(local).eqNullSafe(F.col(f"__f__.{foreign}")),
        "left",
    )
    return (
        joined.groupBy("__lk_rowid")
        .agg(
            *[F.first(F.col(c)).alias(c) for c in df.columns],
            F.collect_list(
                F.when(F.col("__f__.__present"), matched)
            ).alias(alias),
        )
        .select(*df.columns, alias)
    )


def _apply_graph_lookup(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$graphLookup: recursive traversal of ``from`` starting at
    ``startWith``, following ``connectFromField`` → ``connectToField``
    edges, collecting every reached foreign doc (with its 0-based
    ``depthField``) into ``as`` — Mongo 3.4's transitive-closure stage
    (org charts, airline routes, dependency closures).

    Distributed shape: a bounded frontier loop, exactly the engine's
    connected-components idiom — per round ONE equi-join (frontier value →
    ``connectToField``) plus a left-anti join against the visited set for
    cycle termination; lineage truncates per round via localCheckpoint,
    and the only driver action is the frontier-empty check (the documented
    iterative-algorithm exception).  Rounds are bounded by
    ``maxDepth + 1`` when given, else the reachable-set diameter (cycles
    terminate through the visited set, like Mongo).

    Like ``$lookup`` (r9), the local document's identity is an ephemeral
    row key (``monotonically_increasing_id``, pinned by an eager
    localCheckpoint so every lineage fork reads the same ids): duplicate
    local docs each keep their own traversal and output row (Mongo emits
    one per input doc), map-typed local columns work, and — the scale
    win — the frontier/visited state carries ``(row key, value)`` pairs
    instead of full local tuples, so per-round shuffles are narrow no
    matter how wide the local documents are.

    Engine extension ``"method": "doubling"`` switches to pointer-doubling
    traversal (:func:`_apply_graph_lookup_doubling`): O(log d) rounds
    instead of O(d) for DEEP chains, at the price of materializing the
    value-graph's reachability closure.  The frontier loop stays the
    default (oracle-checkable, closure-free).
    """
    from_df: DataFrame = spec["from"]
    if not isinstance(from_df, DataFrame):
        raise ValueError("$graphLookup 'from' must be a DataFrame (no shared catalog)")
    extra = set(spec) - {
        "from", "startWith", "connectFromField", "connectToField", "as",
        "depthField", "maxDepth", "method", "restrictSearchWithMatch",
        "closureJoin",  # engine extension (doubling only) — see below
    }
    if extra:
        # silent-ignore class: an unknown option must not quietly change
        # traversal semantics
        raise ValueError(f"unsupported $graphLookup options: {sorted(extra)}")
    rsm = spec.get("restrictSearchWithMatch")
    if rsm is not None:
        # Mongo: documents failing the restriction are invisible to the
        # traversal — neither collected nor followed — so a plain pre-filter
        # of the foreign collection IS the semantics (r9; previously
        # silently ignored)
        from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore.find import FindCompiler

        from_df = from_df.filter(FindCompiler(from_df).compile(rsm))
        spec = {**spec, "from": from_df}
    method = spec.get("method", "frontier")
    if method == "doubling":
        return _apply_graph_lookup_doubling(df, spec)
    if method != "frontier":
        raise ValueError(f"$graphLookup method must be frontier/doubling: {method!r}")
    alias = spec["as"]
    conn_from, conn_to = spec["connectFromField"], spec["connectToField"]
    depth_field = spec.get("depthField")
    max_depth = spec.get("maxDepth")

    # eager checkpoint pins the row ids: every lineage fork below (frontier
    # seed, visited set, final join-back) must read the SAME id per doc
    ldf = df.withColumn(
        "__gl_rowid", F.monotonically_increasing_id()
    ).localCheckpoint()
    ec = ExpressionCompiler(ldf)
    frontier = _graph_seed(ldf, ec, spec["startWith"])
    foreign = from_df.alias("__g__")
    reached = None  # (__gl_rowid, foreign struct, __depth)
    visited = frontier  # values already expanded
    depth = 0
    while True:
        if max_depth is not None and depth > int(max_depth):
            break
        # alias BOTH sides: `from` is frequently the same frame as `df`
        # (org charts), so bare column names would be ambiguous
        hits = frontier.alias("__l__").join(
            foreign, F.col("__l__.__v") == F.col(f"__g__.{conn_to}")
        ).select(
            F.col("__l__.__gl_rowid").alias("__gl_rowid"),
            F.struct(*[F.col(f"__g__.{c}") for c in from_df.columns]).alias("__doc"),
            F.col(f"__g__.{conn_from}").alias("__next"),
            F.lit(depth).alias("__depth"),
        ).localCheckpoint(eager=False)
        # eager=False: hits materializes INSIDE the frontier checkpoint's job
        # below and is reused by `reached` from the checkpoint — truncating
        # lineage without paying a dedicated per-round job (A/B at sf0.1 on
        # the gate query, warm medians: 4.18s → 3.94s; one fewer scheduled
        # job per round)
        # no separate hits-empty action: an empty hits makes the next
        # frontier empty, which the single loop-bottom check catches —
        # one driver action per round, not two
        step = hits.select("__gl_rowid", "__doc", "__depth").dropDuplicates(
            ["__gl_rowid", "__doc"]
        )
        reached = step if reached is None else reached.unionByName(step)
        # NULL-SAFE on the VALUE: traversal values may legitimately hold
        # nulls (the org chart's root has reportsTo null); a plain
        # equi-anti-join would never match those rows against the visited
        # set and a cycle through them would loop forever.  The row key is
        # never null — plain equality there.
        cand = hits.select("__gl_rowid", F.col("__next").alias("__v")).distinct()
        anti_cond = (
            F.col("__c__.__gl_rowid") == F.col("__vis__.__gl_rowid")
        ) & F.col("__c__.__v").eqNullSafe(F.col("__vis__.__v"))
        frontier = (
            cand.alias("__c__")
            .join(visited.alias("__vis__"), anti_cond, "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionByName(frontier).localCheckpoint(eager=False)
        depth += 1
        if frontier.isEmpty():
            break
    if reached is None:
        empty_struct = F.array().cast(
            "array<struct<" + ",".join(
                f"`{f.name}`:{f.dataType.simpleString()}" for f in from_df.schema.fields
            ) + ">"
        )
        return df.withColumn(alias, empty_struct)
    return _graph_collect(ldf, list(df.columns), reached, from_df, alias, depth_field)


def _graph_seed(ldf: DataFrame, ec: "ExpressionCompiler", start_with: Any) -> DataFrame:
    """(__gl_rowid, __v) seed frontier.  Mongo seeds EVERY element when
    ``startWith`` evaluates to an array (r9) — exploded here, with
    null/empty arrays seeding nothing (the doc still emits [] through the
    join-back); per-doc duplicate seed values collapse."""
    from pyspark.sql.types import ArrayType

    raw = ec.compile(start_with)
    seeded = ldf.select("__gl_rowid", raw.alias("__v"))
    if isinstance(seeded.schema["__v"].dataType, ArrayType):
        seeded = ldf.select(
            "__gl_rowid", F.explode(raw).alias("__v")
        ).distinct()
    return seeded


def _graph_collect(
    ldf: DataFrame,
    out_cols: list[str],
    reached: DataFrame,
    from_df: DataFrame,
    alias: str,
    depth_field: str | None,
) -> DataFrame:
    """Shared $graphLookup tail: collapse ``reached`` (__gl_rowid, __doc,
    __depth) to shallowest-depth members, collect the array, and join it
    back onto the row-keyed local frame (empty array for no-reach docs)."""
    # a doc reached via several depths keeps its SHALLOWEST depth (Mongo)
    best = reached.groupBy("__gl_rowid", "__doc").agg(
        F.min("__depth").alias("__depth")
    )
    member = (
        # Mongo inlines depthField INTO the reached doc
        F.struct(
            *[
                F.col("__doc")[f.name].alias(f.name)
                for f in from_df.schema.fields
            ],
            F.col("__depth").cast("long").alias(depth_field),
        )
        if depth_field
        else F.col("__doc")
    )
    arrays = best.groupBy("__gl_rowid").agg(
        F.collect_list(member).alias(alias)
    )
    out = ldf.join(arrays, "__gl_rowid", "left").select(*out_cols, alias)
    # docs that reached nothing get an EMPTY array, not null (Mongo)
    fill = F.coalesce(F.col(alias), F.array().cast(arrays.schema[alias].dataType))
    return out.withColumn(alias, fill)


def _apply_graph_lookup_doubling(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """Pointer-doubling $graphLookup (VERDICT r6 ask #6): min-distance
    reachability over the VALUE graph (edge ``connectToField`` value →
    ``connectFromField`` value per foreign doc) computed by repeated
    self-composition — each round doubles the path-length horizon, so a
    depth-d chain needs ⌈log2 d⌉ rounds instead of d.

    The closure seeds with identity pairs (v, v, 0), which makes one
    min-composition per round a superset of the previous closure (identity
    ∘ pair = pair) — no separate union.  With ``maxDepth`` the round count
    is FIXED (⌈log2 maxDepth⌉ — zero driver actions in the loop); without
    it, one (count, sum-of-distance) action per round detects convergence:
    composition can only add pairs or shrink distances, so unchanged stats
    mean a fixed point.  Every pair with true distance ≤ the horizon holds
    its exact minimum (a shortest path ≤ 2^(k+1) splits into two halves
    ≤ 2^k), and overestimated longer pairs converge before the loop exits.

    Trade-off vs the frontier loop: the closure materializes up to
    O(reachable pairs) rows — a chain of length L holds L(L+1)/2 pairs —
    so this wins when depth (stage-sync rounds) dominates, i.e. long thin
    chains, and loses on broad shallow graphs.  Kept opt-in for exactly
    that reason.
    """
    from_df: DataFrame = spec["from"]
    alias = spec["as"]
    conn_from, conn_to = spec["connectFromField"], spec["connectToField"]
    depth_field = spec.get("depthField")
    max_depth = spec.get("maxDepth")
    # engine extension (r16, guide §3.1): "closureJoin": "broadcast" hints
    # one side of each compose self-join.  The closure is checkpointed
    # (no size statistics), so Catalyst otherwise always plans
    # SortMergeJoins; a caller that KNOWS the closure is bounded (tiny
    # filtered graphs) opts in.  Values identical — only the join
    # strategy changes.  Default shuffle: the closure is O(reachable
    # pairs) and can be huge at scale.
    closure_join = spec.get("closureJoin", "shuffle")
    if closure_join not in ("shuffle", "broadcast"):
        raise ValueError(f"$graphLookup closureJoin must be shuffle/broadcast: {closure_join!r}")

    ldf = df.withColumn(
        "__gl_rowid", F.monotonically_increasing_id()
    ).localCheckpoint()
    ec = ExpressionCompiler(ldf)
    starts = _graph_seed(ldf, ec, spec["startWith"])

    # value graph; null endpoints can never equi-match a traversal step
    edges = (
        from_df.select(
            F.col(conn_to).alias("__src"), F.col(conn_from).alias("__dst")
        )
        .filter(F.col("__src").isNotNull() & F.col("__dst").isNotNull())
        .distinct()
    )
    nodes = (
        edges.select("__src")
        .union(edges.select(F.col("__dst").alias("__src")))
        .union(starts.select(F.col("__v").alias("__src")).filter(F.col("__v").isNotNull()))
        .distinct()
    )
    ident = nodes.select(
        "__src", F.col("__src").alias("__dst"), F.lit(0).alias("__d")
    )
    closure = (
        ident.unionByName(edges.withColumn("__d", F.lit(1)))
        .groupBy("__src", "__dst")
        .agg(F.min("__d").alias("__d"))
        .localCheckpoint()
    )

    def compose(c: DataFrame) -> DataFrame:
        rhs = F.broadcast(c) if closure_join == "broadcast" else c
        comp = (
            c.alias("__a")
            .join(rhs.alias("__b"), F.col("__a.__dst") == F.col("__b.__src"))
            .select(
                F.col("__a.__src").alias("__src"),
                F.col("__b.__dst").alias("__dst"),
                (F.col("__a.__d") + F.col("__b.__d")).alias("__d"),
            )
        )
        return (
            comp.groupBy("__src", "__dst").agg(F.min("__d").alias("__d"))
            .localCheckpoint()
        )

    if max_depth is not None:
        md = int(max_depth)
        horizon = 1
        while horizon < md:
            closure = compose(closure)
            horizon *= 2
    else:
        prev = closure.agg(
            F.count(F.lit(1)).alias("n"), F.sum("__d").alias("s")
        ).collect()[0]
        for _ in range(48):  # converges in ceil(log2(diameter)) + 1 rounds
            closure = compose(closure)
            cur = closure.agg(
                F.count(F.lit(1)).alias("n"), F.sum("__d").alias("s")
            ).collect()[0]
            if (cur["n"], cur["s"]) == (prev["n"], prev["s"]):
                break
            prev = cur

    foreign = from_df.alias("__g__")
    reached = (
        starts.alias("__s")
        .join(closure.alias("__c"), F.col("__s.__v") == F.col("__c.__src"))
        .join(foreign, F.col("__c.__dst") == F.col(f"__g__.{conn_to}"))
        .select(
            F.col("__s.__gl_rowid").alias("__gl_rowid"),
            F.struct(*[F.col(f"__g__.{c}") for c in from_df.columns]).alias("__doc"),
            F.col("__c.__d").alias("__depth"),
        )
    )
    if max_depth is not None:
        reached = reached.filter(F.col("__depth") <= int(max_depth))
    return _graph_collect(ldf, list(df.columns), reached, from_df, alias, depth_field)


def _apply_vector_search(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """Atlas-style ``$vectorSearch`` facade over the engine's similarity
    tier (operators/similarity.py): exact cosine ranking with Atlas' score
    normalization ``score = (1 + cosine) / 2``, quantized to the 1e-6 grid
    so ranking and values are engine-independent.

    ``{"path": col, "queryVector": [...], "limit": n,
    "numCandidates": k?, "filter": find-doc?}``.  ``filter`` pre-filters
    with the find compiler (Atlas restricts to indexed fields; any
    find-compilable doc works here).  ``numCandidates`` is advisory on
    this exact path — the scale path is the IVF/LSH ANN operator family,
    which trades recall for candidate count explicitly.  The score rides
    in a hidden column surfaced via ``{"$meta": "vectorSearchScore"}``;
    the plan is scan → scored projection → TakeOrderedAndProject (per-
    partition top-k heaps, no full sort)."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import quantize6
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.similarity import (
        cosine_to_query,
    )

    path = spec["path"]
    qv = [float(x) for x in spec["queryVector"]]
    limit = int(spec["limit"])
    out = df
    if spec.get("filter"):
        out = out.filter(FindCompiler(out).compile(spec["filter"]))
    score = quantize6(
        (F.lit(1.0) + cosine_to_query(F.col(path), qv)) / F.lit(2.0)
    )
    return (
        out.withColumn("__vs_score", score)
        .orderBy(F.desc("__vs_score"))
        .limit(limit)
    )


def _apply_geo_near(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """``$geoNear`` (must be the first pipeline stage, like mongod): filter
    to a distance band, attach ``distanceField``, return nearest-first.

    ``{"near": [x, y], "distanceField": name, "key": pair-field,
    "spherical": bool?, "maxDistance"?, "minDistance"?, "query"?,
    "distanceMultiplier"?}``.  The ``key`` field holds a legacy ``[x, y]``
    coordinate pair (the OSM ``pos`` shape — reference ``data.py:105-108``);
    mongod infers it from the 2d index, typed storage names it (default
    ``pos``).  Spherical mode reads pairs as Mongo's legacy ``[lon, lat]``
    and measures central-angle RADIANS; planar mode is flat Euclidean in
    coordinate units.  Per mongod, min/maxDistance apply to the RAW
    distance; ``distanceMultiplier`` scales only the reported field.  The
    reported distance quantizes to the 1e-6 grid (the $vectorSearch score
    treatment) so thresholds and ranks are engine-independent; ties are
    returned in undefined order, as in mongod — add a $sort for stable
    paging."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import quantize6
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.geo import (
        central_angle_rad,
    )

    spec = dict(spec)
    near = spec.pop("near")
    dist_field = spec.pop("distanceField")
    key = spec.pop("key", "pos")
    spherical = bool(spec.pop("spherical", False))
    max_d = spec.pop("maxDistance", None)
    min_d = spec.pop("minDistance", None)
    query = spec.pop("query", None)
    mult = float(spec.pop("distanceMultiplier", 1.0))
    if spec:
        raise ValueError(f"unsupported $geoNear options: {sorted(spec)}")
    out = df
    if query:
        out = out.filter(FindCompiler(out).compile(query))
    pair = F.col(key)
    px, py = F.element_at(pair, 1), F.element_at(pair, 2)
    cx, cy = float(near[0]), float(near[1])
    if spherical:
        raw = central_angle_rad(py, px, F.lit(cy), F.lit(cx))
    else:
        dx, dy = px - F.lit(cx), py - F.lit(cy)
        raw = F.sqrt(dx * dx + dy * dy)
    raw = quantize6(raw)
    out = out.withColumn(dist_field, raw)
    if max_d is not None:
        out = out.filter(F.col(dist_field) <= F.lit(float(max_d)))
    if min_d is not None:
        out = out.filter(F.col(dist_field) >= F.lit(float(min_d)))
    if mult != 1.0:
        out = out.withColumn(dist_field, F.col(dist_field) * F.lit(mult))
    return out.orderBy(F.col(dist_field).asc())


def _apply_search(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """Atlas-style ``$search`` facade (text operator) over the engine's
    Okapi BM25 (operators/search.py::bm25_scores): documents MATCHING any
    whitespace query term, ranked score-descending (id-ascending tiebreak
    — strictly stronger than Atlas' unspecified tie order), full document
    preserved, the quantized score surfaced via
    ``{"$meta": "searchScore"}``.

    ``{"text": {"query": str, "path": col}, "idField": col?}`` —
    ``idField`` (engine extension, default ``_id``) names the unique
    document id column the score join uses; typed tables have no implicit
    ``_id``.  The scoring plan is the bm25_topk shape (term-filtered
    explode, broadcast df/avgdl) plus one broadcast-eligible join of the
    score rows (≤ matching docs) back onto the collection."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.detagg import quantize6
    from data_wrangling_with_openstreetmap_and_mongodb_spark.operators.search import (
        bm25_scores,
    )

    text = spec["text"]
    terms = [t for t in str(text["query"]).split() if t]
    path = text["path"]
    id_col = spec.get("idField", "_id")
    if id_col not in df.columns:
        raise ValueError(
            f"$search needs 'idField' naming a unique id column "
            f"(no {id_col!r} in {df.columns})"
        )
    scores = bm25_scores(df, path, id_col, terms).select(
        F.col("id").alias(id_col),
        quantize6(F.col("score")).alias("__search_score"),
    )
    return df.join(scores, id_col, "inner").orderBy(
        F.desc("__search_score"), F.asc(id_col)
    )


def _apply_bucket(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$bucket: range-bucket documents by ``groupBy`` over explicit
    ``boundaries`` (ascending; [lo, hi) per Mongo), out-of-range docs to
    ``default`` (error without one, like Mongo), accumulators in ``output``
    (default {count: {$sum: 1}}).  One conditional projection + hash-agg."""
    _check_options("$bucket", spec, {"groupBy", "boundaries", "default", "output"})
    ec = ExpressionCompiler(df)
    key = ec.compile(spec["groupBy"])
    bounds = spec["boundaries"]
    # strict ascent, like mongod: duplicate boundaries would create an
    # unreachable empty [lo, lo) bucket rather than error
    if len(bounds) < 2 or not all(a < b for a, b in zip(bounds, bounds[1:])):
        raise ValueError("$bucket boundaries must be strictly ascending, length >= 2")
    # Mongo's _id may mix types (numeric boundaries + a string default);
    # a Spark column cannot — when the default's type differs from the
    # boundaries', every bucket id becomes its string form
    stringify = "default" in spec and not isinstance(
        spec["default"], type(bounds[0])
    )
    def _id_lit(v):
        return F.lit(str(v) if stringify else v)
    bucket = None
    for lo, hi in zip(bounds, bounds[1:]):
        cond = (key >= F.lit(lo)) & (key < F.lit(hi))
        bucket = F.when(cond, _id_lit(lo)) if bucket is None else bucket.when(cond, _id_lit(lo))
    if "default" in spec:
        bucket = bucket.otherwise(_id_lit(spec["default"]))
    else:
        # Mongo errors at RUN time on an out-of-range doc when no default is
        # given — raise_error is the lazy-plan analogue (fires per offending
        # row at execution, free when all docs are in range)
        bucket = bucket.otherwise(
            F.raise_error(F.lit("$bucket: document outside boundaries and no default"))
        )
    tagged = df.withColumn("_id", bucket)
    output = spec.get("output", {"count": {"$sum": 1}})
    ec2 = ExpressionCompiler(tagged)
    aggs = [_accumulator(ec2, name, acc) for name, acc in output.items()]
    return tagged.groupBy("_id").agg(*aggs)


# Mongo $bucketAuto preferred-number granularity series (mantissas per
# decade).  POWERSOF2 is handled separately (not decade-periodic).
_GRANULARITY_SERIES: dict[str, tuple[float, ...]] = {
    "R5": (1.0, 1.6, 2.5, 4.0, 6.3),
    "R10": (1.0, 1.25, 1.6, 2.0, 2.5, 3.15, 4.0, 5.0, 6.3, 8.0),
    "R20": (1.0, 1.12, 1.25, 1.4, 1.6, 1.8, 2.0, 2.24, 2.5, 2.8,
            3.15, 3.55, 4.0, 4.5, 5.0, 5.6, 6.3, 7.1, 8.0, 9.0),
    "R40": (1.0, 1.06, 1.12, 1.18, 1.25, 1.32, 1.4, 1.5, 1.6, 1.7, 1.8, 1.9,
            2.0, 2.12, 2.24, 2.36, 2.5, 2.65, 2.8, 3.0, 3.15, 3.35, 3.55,
            3.75, 4.0, 4.25, 4.5, 4.75, 5.0, 5.3, 5.6, 6.0, 6.3, 6.7, 7.1,
            7.5, 8.0, 8.5, 9.0, 9.5),
    "1-2-5": (1.0, 2.0, 5.0),
    "E6": (1.0, 1.5, 2.2, 3.3, 4.7, 6.8),
    "E12": (1.0, 1.2, 1.5, 1.8, 2.2, 2.7, 3.3, 3.9, 4.7, 5.6, 6.8, 8.2),
    "E24": (1.0, 1.1, 1.2, 1.3, 1.5, 1.6, 1.8, 2.0, 2.2, 2.4, 2.7, 3.0,
            3.3, 3.6, 3.9, 4.3, 4.7, 5.1, 5.6, 6.2, 6.8, 7.5, 8.2, 9.1),
}


def _granularity_round(x: float, granularity: str, up: bool) -> float:
    """Round ``x`` to the nearest series value (``up``: smallest ≥ x, else
    largest ≤ x), per Mongo's $bucketAuto granularity contract (values must
    be non-negative; 0 is preserved)."""
    import math

    if x < 0:
        raise ValueError("$bucketAuto granularity requires non-negative values")
    if x == 0:
        return 0.0
    if granularity == "POWERSOF2":
        e = math.log2(x)
        return float(2 ** (math.ceil(e - 1e-9) if up else math.floor(e + 1e-9)))
    series = _GRANULARITY_SERIES.get(granularity)
    if series is None:
        raise ValueError(f"unsupported $bucketAuto granularity: {granularity!r}")
    decade = math.floor(math.log10(x))
    # float log can land one decade off at exact boundaries; scan ±1 decade
    candidates = [
        m * (10.0 ** d) for d in (decade - 1, decade, decade + 1) for m in series
    ]
    if up:
        return min(c for c in candidates if c >= x * (1 - 1e-12))
    return max(c for c in candidates if c <= x * (1 + 1e-12))


def _apply_bucket_auto(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$bucketAuto: ``buckets`` equal-population groups over ``groupBy``.

    Two physical strategies behind one stage (VERDICT r3 ask #5):

    - ``scaleMode: "exact"`` (default when no ``granularity``): ntile over a
      GLOBAL sort on the key.  Exactly Mongo's equal-count contract, but the
      un-partitioned window is a single-partition sort — fine for the modest
      keyspaces mongod itself targets, wrong at 100 TB.
    - ``scaleMode: "approx"`` (auto-selected when ``granularity`` is given):
      one distributed ``approx_percentile`` aggregate derives n−1 interior
      boundaries (a bounded n+1-scalar driver collect), optionally rounded
      to Mongo's preferred-number series (R5/R10/R20/R40/1-2-5/E6/E12/E24/
      POWERSOF2), then documents range-bucket through the same conditional
      projection the ``$bucket`` path uses — no global sort anywhere, fully
      map-side until the final hash-agg.  Skewed keys can collapse adjacent
      quantiles; duplicate boundaries merge, so fewer than ``buckets``
      groups may return (mongod's granularity mode does the same).

    With ``granularity`` the ``_id`` bounds are the rounded series
    boundaries (Mongo's contract); otherwise observed per-bucket min/max
    under BSON order (a bucket containing null keys reports ``_id.min``
    null — null is BSON-lowest).

    Tie/null contract (r10, VERDICT r9 ask #4 edge lock):

    - EQUAL KEYS NEVER SPLIT across buckets (Mongo walks the sorted docs
      and extends the current bucket through ties): exact mode assigns
      each key its FIRST occurrence's ntile (min-over-key window on the
      same sort — no extra exchange), so an all-identical keyspace yields
      ONE bucket, not ``buckets`` arbitrary slices.
    - Null/missing keys sort lowest (BSON) and land in the FIRST bucket in
      both modes; an all-null keyspace is one all-null bucket.
    - Empty input yields zero buckets in both modes.

    AT SCALE, PASS ``scaleMode="approx"`` EXPLICITLY — it needs no
    ``granularity`` (boundaries then come straight from
    ``approx_percentile``) and is the only mode whose plan survives a
    100 TB keyspace; ``exact`` exists for mongod-fidelity on small keys.
    """
    _check_options(
        "$bucketAuto", spec,
        {"groupBy", "buckets", "granularity", "scaleMode", "output"},
    )
    ec = ExpressionCompiler(df)
    key = ec.compile(spec["groupBy"])
    n = int(spec["buckets"])
    gran = spec.get("granularity")
    mode = spec.get("scaleMode", "approx" if gran else "exact")
    output = spec.get("output", {"count": {"$sum": 1}})

    if mode == "exact":
        w = Window.orderBy(key.asc())  # asc = nulls first = BSON null-lowest
        tagged = df.withColumn("__k", key).withColumn("__b0", F.ntile(n).over(w))
        # ties stay with their first occurrence's bucket (Mongo extends the
        # current bucket through equal keys): min ntile over the PEERS-ONLY
        # range frame (RANGE CURRENT ROW..CURRENT ROW = all rows tying on
        # the sort key) — same global order, same single partition, no
        # extra exchange; nulls are peers of each other
        peers = Window.orderBy(F.col("__k").asc()).rangeBetween(
            Window.currentRow, Window.currentRow
        )
        tagged = tagged.withColumn("__b", F.min("__b0").over(peers))
        ec2 = ExpressionCompiler(tagged)
        aggs = [_accumulator(ec2, name, acc) for name, acc in output.items()]
        # BSON min: null when the bucket holds any null key (count(*) >
        # count(key) detects it); max skips nulls natively (BSON max only
        # returns null when every key is null, which F.max also does)
        bson_min = F.when(
            F.count(F.lit(1)) > F.count("__k"), F.lit(None)
        ).otherwise(F.min("__k"))
        return (
            tagged.groupBy("__b")
            .agg(
                F.struct(
                    bson_min.alias("min"), F.max("__k").alias("max")
                ).alias("_id"),
                *aggs,
            )
            .orderBy("__b")
            .drop("__b", "__b0")
        )

    # approx: distributed quantile boundaries, no global sort.  The collect
    # is bounded at n+1 scalars (documented driver action).
    qs = [i / n for i in range(1, n)]
    probe = df.select(key.alias("__k")).agg(
        F.min("__k").alias("lo"),
        F.max("__k").alias("hi"),
        F.count(F.lit(1)).alias("cnt"),
        F.count("__k").alias("cntk"),
        (
            F.percentile_approx("__k", qs, 10_000) if qs else F.array()
        ).alias("qs"),
    )
    row = probe.collect()[0]
    if gran is not None and row["cnt"] > row["cntk"]:
        # mongod: granularity demands non-null numeric keys — the rounded
        # series has no bucket a null could land in
        raise ValueError(
            "$bucketAuto granularity requires non-null numeric groupBy values"
        )
    if row["lo"] is None:
        # no non-null keys: zero buckets on empty input; an ALL-NULL
        # keyspace is one all-null bucket (null keys route to bucket 0
        # below, observed min/max stay null)
        bounds = [0.0, 1.0]
        if row["cnt"] == 0:
            df = df.limit(0)
    else:
        bounds = [float(row["lo"]), *[float(q) for q in row["qs"]], float(row["hi"])]
    if gran is not None and row["lo"] is not None:
        bounds = [_granularity_round(bounds[0], gran, up=False)] + [
            _granularity_round(b, gran, up=True) for b in bounds[1:]
        ]
    uniq: list[float] = []
    for b in bounds:
        if not uniq or b > uniq[-1]:
            uniq.append(b)
    if len(uniq) == 1:  # single-valued key: one bucket [v, v]
        uniq.append(uniq[0])

    # __k keeps the key's own type (observed-min/max _id matches the exact
    # path's schema); __kd is the double view the float boundaries compare on
    tagged = df.withColumn("__k", key).withColumn("__kd", key.cast("double"))
    pairs = list(zip(uniq, uniq[1:]))
    bucket = None
    id_struct = None
    for i, (lo, hi) in enumerate(pairs):
        cond = (F.col("__kd") >= F.lit(lo)) & (
            (F.col("__kd") <= F.lit(hi))  # last bucket inclusive, like Mongo
            if i == len(pairs) - 1
            else (F.col("__kd") < F.lit(hi))
        )
        if i == 0:
            # null keys are BSON-lowest → first bucket (granularity mode
            # raised above, so this only fires for observed-min/max _id)
            cond = F.col("__kd").isNull() | cond
        sid = F.struct(F.lit(lo).alias("min"), F.lit(hi).alias("max"))
        bucket = F.when(cond, F.lit(i)) if bucket is None else bucket.when(cond, F.lit(i))
        id_struct = F.when(cond, sid) if id_struct is None else id_struct.when(cond, sid)
    tagged = tagged.withColumn("__b", bucket).withColumn("__gid", id_struct)
    ec2 = ExpressionCompiler(tagged)
    aggs = [_accumulator(ec2, name, acc) for name, acc in output.items()]
    id_col = (
        F.first("__gid").alias("_id")
        if gran is not None
        else F.struct(
            # BSON min: null when the bucket holds any null key
            F.when(F.count(F.lit(1)) > F.count("__k"), F.lit(None))
            .otherwise(F.min("__k"))
            .alias("min"),
            F.max("__k").alias("max"),
        ).alias("_id")
    )
    return (
        tagged.groupBy("__b")
        .agg(id_col, *aggs)
        .orderBy("__b")
        .drop("__b", "__kd")
    )


def _calendar_range_window(
    out: DataFrame,
    name: str,
    op: str,
    arg: Any,
    ec: "ExpressionCompiler",
    part_cols: list[Column],
    sort_by: dict[str, int],
    lo: Any,
    hi: Any,
    months_per: int,
) -> DataFrame:
    """Calendar-unit (month/quarter/year) ``range`` frames for
    ``$setWindowFields``.  ``Window.rangeBetween`` takes fixed numeric
    offsets only, but Spark SQL accepts calendar ``INTERVAL`` frame bounds
    over a timestamp ordering — ``RANGE BETWEEN INTERVAL n MONTH PRECEDING
    AND CURRENT ROW`` — with the same clamp-to-month-end arithmetic Mongo's
    ``$dateAdd`` uses for the bound (Jan 31 − 1 month = Dec 31; Mar 31 − 1
    month = Feb 28).  Compile through a SQL window expression over temp
    columns (the compiled partition key / argument land in ``__swf_pk`` /
    ``__swf_arg`` so arbitrary expressions ride along).  quarter/year
    normalize to months.  Still one shuffle on the partition key."""

    sk = next(iter(sort_by))

    def b(v: Any, is_lo: bool) -> str:
        if v == "unbounded":
            return "UNBOUNDED PRECEDING" if is_lo else "UNBOUNDED FOLLOWING"
        if v == "current":
            return "CURRENT ROW"
        n = int(v) * months_per
        if n == 0:
            return "CURRENT ROW"
        return f"INTERVAL {abs(n)} MONTH " + ("PRECEDING" if n < 0 else "FOLLOWING")

    sql_fn = {
        "$sum": "sum", "$avg": "avg", "$min": "min", "$max": "max",
        "$first": "first", "$last": "last",
        "$stdDevPop": "stddev_pop", "$stdDevSamp": "stddev_samp",
    }
    tmp = out.withColumn("__swf_sk", F.col(sk).cast("timestamp"))
    part_sql = ""
    if part_cols:
        tmp = tmp.withColumn("__swf_pk", part_cols[0])
        part_sql = "PARTITION BY __swf_pk "
    over = (
        f"OVER ({part_sql}ORDER BY __swf_sk ASC "
        f"RANGE BETWEEN {b(lo, True)} AND {b(hi, False)})"
    )
    if op == "$count" or (op == "$sum" and isinstance(arg, (int, float)) and arg == 1):
        expr = f"count(1) {over}"
    elif op == "$push":
        # null inputs survive (same struct-wrap as the rowsBetween path)
        tmp = tmp.withColumn("__swf_arg", F.struct(ec.compile(arg).alias("v")))
        expr = f"transform(collect_list(__swf_arg) {over}, s -> s.v)"
    elif op in sql_fn:
        tmp = tmp.withColumn("__swf_arg", ec.compile(arg))
        expr = f"{sql_fn[op]}(__swf_arg) {over}"
    else:
        raise ValueError(f"unsupported op for calendar-unit range window: {op}")
    return tmp.withColumn(name, F.expr(expr)).drop("__swf_sk", "__swf_pk", "__swf_arg")


def _apply_set_window_fields(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$setWindowFields: Mongo 5.0's window-function stage → Spark Window.

    ``{"partitionBy": expr?, "sortBy": {field: 1|-1, ...}?, "output":
    {name: {$op: arg, "window": {"documents": [lo, hi]}?}, ...}}``.

    Supported window ops: the frame-able accumulators ``$sum/$avg/$min/
    $max/$count/$push/$first/$last/$stdDevPop/$stdDevSamp``, the ranking
    ops ``$rank/$denseRank/$documentNumber`` (sortBy required, frame
    ignored per Mongo), and ``$shift`` (``{output, by, default}``).
    ``documents`` bounds accept integers and the strings ``"unbounded"`` /
    ``"current"``; Mongo's default window when none is given is the ENTIRE
    partition ``["unbounded", "unbounded"]`` — even with a sortBy.  Running
    totals require an explicit ``window: {documents: ["unbounded",
    "current"]}``, exactly as mongod does (this diverges from SQL's default
    frame, so the full frame is forced explicitly here).  ``"range"``
    frames (value-based offsets on a single numeric sortBy field) map to
    ``rangeBetween``; time-``unit`` ranges compile to ``rangeBetween`` over
    ``unix_micros(sortBy)`` with the unit scaled to microseconds.

    Pure Window API — one shuffle on the partition key, no self-joins.
    """
    _check_options("$setWindowFields", spec, {"partitionBy", "sortBy", "output"})
    ec = ExpressionCompiler(df)
    part_cols = [ec.compile(spec["partitionBy"])] if "partitionBy" in spec else []
    w = Window.partitionBy(*part_cols)
    sort_by = spec.get("sortBy")
    if sort_by:
        w = w.orderBy(
            *[F.col(k).asc() if v >= 0 else F.col(k).desc() for k, v in sort_by.items()]
        )

    def bound(v: Any, lo: bool, scale: int = 1) -> int:
        if v == "unbounded":
            return Window.unboundedPreceding if lo else Window.unboundedFollowing
        if v == "current":
            return Window.currentRow
        return int(v) * scale

    out = df
    ema_jobs: list[tuple[str, Any, float]] = []
    for name, wspec in spec["output"].items():
        wspec = dict(wspec)
        frame = wspec.pop("window", None)
        if frame is not None and "range" in frame:
            # value-based frame: bounds are offsets on the SORT KEY value —
            # Spark rangeBetween, which (like Mongo) requires exactly one
            # sort field.  A time `unit` orders by unix_micros(sortBy) with
            # the bounds scaled to microseconds.
            if not sort_by or len(sort_by) != 1:
                raise ValueError("range windows need exactly one sortBy field")
            if next(iter(sort_by.values())) < 0:
                # mongod validates this: a range window's sortBy must be
                # ascending (desc would also invert Spark's rangeBetween
                # bounds relative to Mongo's value offsets) — ADVICE r5
                raise ValueError(
                    "range windows require an ascending sortBy (Mongo "
                    "rejects descending sort on range/unit frames)"
                )
        op, arg = next(iter(wspec.items()))
        this_w = w
        if frame is not None and "range" in frame:
            lo, hi = frame["range"]
            unit = frame.get("unit")
            if unit is not None:
                # mongod validates this: a unit-range window's sortBy must
                # be a date (value offsets are time deltas)
                _require_temporal(out, next(iter(sort_by)),
                                  "$setWindowFields window.unit")
            if unit in _CAL_UNIT_MONTHS:
                out = _calendar_range_window(
                    out, name, op, arg, ec, part_cols, sort_by, lo, hi,
                    _CAL_UNIT_MONTHS[unit],
                )
                continue
            if unit is not None:
                if unit not in _UNIT_MICROS:
                    raise ValueError(
                        f"$setWindowFields range unit {unit!r} has no fixed "
                        "length; supported: "
                        + "/".join([*_UNIT_MICROS, *_CAL_UNIT_MONTHS])
                    )
                scale = _UNIT_MICROS[unit]
                sk, sdir = next(iter(sort_by.items()))
                key = F.unix_micros(F.col(sk).cast("timestamp"))
                this_w = Window.partitionBy(*part_cols).orderBy(
                    key.asc() if sdir >= 0 else key.desc()
                ).rangeBetween(bound(lo, True, scale), bound(hi, False, scale))
            else:
                this_w = w.rangeBetween(bound(lo, True), bound(hi, False))
        elif frame is not None:
            lo, hi = frame["documents"]
            this_w = w.rowsBetween(bound(lo, True), bound(hi, False))
        else:
            # Mongo's default window is the ENTIRE partition — even when a
            # sortBy is present (running totals need an explicit
            # ["unbounded","current"]).  SQL's default frame with an ORDER
            # BY is [unbounded, current], so the full frame must be forced.
            this_w = w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        if op in ("$rank", "$denseRank", "$documentNumber"):
            if not sort_by:
                raise ValueError(f"{op} requires sortBy")
            fn = {"$rank": F.rank, "$denseRank": F.dense_rank,
                  "$documentNumber": F.row_number}[op]
            out = out.withColumn(name, fn().over(w))
            continue
        if op == "$shift":
            if not sort_by:
                raise ValueError("$shift requires sortBy")
            by = int(arg.get("by", 1))
            dflt = arg.get("default")
            col = ec.compile(arg["output"])
            shifted = (
                F.lag(col, -by).over(w) if by < 0 else F.lead(col, by).over(w)
            )
            if dflt is not None:
                # Mongo substitutes `default` ONLY when the target position
                # falls outside the partition — a legitimately-null shifted
                # value stays null.  Gate on position, not on null-ness.
                pos = F.row_number().over(w) + F.lit(by)
                n_rows = F.count(F.lit(1)).over(
                    w.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                in_range = (pos >= F.lit(1)) & (pos <= n_rows)
                shifted = F.when(in_range, shifted).otherwise(F.lit(dflt))
            out = out.withColumn(name, shifted)
            continue
        if op == "$expMovingAvg":
            # inherently sequential recurrence (y = a*x + (1-a)*y_prev,
            # y_0 = x_0): runs linear-time per partition in a grouped
            # Arrow-batched pandas pass after the Window outputs compile
            # (the one documented stateful escape hatch; a Window-based
            # fold would be O(n^2) per row).  Mongo: requires sortBy,
            # rejects an explicit window.
            if frame is not None:
                raise ValueError("$expMovingAvg does not accept a window")
            if not sort_by:
                raise ValueError("$expMovingAvg requires sortBy")
            alpha = arg.get("alpha")
            if alpha is None:
                alpha = 2.0 / (int(arg["N"]) + 1)
            ema_jobs.append((name, arg["input"], float(alpha)))
            continue
        if op in ("$derivative", "$integral"):
            # Mongo 5.0 rate-of-change ops: both need an ascending sortBy;
            # a time `unit` (fixed-length only, like range frames) scales
            # the sort-key deltas and requires a date sortBy.
            if not sort_by:
                raise ValueError(f"{op} requires sortBy")
            sk, sdir = next(iter(sort_by.items()))
            if sdir < 0:
                raise ValueError(f"{op} requires an ascending sortBy")
            unit = arg.get("unit")
            if unit is not None:
                if unit not in _UNIT_MICROS:
                    raise ValueError(
                        f"{op} unit {unit!r} has no fixed length; supported: "
                        + "/".join(_UNIT_MICROS)
                    )
                _require_temporal(out, sk, f"$setWindowFields {op} unit")
                key = F.unix_micros(F.col(sk).cast("timestamp"))
                scale = float(_UNIT_MICROS[unit])
            else:
                key = F.col(sk)
                scale = 1.0
            val = ec.compile(arg["input"]).cast("double")
            if op == "$derivative":
                # (last - first) / (sort-key span in `unit`): a pure
                # IEEE division chain — engine-reproducible bit-for-bit
                # given identical operand order (detagg.py rationale)
                num = F.last(val).over(this_w) - F.first(val).over(this_w)
                den = F.last(key).over(this_w) - F.first(key).over(this_w)
                res = F.when(
                    den != 0, num / (den.cast("double") / F.lit(scale))
                )
                out = out.withColumn(name, res)
            else:
                # trapezoidal rule, evaluated as a PREFIX SUM instead of a
                # collect_list + per-row fold: each row's trapezoid term
                # references only its partition predecessor (one lag), and
                # window frames are contiguous runs, so
                #   integral(frame) = SUM(term) OVER frame − first-frame-
                #   row's term (whose predecessor lies OUTSIDE the frame).
                # Each term quantizes to the 1e-6 grid and accumulates
                # EXACTLY in a 38-digit decimal (order-independent,
                # engine-exact — the detagg treatment), one double
                # division at the end.  Null inputs poison the whole frame
                # to null (documented scope: $integral needs non-null
                # numerics) via an explicit bad-row count — SUM alone
                # would silently SKIP nulls and return a wrong partial
                # integral.  COST MODEL: O(1) per row (running/sliding
                # frame aggregation) — LINEAR per partition.  The previous
                # fold shape re-evaluated O(w) work per row, quadratic for
                # whole-partition frames: the r12 zipf(1.2) skew probe
                # measured a 206k-row hot user at >45× the uniform
                # layout's wall time before this rewrite (PLANS.md
                # §user-key-skew), while uniform keys never exposed it.
                # The sort key scales into `unit` BEFORE the term: Spark's
                # floor(double) returns a LONG, so quantized terms must
                # fit int64 — raw-microsecond deltas × values overflow it
                # silently (caught by the ds_window_integral oracle),
                # while unit-scaled terms stay small; the scaling division
                # is the same IEEE op on both engines.
                t = key.cast("double") / F.lit(scale)
                term = (t - F.lag(t).over(w)) * (val + F.lag(val).over(w)) / F.lit(2.0)
                q = F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
                # q is null at the partition head (no predecessor) — benign;
                # any OTHER null q inside the frame past its first row is a
                # genuine null input and must poison the result
                bad = (q.isNull() & (F.row_number().over(w) > F.lit(1))).cast("int")
                n_bad = F.sum(bad).over(this_w) - F.first(bad).over(this_w)
                zero = F.lit(0).cast("decimal(38,0)")
                s_excl = F.coalesce(F.sum(q).over(this_w), zero) - F.coalesce(
                    F.first(q).over(this_w), zero
                )
                res = F.when(n_bad > 0, F.lit(None).cast("double")).otherwise(
                    s_excl.cast("double") / F.lit(1e6)
                )
                out = out.withColumn(name, res)
            continue
        if op in ("$locf", "$linearFill"):
            # Mongo 5.3 gap-fill window operators (the $fill stage's two
            # methods surfaced as $setWindowFields outputs).  Both require
            # a sortBy and reject an explicit window, like $expMovingAvg.
            if frame is not None:
                raise ValueError(f"{op} does not accept a window")
            if not sort_by:
                raise ValueError(f"{op} requires sortBy")
            col = ec.compile(arg)
            wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            if op == "$locf":
                out = out.withColumn(
                    name, F.last(col, ignorenulls=True).over(wb)
                )
                continue
            # $linearFill: interpolate between the surrounding non-nulls,
            # positioned by the (single, ascending, numeric-or-date)
            # sortBy value; leading/trailing nulls stay null — the same
            # math as _apply_fill's linear method on the window's own key
            if len(sort_by) != 1:
                raise ValueError("$linearFill needs exactly one sortBy field")
            sk, sdir = next(iter(sort_by.items()))
            if sdir < 0:
                raise ValueError("$linearFill requires an ascending sortBy")
            ktype = ec.field_type(sk)
            if isinstance(ktype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
                k = F.unix_micros(F.col(sk).cast("timestamp")).cast("double")
            else:
                k = F.col(sk).cast("double")
            wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
            prev_v = F.last(col, ignorenulls=True).over(wb)
            next_v = F.first(col, ignorenulls=True).over(wf)
            prev_k = F.last(F.when(col.isNotNull(), k), ignorenulls=True).over(wb)
            next_k = F.first(F.when(col.isNotNull(), k), ignorenulls=True).over(wf)
            interp = F.when(next_k == prev_k, prev_v).otherwise(
                prev_v + (next_v - prev_v) * (k - prev_k) / (next_k - prev_k)
            )
            out = out.withColumn(
                name,
                F.when(col.isNotNull(), col).otherwise(
                    F.when(
                        prev_v.isNull() | next_v.isNull(), F.lit(None)
                    ).otherwise(interp)
                ),
            )
            continue
        agg = {
            "$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max,
            "$first": F.first, "$last": F.last,
            "$stdDevPop": F.stddev_pop, "$stdDevSamp": F.stddev_samp,
        }
        if op == "$count":
            out = out.withColumn(name, F.count(F.lit(1)).over(this_w))
        elif op == "$sum" and isinstance(arg, (int, float)) and arg == 1:
            out = out.withColumn(name, F.count(F.lit(1)).over(this_w))
        elif op == "$push":
            # null inputs survive (same struct-wrap as the $group $push)
            arr = F.collect_list(
                F.struct(ec.compile(arg).alias("v"))
            ).over(this_w)
            out = out.withColumn(name, F.transform(arr, lambda s: s["v"]))
        elif op == "$addToSet":
            # null inputs survive (Mongo), same struct-wrap as $push
            arr = F.collect_set(
                F.struct(ec.compile(arg).alias("v"))
            ).over(this_w)
            out = out.withColumn(name, F.transform(arr, lambda s: s["v"]))
        elif op in ("$minN", "$maxN"):
            # N smallest asc / N largest desc within the frame (nulls
            # skipped — bare collect_list drops them), like the $group form
            n = int(arg["n"])
            vcol = ec.compile(arg["input"])
            if frame is None:
                # whole-partition: collect over a window ORDERED by the value
                # itself — materialized once per partition, already sorted
                # (the $top* treatment; per-row sort_array over the default
                # frame would be O(w log w) per row)
                w2 = (
                    Window.partitionBy(*part_cols)
                    .orderBy(vcol.asc() if op == "$minN" else vcol.desc())
                    .rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                vals = F.collect_list(vcol).over(w2)
            else:
                vals = F.sort_array(
                    F.collect_list(vcol).over(this_w), asc=op == "$minN"
                )
            out = out.withColumn(name, F.slice(vals, 1, n))
        elif op in ("$firstN", "$lastN"):
            # frame order with nulls KEPT (Mongo's documented asymmetry vs
            # $minN/$maxN), same struct-wrap as the $group accumulators
            n = int(arg["n"])
            arr = F.collect_list(
                F.struct(ec.compile(arg["input"]).alias("v"))
            ).over(this_w)
            if op == "$firstN":
                sliced = F.slice(arr, 1, n)
            else:
                sliced = F.when(F.size(arr) <= n, arr).otherwise(
                    F.slice(arr, -n, n)
                )
            out = out.withColumn(name, F.transform(sliced, lambda s: s["v"]))
        elif op == "$sum":
            # Mongo: $sum over a window with no numeric values is 0, never
            # null (same rule as the $group accumulator)
            out = out.withColumn(
                name, F.coalesce(F.sum(ec.compile(arg)).over(this_w), F.lit(0))
            )
        elif op in ("$top", "$topN", "$bottom", "$bottomN"):
            # window forms of the ranked-representative accumulators
            pick_sort = arg["sortBy"]
            n = 1 if op in ("$top", "$bottom") else int(arg["n"])
            bottom = op in ("$bottom", "$bottomN")
            if frame is None:
                # whole-partition pick (Mongo's default frame): collect over
                # a SECOND window ordered by the pick keys — an unbounded
                # ordered frame materializes its collect_list ONCE per
                # partition, already in pick order, so the per-row work is a
                # constant slice.  Re-sorting the collected array per row
                # (the explicit-frame path below) is O(w log w) PER ROW —
                # O(n^2 log n) per partition, and with the mixed-direction
                # comparator the sort is interpreted, not codegen'd
                # (measured: 145s for 5 x 3000-row partitions at sf0.01).
                # Spark's asc/desc null placement (nulls first asc, last
                # desc) coincides with BSON order on typed columns, and the
                # output value rides as the ascending tiebreak, matching
                # _ranked_pick.
                order_cols = []
                for k, d in pick_sort.items():
                    if d not in (1, -1):
                        raise ValueError(
                            f"{op} sortBy directions must be 1/-1: {pick_sort}"
                        )
                    kc = ec.compile(f"${k}")
                    eff = -d if bottom else d
                    order_cols.append(kc.asc() if eff >= 0 else kc.desc())
                vcol = ec.compile(arg["output"])
                order_cols.append(vcol.asc())
                w2 = (
                    Window.partitionBy(*part_cols)
                    .orderBy(*order_cols)
                    .rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                # struct-wrap keeps null outputs (bare collect_list drops them)
                arr = F.collect_list(F.struct(vcol.alias("__v"))).over(w2)
                ranked = F.slice(arr, 1, n)
                if bottom:
                    ranked = F.reverse(ranked)  # Mongo: bottom in sort order
                picked = F.transform(ranked, lambda s: s["__v"])
            else:
                # explicit frame (e.g. running top-k): frame membership is
                # defined by the stage sortBy, so the pick re-sorts the
                # collected frame per row — O(frame log frame) per row;
                # partition so frames stay bounded (the $integral cost rule)
                keyed = F.struct(
                    *[
                        ec.compile(f"${k}").alias(f"__k{i}")
                        for i, k in enumerate(pick_sort)
                    ],
                    ec.compile(arg["output"]).alias("__v"),
                )
                ranked = _ranked_pick(
                    F.collect_list(keyed).over(this_w), pick_sort, op, n
                )
                picked = F.transform(ranked, lambda s: s["__v"])
            if op in ("$top", "$bottom"):
                # try_element_at: an EMPTY explicit frame yields null, not an
                # ANSI error (Mongo returns null for empty-window $top)
                picked = F.try_element_at(picked, F.lit(1))
            out = out.withColumn(name, picked)
        elif op in ("$median", "$percentile"):
            # exact R-7 quantiles over the frame (same documented divergence
            # from mongod's t-digest as the $group forms).  COST MODEL:
            # percentile is not an incremental aggregate, so a RUNNING frame
            # (["unbounded","current"]) re-evaluates it per row over the
            # grown buffer — O(n^2 log n) per partition (measured: 30k-row
            # partitions took minutes).  Partition so running frames stay
            # bounded (per-entity series), or use the default whole-partition
            # frame, which evaluates once per partition.
            col = ec.compile(arg["input"]).cast("double")
            if op == "$median":
                out = out.withColumn(
                    name, F.percentile(col, F.lit(0.5)).over(this_w)
                )
            else:
                out = out.withColumn(
                    name,
                    F.percentile(
                        col, F.array(*[F.lit(float(p)) for p in arg["p"]])
                    ).over(this_w),
                )
        elif op in ("$covariancePop", "$covarianceSamp"):
            fn = F.covar_pop if op == "$covariancePop" else F.covar_samp
            cx, cy = arg
            out = out.withColumn(
                name,
                fn(
                    ec.compile(cx).cast("double"), ec.compile(cy).cast("double")
                ).over(this_w),
            )
        elif op in agg:
            out = out.withColumn(name, agg[op](ec.compile(arg)).over(this_w))
        else:
            raise ValueError(f"unsupported $setWindowFields op: {op}")
    if ema_jobs:
        out = _apply_exp_moving_avg(out, ec, spec, ema_jobs)
    return out


def _apply_exp_moving_avg(
    df: DataFrame,
    ec: "ExpressionCompiler",
    spec: dict[str, Any],
    jobs: list[tuple[str, Any, float]],
) -> DataFrame:
    """$expMovingAvg tail pass: group by the partition key, sort by the
    FULL compound sortBy inside each Arrow batch (every key, each with its
    own direction and BSON null placement — asc nulls-first / desc
    nulls-last, matching the Window-compiled ops in the same stage), and run
    pandas' ``ewm(alpha, adjust=False)`` — exactly Mongo's recurrence
    (verified bit-identical to the manual fold and to DuckDB's
    ``list_reduce``).  One grouped-pandas exchange on the same key as the
    Window pass; null inputs follow pandas NaN-skip semantics (scope:
    feed non-null numerics, like $integral)."""
    from pyspark.sql import types as T

    pk, bk = "__ema_pk", "__ema_bk"
    work = df.withColumn(
        pk, ec.compile(spec["partitionBy"]) if "partitionBy" in spec else F.lit(0)
    )
    # Materialize every sortBy key plus a per-key null indicator: pandas'
    # sort_values has only a GLOBAL na_position, so BSON's per-direction
    # null placement rides on the indicator (asc → nulls first = indicator
    # descending, True before False; desc → nulls last = indicator
    # ascending).  mergesort keeps ties stable across keys.
    sk_cols: list[str] = []
    sort_by, sort_asc = [pk], [True]
    for i, (k, d) in enumerate(spec["sortBy"].items()):
        kc, nc = f"__ema_sk{i}", f"__ema_skn{i}"
        work = work.withColumn(kc, F.col(k)).withColumn(nc, F.col(k).isNull())
        sk_cols += [kc, nc]
        sort_by += [nc, kc]
        sort_asc += [d < 0, d >= 0]
    # Spark-side grouping is by a HASH BUCKET of the partition key, not the
    # key itself: many tiny Mongo partitions → few large Arrow batches
    # (per-group applyInPandas overhead dominates at thousands of small
    # series; measured 5.6s → 2.4s on 1500 users at sf0.1), with the
    # per-key recurrence computed by pandas' grouped ewm inside the batch
    work = work.withColumn(bk, F.pmod(F.xxhash64(F.col(pk)), F.lit(64)))
    in_cols = []
    for name, input_expr, _ in jobs:
        work = work.withColumn(f"__ema_in_{name}", ec.compile(input_expr).cast("double"))
        in_cols.append(f"__ema_in_{name}")
    out_schema = T.StructType(
        list(work.schema.fields)
        + [T.StructField(name, T.DoubleType(), True) for name, _, _ in jobs]
    )
    alphas = {name: a for name, _, a in jobs}

    def ema_fn(pdf):
        pdf = pdf.sort_values(sort_by, kind="mergesort", ascending=sort_asc)
        for name, a in alphas.items():
            pdf[name] = (
                pdf.groupby(pk, sort=False, dropna=False)[f"__ema_in_{name}"]
                .ewm(alpha=a, adjust=False)
                .mean()
                .reset_index(level=0, drop=True)
            )
        return pdf

    out = work.groupBy(bk).applyInPandas(ema_fn, schema=out_schema)
    return out.drop(pk, bk, *sk_cols, *in_cols)


class _MergeCompiler(ExpressionCompiler):
    """Compiles ``$merge`` update/insert-pipeline expressions: bare
    ``$field`` paths read the row on join side ``alias`` (``t`` = target for
    the whenMatched pipeline, ``s`` = source for the whenNotMatched insert
    pipeline), seeing any overrides from earlier pipeline stages (Mongo
    stages run sequentially), while ``$$var`` references resolve through the
    ``let`` bindings to SOURCE-side columns."""

    def __init__(self, base_df: DataFrame, env: dict[str, Column], alias: str = "t"):
        super().__init__(base_df)
        self._env.update(env)
        self._alias = alias
        self._overrides: dict[str, Column] = {}

    def compile_with(self, overrides: dict[str, Column], e: Any) -> Column:
        self._overrides = overrides
        return self.compile(e)

    def compile(self, e: Any) -> Column:
        if isinstance(e, str) and e.startswith("$") and not e.startswith("$$"):
            head, _, rest = e[1:].partition(".")
            out = self._overrides.get(head, F.col(f"{self._alias}.{head}"))
            for part in rest.split(".") if rest else []:
                out = out.getField(part)
            return out
        return super().compile(e)


def _merge_let_env(df: DataFrame, spec: dict[str, Any]) -> dict[str, Column]:
    """``let`` bindings for a $merge pipeline: ``$$ROOT`` and bare ``$field``
    values read the SOURCE document (Mongo scoping; default
    ``{"new": "$$ROOT"}``)."""
    src_root = F.struct(*[F.col(f"s.{c}").alias(c) for c in df.columns])
    let = spec.get("let") or {"new": "$$ROOT"}
    env: dict[str, Column] = {}
    for var, v in let.items():
        if v == "$$ROOT":
            env[var] = src_root
        elif isinstance(v, str) and v.startswith("$") and not v.startswith("$$"):
            env[var] = F.col(f"s.{v[1:]}")  # let exprs see the SOURCE doc
        else:
            env[var] = F.lit(v)
    return env


def _compile_merge_pipeline(
    stages: list, mc: _MergeCompiler, label: str
) -> dict[str, Column]:
    """Compile a $merge ``$set``/``$addFields``/``$unset`` pipeline into
    ``{field: Column}`` overrides, snapshotting at each stage boundary so
    every expression in a stage reads the STAGE'S INPUT document (Mongo
    semantics; ADVICE r5)."""
    overrides: dict[str, Column] = {}
    for stage in stages:
        if not isinstance(stage, dict) or len(stage) != 1:
            raise ValueError(f"$merge {label} pipeline stage: {stage}")
        sop, sargs = next(iter(stage.items()))
        if sop in ("$set", "$addFields"):
            snapshot = dict(overrides)
            staged = {
                fname: mc.compile_with(snapshot, fexpr)
                for fname, fexpr in sargs.items()
            }
            overrides.update(staged)
        elif sop == "$unset":
            for fname in [sargs] if isinstance(sargs, str) else sargs:
                overrides[fname] = F.lit(None)
        else:
            raise ValueError(
                f"$merge {label} pipeline supports $set/$addFields/"
                f"$unset, got {sop}"
            )
    return overrides


def _merge_materialize_mode(spark) -> str:
    """How ``$merge`` materializes its result before overwriting the target,
    by the durability available.  r15 (guide §6) replaced the staged-sibling
    rewrite (a SECOND full parquet write + read of the whole table) with an
    eager checkpoint; r16 (ADVICE r15) made the choice DURABILITY-AWARE,
    because between checkpoint and overwrite the checkpoint blocks are the
    ONLY copy of the merged table while mode('overwrite') truncates the
    target:

    - a configured checkpoint dir → ``"reliable"`` ``checkpoint()``
      (DFS-backed blocks survive executor loss — the cluster-safe fast
      path);
    - ``local[*]`` master → ``"local"`` ``localCheckpoint()``
      (executor-local blocks; driver==executor here, so a "lost executor"
      is a lost job anyway);
    - otherwise (a real cluster without a checkpoint dir) → ``"staged"``,
      the sibling write: slower (one extra full write+read) but the
      sibling parquet is durable, so a failed overwrite cannot destroy the
      only copy.
    """
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        return "reliable"
    if sc.master.startswith("local"):
        return "local"
    return "staged"


def _apply_merge(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$merge: upsert the pipeline result into an existing parquet table —
    Mongo's incremental-materialization stage (the engine's collections are
    parquet tables, SURVEY S17/S18).

    ``{"into": path, "on": key | [keys], "whenMatched":
    "replace"|"keepExisting"|"merge"|"fail"|[pipeline], "whenNotMatched":
    "insert"|"discard"|"fail", "let": {var: expr}?}``.  Target rows never
    matched by the pipeline are always kept (Mongo contract).  ``merge`` is
    field-wise: a non-null pipeline value overwrites, a null keeps the
    target's — the typed-column analogue of Mongo's present-field
    overwrite.

    ``whenMatched`` may also be an UPDATE PIPELINE (Mongo 4.2): a list of
    ``$set``/``$addFields``/``$unset`` stages evaluated per matched row,
    where bare ``$field`` paths read the TARGET document and ``$$var``
    references resolve through ``let`` (default ``{"new": "$$ROOT"}`` — the
    source document), exactly Mongo's scoping.  The pipeline compiles to
    per-column CASE expressions on the matched side of the same full-outer
    join — still one shuffle, no per-document execution.

    ``whenNotMatched`` may likewise be an INSERT PIPELINE: the same
    ``$set``/``$addFields``/``$unset`` stage algebra evaluated per unmatched
    source row, where bare ``$field`` paths read the SOURCE document (no
    target row exists) and ``$$var`` bindings are shared with the matched
    side; the result is the inserted document.  Setting an ``on`` key
    raises (the key comes from the join and cannot be modified).  Compiles
    to CASE expressions on the source-only side of the same join.

    One full-outer join on the key, then an eager ``localCheckpoint`` and
    a single overwrite of the target (parquet cannot be read and
    overwritten in one job; the checkpoint truncates the lineage off the
    target, which replaced the pre-r15 staged-sibling rewrite that wrote
    and re-read the whole table twice).  Like ``$out`` this is the
    action-bearing stage by definition; everything before it stays one
    lazy plan.
    """
    _check_options(
        "$merge", spec, {"into", "on", "whenMatched", "whenNotMatched", "let"}
    )
    into = str(spec["into"])
    on = spec.get("on", "_id")
    keys = [on] if isinstance(on, str) else list(on)
    when_matched = spec.get("whenMatched", "merge")
    when_not_matched = spec.get("whenNotMatched", "insert")
    spark = df.sparkSession
    target = spark.read.parquet(into)

    # Mongo requires `on` to identify a UNIQUE source document — multiple
    # pipeline docs sharing a key abort the write ("found multiple source
    # documents with the same on-field").  A window count on the (small,
    # pipeline-result) source enforces it.  The guard wraps the FIRST JOIN
    # KEY — a marker column would be simplified away (Catalyst statically
    # null-propagates `isNotNull(CASE … raise_error …)` since raise_error
    # is NullType), but the join key must always evaluate.
    dup = F.count(F.lit(1)).over(Window.partitionBy(*[F.col(k) for k in keys]))
    src = df.withColumn(
        keys[0],
        F.when(
            dup > 1,
            F.raise_error(
                F.lit("$merge: multiple source documents share an 'on' key")
            ),
        ).otherwise(F.col(keys[0])),
    ).withColumn("__src", F.lit(True))
    tgt = target.withColumn("__tgt", F.lit(True))
    # Null-safe key equality (r10, found by the $merge fuzz tier): a null
    # 'on' value is a VALUE under BSON total equality — a null-key source
    # doc must match the null-key target row, not insert a duplicate next
    # to it (the name-list join form compiles to EqualTo, which silently
    # did exactly that; same class as the r9 $lookup null-key fix).
    key_cond = F.lit(True)
    for k in keys:
        key_cond = key_cond & F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
    joined = tgt.alias("t").join(src.alias("s"), key_cond, "full_outer")
    matched = F.col("t.__tgt").isNotNull() & F.col("s.__src").isNotNull()
    src_only = F.col("t.__tgt").isNull()

    # whenMatched update-pipeline form: compile $set/$addFields/$unset
    # stages into {field: Column} overrides for matched rows
    pipe_overrides: dict[str, Column] | None = None
    if isinstance(when_matched, list):
        pipe_overrides = _compile_merge_pipeline(
            when_matched,
            _MergeCompiler(target, _merge_let_env(df, spec), alias="t"),
            "whenMatched",
        )

    # whenNotMatched insert-pipeline form: same stage algebra on the
    # UNMATCHED side — bare $field paths read the SOURCE document (there is
    # no target row to read), $$vars resolve through the same let bindings,
    # and the result is the inserted document.  The 'on' key itself comes
    # from the join key and cannot be modified (Mongo contract).
    ins_overrides: dict[str, Column] | None = None
    if isinstance(when_not_matched, list):
        ins_overrides = _compile_merge_pipeline(
            when_not_matched,
            _MergeCompiler(df, _merge_let_env(df, spec), alias="s"),
            "whenNotMatched",
        )
        bad_keys = sorted(set(ins_overrides) & set(keys))
        if bad_keys:
            raise ValueError(
                f"$merge whenNotMatched pipeline cannot modify the 'on' "
                f"key(s): {bad_keys}"
            )

    # with an explicit (null-safe) join condition there is no merged USING
    # column: the output key is whichever side has the row (equal when both)
    def key_val(k: str) -> Column:
        return F.when(F.col("t.__tgt").isNotNull(), F.col(f"t.{k}")).otherwise(
            F.col(f"s.{k}")
        )

    out_cols: list[Column] = [key_val(k).alias(k) for k in keys]
    fail_conds = []
    if when_matched == "fail":
        fail_conds.append(("whenMatched", matched))
    if when_not_matched == "fail":
        fail_conds.append(("whenNotMatched", src_only))
    if fail_conds:
        # Mongo fails the whole write on the first offending document;
        # raise_error fires per offending row at execution time.  The guard
        # wraps the FIRST key column (a column that must survive into the
        # written output — a free-standing guard column would be pruned and
        # never fire).  Both fail modes guard when both are requested.
        cond = fail_conds[0][1]
        for _, extra in fail_conds[1:]:
            cond = cond | extra
        which = "/".join(w for w, _ in fail_conds)
        out_cols[0] = (
            F.when(cond, F.raise_error(F.lit(f"$merge: {which}=fail hit")))
            .otherwise(key_val(keys[0]))
            .alias(keys[0])
        )
    value_cols = [c for c in target.columns if c not in keys]
    pipe_new = (
        [c for c in pipe_overrides if c not in target.columns and c not in keys]
        if pipe_overrides is not None
        else []
    )
    ins_new = (
        [c for c in ins_overrides if c not in target.columns and c not in keys]
        if ins_overrides is not None
        else []
    )
    extra_src = [c for c in df.columns if c not in target.columns]
    extra_src += [c for c in pipe_new if c not in df.columns and c not in extra_src]
    extra_src += [c for c in ins_new if c not in df.columns and c not in extra_src]

    def ins_val(c: str, s_c: Column) -> Column:
        """Value written for an UNMATCHED source row: the insert-pipeline
        override when one exists, the source column otherwise."""
        if ins_overrides is not None:
            return ins_overrides.get(c, s_c)
        return s_c

    for c in value_cols:
        t_c, s_c = F.col(f"t.{c}"), (F.col(f"s.{c}") if c in df.columns else F.lit(None))
        i_c = ins_val(c, s_c)
        if pipe_overrides is not None:
            upd = pipe_overrides.get(c, t_c)
            val = F.when(src_only, i_c).otherwise(F.when(matched, upd).otherwise(t_c))
        elif when_matched == "replace":
            val = F.when(src_only, i_c).otherwise(F.when(matched, s_c).otherwise(t_c))
        elif when_matched == "keepExisting":
            val = F.when(src_only, i_c).otherwise(t_c)
        elif when_matched == "merge":
            val = F.when(src_only, i_c).otherwise(F.coalesce(s_c, t_c))
        elif when_matched == "fail":
            val = F.when(src_only, i_c).otherwise(t_c)
        else:
            raise ValueError(f"unsupported whenMatched: {when_matched!r}")
        out_cols.append(val.alias(c))
    for c in extra_src:
        s_c = F.col(f"s.{c}") if c in df.columns else F.lit(None)
        i_c = ins_val(c, s_c)
        if c in pipe_new:
            # field introduced by the update pipeline: set on matched rows,
            # insert-pipeline value (or source value, usually absent → null)
            # on inserts
            val = F.when(matched, pipe_overrides[c]).otherwise(
                F.when(src_only, i_c)
            )
        elif when_matched in ("keepExisting", "fail") or pipe_overrides is not None:
            # keepExisting/fail leave the matched document ENTIRELY
            # unchanged — a matched row must not absorb source-only fields
            # (pipeline form likewise only changes what $set names)
            val = F.when(src_only, i_c)
        else:
            val = F.when(src_only, i_c).otherwise(s_c)
        out_cols.append(val.alias(c))
    result = joined.select(*out_cols)
    if when_not_matched == "discard":
        result = joined.filter(~src_only).select(*out_cols)
    elif not isinstance(when_not_matched, list) and when_not_matched not in (
        "insert",
        "fail",
    ):
        raise ValueError(f"unsupported whenNotMatched: {when_not_matched!r}")
    # The merged result reads `into`, so it cannot overwrite `into` in one
    # job: it is materialized first (see _merge_materialize_mode).  Any
    # raise_error guard above fires during the materialization job, before
    # the target is touched, in every mode.
    mode = _merge_materialize_mode(spark)
    if mode == "staged":
        staged_path = into.rstrip("/") + "__merge_tmp"
        result.write.mode("overwrite").parquet(staged_path)
        spark.read.parquet(staged_path).write.mode("overwrite").parquet(into)
        import shutil

        shutil.rmtree(staged_path, ignore_errors=True)  # best-effort cleanup
    else:
        if mode == "reliable":
            materialized = result.checkpoint(eager=True)
        else:
            materialized = result.localCheckpoint(eager=True)
        try:
            materialized.write.mode("overwrite").parquet(into)
        finally:
            materialized.unpersist()
    return spark.read.parquet(into)


def _apply_facet(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$facet: run each named sub-pipeline over the SAME input and return a
    single document with one array-of-documents field per facet.

    Each facet compiles to its own lazy sub-plan collapsed to one row via
    ``collect_list(struct(*))``; the single-row facets combine with cross
    joins (1×1 — no data movement beyond each facet's own plan)."""
    out = None
    for name, sub in spec.items():
        fdf = aggregate(df, sub)
        one = fdf.agg(
            F.collect_list(F.struct(*[F.col(c) for c in fdf.columns])).alias(name)
        )
        out = one if out is None else out.crossJoin(one)
    if out is None:
        raise ValueError("$facet requires at least one facet")
    return out


def _apply_densify(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$densify (practical subset): add missing documents so ``field`` steps
    by ``range.step`` from each partition's min to max (``bounds: "full"``
    spans the GLOBAL min..max for every partition; an explicit ``bounds:
    [lower, upper)`` array spans the given literals with the upper bound
    EXCLUSIVE, per Mongo — out-of-range observed docs still pass through).
    Added docs carry the
    partition fields + the densified field; all other columns are null —
    exactly Mongo's contract, and exactly the spine half of
    ``operators/events.gap_fill_locf``.

    One aggregation for the extents, a ``sequence`` explode for the spine
    (per partition — never a global-calendar cross join), and a left
    anti-join-free union: observed rows pass through untouched, spine rows
    that collide with an observed (partition, field) drop via left-anti.

    ``range.unit`` (Mongo date densification): the field is a timestamp and
    the spine steps by ``step × unit`` from each partition's min.
    Fixed-length units compute over ``unix_micros`` and convert back, so
    the spine is exact integer arithmetic.  Calendar units (month/quarter/
    year) step with ``sequence(min, max, interval n month)`` — Spark
    computes element *k* as ``min + k·n months`` with day-of-month clamping
    (Jan 31 + 1 month = Feb 28), the same ``$dateAdd`` arithmetic Mongo
    uses; note Mongo increments iteratively from the previous value, which
    only diverges when the lower bound's day-of-month exceeds 28 (clamping
    then sticks in Mongo but not here) — densify month-truncated values to
    avoid the edge entirely.
    """
    field = spec["field"]
    if "." in field:
        # the spine CONSTRUCTS new docs carrying `field`, which needs a
        # top-level column (same restriction as $unwind)
        raise ValueError("$densify of a nested path: project the field first")
    _check_options("$densify", spec, {"field", "range", "partitionByFields"})
    rng = spec["range"]
    # Mongo's documented shape puts partitionByFields at the TOP level as a
    # sibling of field/range; the range-level placement is kept as a legacy
    # alias (earlier revisions only read it there).  Specifying both is
    # ambiguous and rejected.
    _check_options(
        "$densify range", rng, {"step", "unit", "bounds", "partitionByFields"}
    )
    step = int(rng["step"])
    unit = rng.get("unit")
    if "partitionByFields" in spec and "partitionByFields" in rng:
        raise ValueError(
            "$densify: partitionByFields given both at top level and inside "
            "range; use the top-level (Mongo) placement only"
        )
    parts = spec.get("partitionByFields", rng.get("partitionByFields", []))
    bounds = rng.get("bounds", "partition")
    cal_months = None
    if unit is not None:
        _require_temporal(df, field, "$densify range.unit")
    if unit in _CAL_UNIT_MONTHS:
        cal_months = step * _CAL_UNIT_MONTHS[unit]
        fcol = F.col(field).cast("timestamp")
    elif unit is not None:
        if unit not in _UNIT_MICROS:
            raise ValueError(
                f"$densify unit {unit!r} unsupported; supported: "
                + "/".join([*_UNIT_MICROS, *_CAL_UNIT_MONTHS])
            )
        fcol = F.unix_micros(F.col(field).cast("timestamp"))
        step = step * _UNIT_MICROS[unit]
    else:
        fcol = F.col(field)
    if bounds == "full":
        ext = df.agg(F.min(fcol).alias("__mn"), F.max(fcol).alias("__mx"))
        pkeys = df.select(*parts).distinct() if parts else None
        ext = pkeys.crossJoin(F.broadcast(ext)) if pkeys is not None else ext
    elif bounds == "partition":
        if not parts:
            raise ValueError('$densify bounds "partition" needs partitionByFields')
        ext = df.groupBy(*parts).agg(F.min(fcol).alias("__mn"), F.max(fcol).alias("__mx"))
    elif isinstance(bounds, (list, tuple)) and len(bounds) == 2:
        # explicit [lower, upper) — Mongo's array form: the spine spans the
        # given range with the UPPER BOUND EXCLUSIVE; observed documents
        # outside the range still pass through untouched.  Bounds are
        # literals (numbers, or datetime/ISO strings under a unit), so the
        # extent table is one constant row (per partition key when
        # partitioned).
        lo_raw, hi_raw = bounds
        if cal_months is not None:
            mn = F.lit(lo_raw).cast("timestamp")
            mx = F.lit(hi_raw).cast("timestamp")
        elif unit is not None:
            mn = F.unix_micros(F.lit(lo_raw).cast("timestamp"))
            mx = F.unix_micros(F.lit(hi_raw).cast("timestamp"))
        else:
            mn, mx = F.lit(lo_raw), F.lit(hi_raw)
        # seed the constant extent row from range(1), NOT df.limit(1):
        # mongod generates the full [lower, upper) spine even when the
        # collection is empty, so the extent must not depend on input rows
        one = df.sparkSession.range(1).select(mn.alias("__mn"), mx.alias("__mx"))
        pkeys = df.select(*parts).distinct() if parts else None
        ext = pkeys.crossJoin(F.broadcast(one)) if pkeys is not None else one
        hi_exclusive = mx
    else:
        raise ValueError(f'unsupported $densify bounds: {bounds!r}')
    if not isinstance(bounds, (list, tuple)):
        hi_exclusive = None
    if cal_months is not None:
        # the generator must explode BEFORE the cast expression wraps it
        spine = ext.select(
            *parts,
            F.explode(
                F.expr(f"sequence(__mn, __mx, interval {cal_months} month)")
            ).alias(field),
        ).select(
            *parts, F.col(field).cast(df.schema[field].dataType).alias(field)
        )
        if hi_exclusive is not None:
            spine = spine.filter(
                F.col(field) < F.lit(hi_raw).cast(df.schema[field].dataType)
            )
        missing = spine.join(df.select(*parts, field), [*parts, field], "left_anti")
        for c in df.columns:
            if c != field and c not in parts:
                missing = missing.withColumn(c, F.lit(None).cast(df.schema[c].dataType))
        return df.unionByName(missing.select(*df.columns))
    spine = ext.select(
        *parts, F.explode(F.sequence("__mn", "__mx", F.lit(step))).alias(field)
    )
    if unit is not None:
        # back to the field's own type (timestamp / timestamp_ntz); the
        # generator must explode BEFORE the conversion expression wraps it
        spine = spine.select(
            *parts,
            F.timestamp_micros(F.col(field))
            .cast(df.schema[field].dataType)
            .alias(field),
        )
    if hi_exclusive is not None:
        spine = spine.filter(
            F.col(field) < F.lit(hi_raw).cast(df.schema[field].dataType)
        )
    missing = spine.join(df.select(*parts, field), [*parts, field], "left_anti")
    for c in df.columns:
        if c != field and c not in parts:
            missing = missing.withColumn(c, F.lit(None).cast(df.schema[c].dataType))
    return df.unionByName(missing.select(*df.columns))


def _apply_fill(df: DataFrame, spec: dict[str, Any]) -> DataFrame:
    """$fill (Mongo 5.3): fill null fields per ``output`` method — ``locf``
    (last observation carried forward in ``sortBy`` order within
    ``partitionBy``), ``linear`` (interpolation between the surrounding
    non-nulls, positioned by the single numeric sortBy value; leading/
    trailing nulls stay null, per Mongo), or a constant ``value``.  The
    locf window mirrors ``operators/events.gap_fill_locf``'s fill pass;
    linear adds one backward + one forward running frame over the same
    partition shuffle — still a single exchange."""
    _check_options("$fill", spec, {"partitionBy", "sortBy", "output"})
    parts = spec.get("partitionBy", [])
    if isinstance(parts, str):
        parts = [parts.lstrip("$")]
    sort_spec = spec.get("sortBy", {})
    order = [
        (F.col(k).asc() if d >= 0 else F.col(k).desc()) for k, d in sort_spec.items()
    ]

    def _w():
        return (
            Window.partitionBy(*[F.col(p) for p in parts]).orderBy(*order)
            if parts
            else Window.orderBy(*order)
        )

    out = df
    for name, how in spec["output"].items():
        if not isinstance(how, dict):
            raise ValueError(
                f"$fill output.{name}: spec must be a document with 'value' "
                f"or 'method', got {how!r}"
            )
        _check_options(f"$fill output.{name}", how, {"value", "method"})
        if "value" in how and "method" in how:
            raise ValueError(
                f"$fill output.{name}: 'value' and 'method' are exclusive"
            )
        if "value" in how:
            # Mongo's value form takes an EXPRESSION (constants included)
            out = out.withColumn(
                name,
                F.coalesce(F.col(name), ExpressionCompiler(out).compile(how["value"])),
            )
        elif how.get("method") == "locf":
            if not order:
                raise ValueError("$fill method locf requires sortBy")
            w = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
            out = out.withColumn(name, F.last(name, ignorenulls=True).over(w))
        elif how.get("method") == "linear":
            if len(sort_spec) != 1:
                raise ValueError("$fill linear needs exactly one sortBy field")
            k_name, k_dir = next(iter(sort_spec.items()))
            if k_dir < 0:
                raise ValueError("$fill linear requires an ascending sortBy")
            col = F.col(name)
            k = F.col(k_name).cast("double")
            wb = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
            wf = _w().rowsBetween(Window.currentRow, Window.unboundedFollowing)
            prev_v = F.last(col, ignorenulls=True).over(wb)
            next_v = F.first(col, ignorenulls=True).over(wf)
            prev_k = F.last(F.when(col.isNotNull(), k), ignorenulls=True).over(wb)
            next_k = F.first(F.when(col.isNotNull(), k), ignorenulls=True).over(wf)
            interp = F.when(next_k == prev_k, prev_v).otherwise(
                prev_v + (next_v - prev_v) * (k - prev_k) / (next_k - prev_k)
            )
            out = out.withColumn(
                name,
                F.when(col.isNotNull(), col).otherwise(
                    F.when(
                        prev_v.isNull() | next_v.isNull(), F.lit(None)
                    ).otherwise(interp)
                ),
            )
        else:
            raise ValueError(f"unsupported $fill output for {name!r}: {how}")
    return out


_REDACT_KEEP = "__redact_keep__"
_REDACT_PRUNE = "__redact_prune__"
_REDACT_DESCEND = "__redact_descend__"


def _apply_redact(df: DataFrame, spec: Any) -> DataFrame:
    """``$redact``: field-level access control as one codegen'd projection.

    The expression evaluates at EVERY level of the document hierarchy with
    the Mongo system variables bound ($$KEEP keeps the subtree as-is,
    $$PRUNE removes it, $$DESCEND keeps this level's scalar fields and
    recurses into embedded documents — struct fields and structs inside
    arrays).  Field references inside the expression resolve RELATIVE to
    the level being evaluated, exactly as mongod does, via the expression
    compiler's `root` context.

    Lowering: the root decision is a filter (PRUNE drops the row); each
    struct-typed field rebuilds as a CASE over its own decision; pruned
    array elements are removed with `F.filter`.  Everything is native
    Column algebra — the whole stage is a single scan-level projection,
    no shuffle, no UDF.  The schema is unchanged (a pruned subdocument
    becomes a null struct — the typed-column rendering of "missing").
    """
    keep, prune = F.lit(_REDACT_KEEP), F.lit(_REDACT_PRUNE)

    def decision(root: Column | None, root_type: T.StructType) -> Column:
        ec = ExpressionCompiler(df, root=root, root_type=root_type)
        ec._env.update(
            {
                "KEEP": F.lit(_REDACT_KEEP),
                "PRUNE": F.lit(_REDACT_PRUNE),
                "DESCEND": F.lit(_REDACT_DESCEND),
            }
        )
        return ec.compile(spec)

    def descend_value(base: Column, st: T.StructType) -> Column | None:
        """The value of this level under a DESCEND decision, or None when
        the level holds no embedded documents (nothing to rewrite)."""
        rebuilt = []
        changed = False
        for f in st.fields:
            child = base.getField(f.name)
            val = _redacted_child(child, f.dataType)
            changed = changed or (val is not child)
            rebuilt.append(val.alias(f.name))
        return F.struct(*rebuilt) if changed else None

    def _redacted_child(child: Column, dt: T.DataType) -> Column:
        if isinstance(dt, T.StructType):
            d = decision(child, dt)
            inner = descend_value(child, dt)
            return (
                F.when(child.isNull() | (d == keep), child)
                .when(d == prune, F.lit(None).cast(dt))
                .otherwise(inner if inner is not None else child)
            )
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            et = dt.elementType

            def _elem(x: Column) -> Column:
                d = decision(x, et)
                inner = descend_value(x, et)
                return F.when(d == keep, x).otherwise(
                    inner if inner is not None else x
                )

            survivors = F.filter(child, lambda x: decision(x, et) != prune)
            return F.transform(survivors, _elem)
        return child

    root_d = decision(None, df.schema)
    out = df.filter(root_d != prune)
    cols = []
    for f in df.schema.fields:
        child = F.col(f.name)
        val = _redacted_child(child, f.dataType)
        if val is not child:
            # a root-level KEEP short-circuits every nested rewrite
            val = F.when(root_d == keep, child).otherwise(val)
        cols.append(val.alias(f.name))
    return out.select(*cols)


def aggregate(df: DataFrame, pipeline: list[dict[str, Any]]) -> DataFrame:
    """Compile a full pipeline into one lazy DataFrame plan."""
    out = df
    for stage in pipeline:
        if len(stage) != 1:
            raise ValueError(f"pipeline stage must have one operator: {stage}")
        op, spec = next(iter(stage.items()))
        if op == "$match":
            out = out.filter(FindCompiler(out).compile(spec))
        elif op == "$project":
            out = compile_projection(out, spec)
        elif op == "$unwind":
            out = _apply_unwind(out, spec)
        elif op == "$group":
            out = _apply_group(out, spec)
        elif op == "$sort":
            out = _apply_sort(out, spec)
        elif op == "$limit":
            out = out.limit(int(spec))
        elif op == "$skip":
            out = out.offset(int(spec))
        elif op == "$count":
            out = out.agg(F.count(F.lit(1)).alias(str(spec)))
        elif op == "$addFields" or op == "$set":
            ec = ExpressionCompiler(out)
            for name, expr in spec.items():
                out = out.withColumn(name, ec.compile(expr))
        elif op == "$unset":
            # stage form of exclusion projection: drop the named fields
            fields = [spec] if isinstance(spec, str) else list(spec)
            dotted = [f for f in fields if "." in f]
            if dotted:
                raise ValueError(
                    f"$unset of nested paths unsupported on typed columns: {dotted}"
                )
            out = out.drop(*fields)
        elif op == "$vectorSearch":
            out = _apply_vector_search(out, spec)
        elif op == "$search":
            out = _apply_search(out, spec)
        elif op == "$geoNear":
            if stage is not pipeline[0]:
                raise ValueError("$geoNear must be the first pipeline stage")
            out = _apply_geo_near(out, spec)
        elif op == "$lookup":
            out = _apply_lookup(out, spec)
        elif op == "$graphLookup":
            out = _apply_graph_lookup(out, spec)
        elif op == "$bucket":
            out = _apply_bucket(out, spec)
        elif op == "$bucketAuto":
            out = _apply_bucket_auto(out, spec)
        elif op == "$out":
            # Mongo's $out materializes the pipeline into a collection; the
            # engine's collections are parquet tables (SURVEY S17/S18), so
            # this writes and returns the materialized table — the one
            # action-bearing stage, by definition
            out.write.mode("overwrite").parquet(str(spec))
            out = out.sparkSession.read.parquet(str(spec))
        elif op == "$setWindowFields":
            out = _apply_set_window_fields(out, spec)
        elif op == "$merge":
            out = _apply_merge(out, spec)
        elif op == "$densify":
            out = _apply_densify(out, spec)
        elif op == "$fill":
            out = _apply_fill(out, spec)
        elif op == "$facet":
            out = _apply_facet(out, spec)
        elif op == "$sortByCount":
            # {$sortByCount: '$expr'} ≡ $group count + $sort desc; count
            # ties order by _id for a deterministic result (Mongo leaves
            # ties unspecified — determinism is strictly stronger)
            key = ExpressionCompiler(out).compile(spec)
            out = (
                out.groupBy(key.alias("_id"))
                .agg(F.count(F.lit(1)).alias("count"))
                .orderBy(F.desc("count"), F.asc("_id"))
            )
        elif op == "$unionWith":
            # spec: DataFrame (no shared catalog — same convention as
            # $lookup's 'from'), or {'coll': DataFrame, 'pipeline': [...]}
            other = spec
            if isinstance(spec, dict):
                _check_options("$unionWith", spec, {"coll", "pipeline"})
                other = aggregate(spec["coll"], spec.get("pipeline", []))
            if not isinstance(other, DataFrame):
                raise ValueError("$unionWith takes a DataFrame (no shared catalog)")
            out = out.unionByName(other, allowMissingColumns=True)
        elif op == "$replaceRoot" or op == "$replaceWith":
            expr = spec["newRoot"] if isinstance(spec, dict) and "newRoot" in spec else spec
            if not (isinstance(expr, str) and expr.startswith("$")):
                raise ValueError("$replaceRoot newRoot must be a '$field' path")
            out = out.select(f"{expr[1:]}.*")
        elif op == "$redact":
            out = _apply_redact(out, spec)
        elif op == "$documents":
            # literal input documents (Mongo 5.1): replaces the pipeline
            # input — only valid as the FIRST stage, matching mongod
            if out is not df or not isinstance(spec, list) or not spec:
                if out is not df:
                    raise ValueError("$documents must be the first stage")
                raise ValueError("$documents takes a non-empty list of documents")
            out = df.sparkSession.createDataFrame(spec)
        elif op == "$sample":
            # Exactly `size` pseudo-random docs without an eager count():
            # rank by a seeded rand() and keep the lowest `size`.  Catalyst
            # plans TakeOrderedAndProject — each partition keeps a size-k
            # heap, no full sort, no extra job at compile time (the old
            # fraction-based form ran a count() per compile).
            out = (
                out.withColumn("__sample_r", F.rand(seed=42))
                .orderBy("__sample_r")
                .limit(int(spec["size"]))
                .drop("__sample_r")
            )
        else:
            raise ValueError(f"unsupported pipeline stage: {op}")
    return out
