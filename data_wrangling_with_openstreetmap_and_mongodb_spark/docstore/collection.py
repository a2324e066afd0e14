"""DocumentCollection: the reference's pymongo surface over a DataFrame.

Covers every collection-level call the reference makes (SURVEY.md §3.3):
``find`` / ``find_one`` / ``count`` / ``distinct`` / ``aggregate`` /
``insert_one`` / ``insert_many``, plus the bulk-write surface a pymongo user
expects — ``update_many`` (Mongo update docs compiled to per-column CASE
expressions), ``delete_many`` (null-predicate rows kept), and the
enrichment-update pattern (04/update.py:56-76) re-expressed as a broadcast
join.  DataFrames are immutable, so every mutator returns a NEW collection;
Mongo's ``save()`` upsert becomes join + recompute (SURVEY.md §7), and
persistence goes through ``$out`` / ``$merge``.
"""

from __future__ import annotations

from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Row

from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore.find import (
    FindCompiler,
    compile_projection,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore.pipeline import aggregate


def _eq_null_safe(v):
    """Single-arg lambda factory for higher-order functions: a default-arg
    lambda (``lambda x, v=...``) counts as TWO parameters to PySpark's
    lambda-arity inspection — filter would silently bind the array INDEX to
    v, exists rejects it outright (both found by the update fuzz tier)."""
    return lambda x: x.eqNullSafe(v)


def _neq_null_safe(v):
    return lambda x: ~x.eqNullSafe(v)


def _set_literal(value: Any):
    """Classic-update $set literal → Column: scalars via ``lit``, dicts as
    literal embedded documents (struct, like Mongo), lists as literal
    arrays.  A dict with $-prefixed keys is an (unsupported here)
    expression — those need the pipeline-update form."""
    if isinstance(value, dict):
        if any(isinstance(k, str) and k.startswith("$") for k in value):
            raise ValueError(
                "update-document $set values are literals; expression "
                "updates need the pipeline-update form: "
                "aggregate([{'$set': ...}])"
            )
        return F.struct(*[_set_literal(v).alias(k) for k, v in value.items()])
    if isinstance(value, (list, tuple)):
        return F.array(*[_set_literal(v) for v in value])
    return F.lit(value)


class DocumentCollection:
    def __init__(self, df: DataFrame, name: str = "collection"):
        self.df = df
        self.name = name

    # -- find surface -------------------------------------------------------
    def find(
        self,
        query: dict[str, Any] | None = None,
        projection: dict[str, Any] | None = None,
    ) -> DataFrame:
        out = self.df.filter(FindCompiler(self.df).compile(query)) if query else self.df
        return compile_projection(out, projection)

    def find_one(
        self,
        query: dict[str, Any] | None = None,
        projection: dict[str, Any] | None = None,
    ) -> Row | None:
        rows = self.find(query, projection).limit(1).collect()
        return rows[0] if rows else None

    def count(self, query: dict[str, Any] | None = None) -> int:
        return self.find(query).count()

    def distinct(self, field: str) -> list[Any]:
        return [
            r[0] for r in self.df.select(F.col(field)).where(F.col(field).isNotNull()).distinct().collect()
        ]

    # -- aggregate surface --------------------------------------------------
    def aggregate(self, pipeline: list[dict[str, Any]]) -> DataFrame:
        return aggregate(self.df, pipeline)

    # -- insert surface (03/insert.py insert_many; 04 single inserts) -------
    def insert_many(
        self, docs: "list[dict[str, Any]] | DataFrame"
    ) -> "DocumentCollection":
        """``insert_many(docs)``: append documents (dicts on the collection's
        schema, or a DataFrame — missing columns null-fill).  Immutable:
        returns a new collection; persist with ``$out``/``$merge``."""
        other = (
            docs
            if isinstance(docs, DataFrame)
            else self.df.sparkSession.createDataFrame(docs, schema=self.df.schema)
        )
        return DocumentCollection(
            self.df.unionByName(other, allowMissingColumns=True), self.name
        )

    def insert_one(self, doc: dict[str, Any]) -> "DocumentCollection":
        return self.insert_many([doc])

    # -- bulk CRUD (pymongo update_many/delete_many) ------------------------
    def update_many(
        self, query: dict[str, Any] | None, update: dict[str, Any]
    ) -> "DocumentCollection":
        """``update_many(filter, update)``: apply a Mongo update document to
        every MATCHING row; non-matching rows pass through untouched.

        Supported update operators: ``$set`` (LITERAL values, like
        pymongo's classic update documents — a string starting with ``$``
        is stored verbatim, not read as a field path; a plain dict stores
        as a literal embedded document/struct and a list as a literal
        array; only dicts with $-prefixed keys are rejected as
        expressions, which need Mongo's pipeline-update form, here
        ``aggregate([{"$set": ...}])`` on the collection), ``$unset``
        (nulls the field — typed columns can't drop per-row), ``$inc`` /
        ``$mul`` (missing/null counts as 0 / 1, per Mongo's upsert-ish
        arithmetic), ``$min`` / ``$max`` (keep the smaller/larger of
        current and given), the array operators ``$push`` / ``$addToSet``
        (literal value or ``{"$each": [...]}``; a null/missing array
        creates one, like Mongo), ``$pull`` (removes ALL copies of a
        literal value; operator-doc conditions need the pipeline form) and
        ``$pop`` (1 drops the last element, -1 the first), and ``$rename``
        (typed columns can't drop per-row, so the old field NULLS where
        moved — the ``$unset`` convention — and the new field holds the
        value on matched rows).  DataFrames are immutable, so this returns
        a NEW collection — persist with ``$out`` / ``$merge``.  Compiles to
        per-column CASE expressions: one scan, no shuffle, no driver loop.
        """
        mask = (
            FindCompiler(self.df).compile(query) if query else F.lit(True)
        )
        out = self.df
        for op, args in update.items():
            if op == "$set":
                for f, value in args.items():
                    # classic update documents take $set values as LITERALS
                    # (pymongo: {'$set': {'note': '$promo'}} stores the
                    # string '$promo'); a plain dict is a literal EMBEDDED
                    # DOCUMENT (struct), per Mongo — only a dict with
                    # $-prefixed keys looks like an expression, which needs
                    # the pipeline-update form (ADVICE r5/r6)
                    val = _set_literal(value)
                    prev = F.col(f) if f in out.columns else F.lit(None)
                    out = out.withColumn(f, F.when(mask, val).otherwise(prev))
            elif op == "$unset":
                for f in [args] if isinstance(args, str) else list(args):
                    if f not in out.columns:
                        # Mongo: $unset on a missing field is a no-op —
                        # without this guard F.col(f) fails at analysis time
                        continue
                    out = out.withColumn(
                        f, F.when(mask, F.lit(None)).otherwise(F.col(f))
                    )
            elif op in ("$inc", "$mul"):
                ident = 0 if op == "$inc" else 1
                for f, n in args.items():
                    cur = F.coalesce(F.col(f), F.lit(ident)) if f in out.columns else F.lit(ident)
                    val = cur + F.lit(n) if op == "$inc" else cur * F.lit(n)
                    prev = F.col(f) if f in out.columns else F.lit(None)
                    out = out.withColumn(f, F.when(mask, val).otherwise(prev))
            elif op in ("$min", "$max"):
                fn = F.least if op == "$min" else F.greatest
                for f, v in args.items():
                    cur = (
                        F.coalesce(F.col(f), F.lit(v))
                        if f in out.columns
                        else F.lit(v)  # missing field: Mongo sets the value
                    )
                    prev = F.col(f) if f in out.columns else F.lit(None)
                    out = out.withColumn(
                        f, F.when(mask, fn(cur, F.lit(v))).otherwise(prev)
                    )
            elif op in ("$push", "$addToSet"):
                for f, spec in args.items():
                    if isinstance(spec, dict) and "$each" in spec:
                        extra = set(spec) - {"$each"}
                        if extra:
                            raise ValueError(
                                f"unsupported {op} modifiers: {sorted(extra)}"
                            )
                        new_vals = [ _set_literal(v) for v in spec["$each"] ]
                    elif isinstance(spec, dict) and any(
                        k.startswith("$") for k in spec
                    ):
                        raise ValueError(
                            f"unsupported {op} modifiers: {sorted(spec)}"
                        )
                    else:
                        new_vals = [_set_literal(spec)]
                    cur = (
                        F.coalesce(F.col(f), F.array().cast(out.schema[f].dataType))
                        if f in out.columns
                        else F.array(*new_vals)  # missing field: create
                    )
                    if f in out.columns:
                        val = cur
                        for nv in new_vals:
                            if op == "$push":
                                val = F.array_append(val, nv)
                            else:
                                # $addToSet appends only if absent, keeping
                                # the existing order (NOT a sort/dedup pass).
                                # Membership via exists+eqNullSafe, NOT
                                # array_contains: contains returns NULL for
                                # a null value (or a null-holding array with
                                # no match), which would re-append an
                                # already-present null every update
                                val = F.when(
                                    F.exists(val, _eq_null_safe(nv)),
                                    val,
                                ).otherwise(F.array_append(val, nv))
                    else:
                        val = cur if op == "$push" else F.array_distinct(cur)
                    prev = F.col(f) if f in out.columns else F.lit(None)
                    out = out.withColumn(f, F.when(mask, val).otherwise(prev))
            elif op == "$pull":
                for f, value in args.items():
                    if isinstance(value, dict) and any(
                        k.startswith("$") for k in value
                    ):
                        raise ValueError(
                            "$pull condition documents are unsupported in the "
                            "classic form; filter with the pipeline update "
                            "(aggregate [{'$set': {f: {'$filter': ...}}}])"
                        )
                    if f not in out.columns:
                        # Mongo: $pull on a missing field is a no-op (the
                        # sibling $push/$addToSet CREATE the field; $pull
                        # never does) — without this guard F.col(f) fails
                        # at analysis time
                        continue
                    # one null-safe rendering for BOTH cases: keep elements
                    # NOT null-safe-equal to the literal (value None drops
                    # null elements; array_remove would instead null the
                    # whole array for a null value and skips null elements'
                    # comparisons for non-null values)
                    pulled = F.filter(F.col(f), _neq_null_safe(_set_literal(value)))
                    out = out.withColumn(
                        f, F.when(mask, pulled).otherwise(F.col(f))
                    )
            elif op == "$pop":
                for f, which in args.items():
                    if which not in (1, -1):
                        raise ValueError(f"$pop takes 1 or -1, got {which!r}")
                    if f not in out.columns:
                        # Mongo: $pop on a missing field is a no-op —
                        # without this guard F.col(f) fails at analysis time
                        continue
                    n = F.size(F.col(f))
                    trimmed = (
                        F.slice(F.col(f), 1, F.greatest(n - 1, F.lit(0)))
                        if which == 1
                        else F.when(n > 1, F.slice(F.col(f), 2, n - 1)).otherwise(
                            F.array().cast(out.schema[f].dataType)
                        )
                    )
                    out = out.withColumn(
                        f, F.when(mask & F.col(f).isNotNull(), trimmed).otherwise(F.col(f))
                    )
            elif op == "$rename":
                for old, new in args.items():
                    if old not in out.columns:
                        raise ValueError(f"$rename source field missing: {old!r}")
                    moved = F.col(old)
                    prev_new = F.col(new) if new in out.columns else F.lit(None)
                    out = out.withColumn(
                        new, F.when(mask, moved).otherwise(prev_new)
                    ).withColumn(
                        old, F.when(mask, F.lit(None)).otherwise(F.col(old))
                    )
            else:
                raise ValueError(f"unsupported update operator: {op}")
        return DocumentCollection(out, self.name)

    def delete_many(self, query: dict[str, Any] | None) -> "DocumentCollection":
        """``delete_many(filter)``: drop matching rows.  Rows where the
        predicate is NULL (missing fields) are KEPT — Mongo deletes only
        documents the filter actually matches."""
        if query is None:
            return DocumentCollection(self.df.limit(0), self.name)
        mask = FindCompiler(self.df).compile(query)
        return DocumentCollection(
            self.df.filter(~F.coalesce(mask, F.lit(False))), self.name
        )

    # -- update-as-join (J1) ------------------------------------------------
    def update_from(
        self,
        updates: DataFrame,
        on: str,
        set_map: dict[str, str],
    ) -> "DocumentCollection":
        """Enrichment update: for rows matching ``on``, set ``set_map`` target
        columns (dotted paths into structs supported) from the updates side.

        Mirrors 04/update.py:56-76 (build {label → binomialAuthority}, then
        per-key find_one + save) as one broadcast left join — the scalable
        rendering of N point lookups.
        """
        upd_cols = {c: f"__upd_{c}" for c in updates.columns if c != on}
        renamed = F.broadcast(updates)
        for c, a in upd_cols.items():
            renamed = renamed.withColumnRenamed(c, a)
        joined = self.df.join(renamed, on=on, how="left")
        out = joined
        for target, src in set_map.items():
            src_col = F.col(upd_cols.get(src, src))
            if "." in target:
                head, leaf = target.split(".", 1)
                if "." in leaf:
                    raise ValueError("only one level of struct nesting supported")
                struct_t = out.schema[head].dataType
                fields = [
                    (F.coalesce(src_col, F.col(f"{head}.{f.name}")) if f.name == leaf else F.col(f"{head}.{f.name}")).alias(f.name)
                    for f in struct_t.fields
                ]
                if leaf not in struct_t.fieldNames():
                    fields.append(src_col.alias(leaf))
                out = out.withColumn(head, F.struct(*fields))
            else:
                out = out.withColumn(target, F.coalesce(src_col, F.col(target)) if target in out.columns else src_col)
        out = out.drop(*upd_cols.values())
        return DocumentCollection(out, self.name)
