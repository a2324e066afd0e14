"""Property-based tests for the $merge compiler (docstore/pipeline.py::
_apply_merge): random whenMatched/whenNotMatched specs — value modes
(replace/keepExisting/merge/fail), update pipelines ($set/$addFields/$unset
with stage snapshots), insert pipelines, let-vars (default {new: $$ROOT} and
custom bindings) — run against a Python dict-merge reference evaluator over
a corpus with null keys, null payloads, target-only and source-only columns.

VERDICT r9 ask #2: $merge was the one large compiler without a property
tier, and the $lookup tier caught a real null-key divergence on its FIRST
run.  History repeated: this tier's null-key corpus found that the name-list
full-outer join compiles to EqualTo, so a null-'on'-key source doc INSERTED
A DUPLICATE next to the null-key target row instead of matching it (fixed in
the same commit: explicit eqNullSafe join condition — BSON total equality,
the same semantics the r9 $lookup fix pinned).

Semantics locked here (mirroring the _apply_merge docstring):
- 'on'-key match is null-safe total equality; target rows never matched are
  always kept.
- merge mode is field-wise: non-null source value overwrites, null keeps the
  target's (typed-column analogue of Mongo's present-field overwrite).
- keepExisting/fail leave matched documents ENTIRELY unchanged (no
  source-only field absorption); so does the pipeline form for fields it
  does not $set.
- update pipeline: bare $field reads the TARGET document as of the STAGE'S
  INPUT (snapshot per stage), $$var reads the let bindings over the SOURCE
  document, $unset writes null, new fields extend the schema (null on
  non-matched rows).
- insert pipeline: bare $field reads the SOURCE document; modifying an 'on'
  key raises.
- whenMatched/whenNotMatched 'fail' raise at execution time when a
  matched/unmatched row exists.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore.pipeline import aggregate
from conftest import fuzz_examples

# target: k=null row, value-null rows, a key (9) the source never touches
TARGET = [
    {"k": None, "a": 100, "b": "tn", "t_only": 0.5},
    {"k": 1, "a": 10, "b": "t1", "t_only": 1.5},
    {"k": 2, "a": None, "b": None, "t_only": None},
    {"k": 3, "a": 30, "b": "t3", "t_only": 3.5},
    {"k": 9, "a": 90, "b": "t9", "t_only": 9.5},
]
TARGET_SCHEMA = "k long, a long, b string, t_only double"
TARGET_COLS = ["k", "a", "b", "t_only"]

# source: matches k=null/1/2/3, unmatched k=7 and k=null? no — exactly one
# null key per side (the 'on' uniqueness contract); null payloads included
SOURCE = [
    {"k": None, "a": 77, "b": None, "s_only": 7000},
    {"k": 1, "a": None, "b": "s1", "s_only": 1000},
    {"k": 2, "a": 22, "b": "s2", "s_only": None},
    {"k": 3, "a": 33, "b": None, "s_only": 3000},
    {"k": 7, "a": 70, "b": "s7", "s_only": 7700},
]
SOURCE_SCHEMA = "k long, a long, b string, s_only long"
SOURCE_COLS = ["k", "a", "b", "s_only"]


# -- reference evaluator ------------------------------------------------------


class MergeFails(Exception):
    pass


def _eval_expr(e, doc, env):
    """Tiny Mongo-expression evaluator over plain dicts: $field, $$var(.f),
    literals, and the closed operator pool the strategies draw from."""
    if isinstance(e, str):
        if e.startswith("$$"):
            name, _, rest = e[2:].partition(".")
            v = env[name]
            for part in rest.split(".") if rest else []:
                v = None if v is None else v.get(part)
            return v
        if e.startswith("$"):
            return doc.get(e[1:])
        return e
    if isinstance(e, dict):
        (op, args), = e.items()
        if op == "$add":
            vals = [_eval_expr(a, doc, env) for a in args]
            return None if any(v is None for v in vals) else sum(vals)
        if op == "$multiply":
            vals = [_eval_expr(a, doc, env) for a in args]
            out = 1
            for v in vals:
                if v is None:
                    return None
                out *= v
            return out
        if op == "$toUpper":
            v = _eval_expr(args, doc, env)
            return "" if v is None else str(v).upper()  # Mongo: null → ""
        if op == "$ifNull":
            for a in args:
                v = _eval_expr(a, doc, env)
                if v is not None:
                    return v
            return None
        raise AssertionError(f"evaluator pool miss: {op}")
    return e


def _let_env(spec, sdoc):
    let = spec.get("let") or {"new": "$$ROOT"}
    env = {}
    for var, v in let.items():
        if v == "$$ROOT":
            env[var] = dict(sdoc)
        elif isinstance(v, str) and v.startswith("$") and not v.startswith("$$"):
            env[var] = sdoc.get(v[1:])
        else:
            env[var] = v
    return env


def _eval_pipeline(stages, base_doc, env):
    """$set/$addFields/$unset overrides with per-stage snapshots."""
    doc = dict(base_doc)
    touched: dict = {}
    for stage in stages:
        (sop, sargs), = stage.items()
        if sop in ("$set", "$addFields"):
            snapshot = dict(doc)
            for fname, fexpr in sargs.items():
                val = _eval_expr(fexpr, snapshot, env)
                doc[fname] = val
                touched[fname] = val
        else:  # $unset
            for fname in [sargs] if isinstance(sargs, str) else sargs:
                doc[fname] = None
                touched[fname] = None
    return touched


def eval_merge(target_rows, source_rows, spec, out_cols):
    """Reference $merge over plain dicts; returns the expected table as a
    sorted list of tuples over ``out_cols``, or raises MergeFails."""
    wm = spec.get("whenMatched", "merge")
    wnm = spec.get("whenNotMatched", "insert")
    src_by_key = {s["k"]: s for s in source_rows}
    assert len(src_by_key) == len(source_rows)  # corpus keeps 'on' unique
    out = []
    matched_keys = set()
    for t in target_rows:
        s = src_by_key.get(t["k"])
        row = {c: t.get(c) for c in out_cols}
        if s is None:
            out.append(row)
            continue
        matched_keys.add(t["k"])
        if wm == "fail":
            raise MergeFails("whenMatched=fail hit")
        env = _let_env(spec, s)
        if isinstance(wm, list):
            for f, v in _eval_pipeline(wm, t, env).items():
                row[f] = v
        elif wm == "replace":
            for c in out_cols:
                if c == "k":
                    continue
                row[c] = s.get(c) if (c in SOURCE_COLS or c in s) else None
        elif wm == "merge":
            for c in out_cols:
                if c == "k":
                    continue
                if c in SOURCE_COLS and s.get(c) is not None:
                    row[c] = s[c]
        # keepExisting: row stays the target document
        if wm == "replace" or wm == "merge":
            # matched rows absorb source-only columns in these modes
            for c in out_cols:
                if c not in TARGET_COLS and c in SOURCE_COLS:
                    row[c] = s.get(c)
        out.append(row)
    for s in source_rows:
        if s["k"] in matched_keys:
            continue
        if wnm == "discard":
            continue
        if wnm == "fail":
            raise MergeFails("whenNotMatched=fail hit")
        env = _let_env(spec, s)
        row = {c: (s.get(c) if c in SOURCE_COLS else None) for c in out_cols}
        row["k"] = s["k"]
        if isinstance(wnm, list):
            for f, v in _eval_pipeline(wnm, s, env).items():
                row[f] = v
        out.append(row)
    return sorted(
        (tuple(r[c] for c in out_cols) for r in out), key=repr
    )


# -- harness ------------------------------------------------------------------


def _run_merge(spark, tmp_path_factory, spec_tail):
    base = tmp_path_factory.mktemp("merge_fuzz")
    path = os.path.join(str(base), "t")
    spark.createDataFrame(
        [tuple(d[c] for c in TARGET_COLS) for d in TARGET], TARGET_SCHEMA
    ).write.parquet(path)
    src = spark.createDataFrame(
        [tuple(d[c] for c in SOURCE_COLS) for d in SOURCE], SOURCE_SCHEMA
    )
    spec = {"into": path, "on": "k", **spec_tail}
    out = aggregate(src, [{"$merge": spec}])
    rows = [r.asDict() for r in out.collect()]
    cols = out.columns
    return spec, cols, sorted(
        (tuple(r[c] for c in cols) for r in rows), key=repr
    )


# expression pool for $set values, typed per field so Spark/Python agree:
#   a (long), b (string), t_only (double), p_new (new long field)
_SET_A = st.sampled_from([
    {"$add": ["$a", 10]},
    "$$new.a",
    {"$ifNull": ["$a", -1]},
    {"$multiply": ["$a", 2]},
    41,
])
_SET_B = st.sampled_from([
    {"$toUpper": "$b"},
    "$$new.b",
    {"$ifNull": ["$b", "zz"]},
    "const",
])
_SET_NEW = st.sampled_from([
    {"$add": ["$$new.s_only", 1]},
    "$$new.s_only",
    7,
])

_MATCH_STAGE = st.one_of(
    st.fixed_dictionaries({"$set": st.fixed_dictionaries({"a": _SET_A})}),
    st.fixed_dictionaries({"$addFields": st.fixed_dictionaries({"b": _SET_B})}),
    st.fixed_dictionaries({"$set": st.fixed_dictionaries({"p_new": _SET_NEW})}),
    st.fixed_dictionaries(
        {"$set": st.fixed_dictionaries({"a": _SET_A, "b": _SET_B})}
    ),
    st.just({"$unset": "t_only"}),
    st.just({"$unset": ["a", "b"]}),
)

_WHEN_MATCHED = st.one_of(
    st.sampled_from(["replace", "keepExisting", "merge"]),
    st.lists(_MATCH_STAGE, min_size=1, max_size=3),
)

_INS_STAGE = st.one_of(
    st.fixed_dictionaries(
        {"$set": st.fixed_dictionaries({"a": st.sampled_from(
            [{"$add": ["$a", 5]}, {"$ifNull": ["$a", 0]}, 13]
        )})}
    ),
    st.fixed_dictionaries(
        {"$set": st.fixed_dictionaries({"p_new": _SET_NEW})}
    ),
    st.just({"$unset": "b"}),
)

_WHEN_NOT_MATCHED = st.one_of(
    st.sampled_from(["insert", "discard"]),
    st.lists(_INS_STAGE, min_size=1, max_size=2),
)

_LET = st.sampled_from([None, {"new": "$$ROOT"}, {"new": "$$ROOT", "va": "$a"}])


@settings(
    max_examples=fuzz_examples(100),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_WHEN_MATCHED, _WHEN_NOT_MATCHED, _LET)
def test_merge_matches_reference(spark, tmp_path_factory, wm, wnm, let):
    spec_tail = {"whenMatched": wm, "whenNotMatched": wnm}
    if let is not None:
        spec_tail["let"] = let
    spec, cols, got = _run_merge(spark, tmp_path_factory, spec_tail)
    want = eval_merge(TARGET, SOURCE, spec, cols)
    assert got == want, spec_tail


def test_merge_null_on_key_matches_null_target(spark, tmp_path_factory):
    """THE fuzz-tier find (r10): a null 'on'-key source doc must MATCH the
    null-key target row (BSON total equality), not insert a duplicate —
    the name-list join's EqualTo silently did the latter."""
    spec, cols, got = _run_merge(
        spark, tmp_path_factory, {"whenMatched": "replace"}
    )
    null_rows = [r for r in got if r[cols.index("k")] is None]
    assert len(null_rows) == 1
    # replaced by the source doc (a=77), source-only column absorbed
    assert null_rows[0][cols.index("a")] == 77
    assert null_rows[0][cols.index("s_only")] == 7000


def test_merge_staged_mode_matches_local(spark, tmp_path_factory, monkeypatch):
    """r16 (ADVICE r15): the durability-aware materialization — staged
    sibling write vs localCheckpoint — must be value-identical; only the
    write path differs.  Also pins that the staged sibling dir is cleaned
    up and that footer metadata read from the target before the merge does
    not outlive the overwrite."""
    import os as _os

    from data_wrangling_with_openstreetmap_and_mongodb_spark import catalog
    from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore import pipeline

    monkeypatch.setattr(pipeline, "_merge_materialize_mode", lambda spark: "local")
    _, cols_a, got_a = _run_merge(spark, tmp_path_factory, {"whenMatched": "replace"})
    monkeypatch.setattr(pipeline, "_merge_materialize_mode", lambda spark: "staged")

    base = str(tmp_path_factory.mktemp("merge_fuzz"))
    path = _os.path.join(base, "t.parquet")
    spark.createDataFrame(
        [tuple(d[c] for c in TARGET_COLS) for d in TARGET], TARGET_SCHEMA
    ).write.parquet(path)
    # a read of the target's metadata before the merge (what a gate such as
    # load_table(spread=True) or a table_rows crossover would do)
    assert catalog.table_rows(base, "t") == len(TARGET)
    src = spark.createDataFrame(
        [tuple(d[c] for c in SOURCE_COLS) for d in SOURCE], SOURCE_SCHEMA
    )
    out = aggregate(src, [{"$merge": {"into": path, "on": "k", "whenMatched": "replace"}}])
    cols_b = out.columns
    got_b = sorted((tuple(r[c] for c in cols_b) for r in out.collect()), key=repr)
    assert cols_a == cols_b and got_a == got_b
    assert not _os.path.exists(path + "__merge_tmp")

    # the metadata now describes the merged table, not the pre-merge one
    assert len(got_b) != len(TARGET)  # else a stale count would go unseen
    assert catalog.table_rows(base, "t") == len(got_b)
    files = [
        _os.path.join(path, f) for f in _os.listdir(path) if f.endswith(".parquet")
    ]
    assert catalog._parquet_layout(path)[1] == sum(_os.path.getsize(f) for f in files)


def test_merge_fail_modes_reference_agrees(spark, tmp_path_factory):
    """fail modes raise at execution time exactly when the reference says a
    matched/unmatched row exists."""
    for tail in (
        {"whenMatched": "fail"},
        {"whenMatched": "merge", "whenNotMatched": "fail"},
    ):
        with pytest.raises(MergeFails):
            eval_merge(TARGET, SOURCE, {"on": "k", **tail}, TARGET_COLS + ["s_only"])
        with pytest.raises(Exception, match="fail hit"):
            _run_merge(spark, tmp_path_factory, tail)
