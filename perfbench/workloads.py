"""The benchmark's workloads: what each op runs, its sink, and its output check.

An op is one user-visible operation: a catalog query, a pipeline stage or a
document query.  ``call`` is the engine call (plan building plus any eager
jobs it runs); ``sink`` consumes the result.  A timed pass sends catalog
results to the noop sink; the check pass collects them instead and compares
them with the reference answer.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from perfbench import osmgen

# Scale of the generated OSM file relative to the reference extract.  At
# full scale a pass costs ~35 s on 4 cores (four single-task parses of
# 47 MB), several times one run's share of the time budget; 0.02 keeps every
# stage, the single-file single-task parse, and parsing as the largest cost,
# and leaves room for several passes in a run.
OSM_SCALE = 0.02

# Short docstore, relational, cleaning, similarity, sketch and dedup
# queries: per-call overhead (Python plan building, Catalyst, task scheduling
# over the shuffle partitions, broadcast collect) dominates their time.  They
# set op_p50_s.
INTERACTIVE_OPS = [
    "ds_find_machinery_customers", "ds_unwind_token_counts", "ds_date_format_tz",
    "ds_vector_search", "clean_enum_part_types", "orders_of_top_customers",
    "lc_distinct_users", "dedup_exact_groups",
]

# The write side: an availableNow stream with its checkpoint and WAL, about a
# third of pass_s.  The Arrow and BM25 operator queries are left out: their
# cold first runs (3-6 s each) do not fit one run's share of the time budget.
HEAVY_OPS = ["streaming_asof_enrich_status"]


@dataclass
class Op:
    name: str
    call: Callable[[Any], Any]
    # sink(result, check) -> what the check compares (None for a timed sink)
    sink: Callable[[Any, bool], Any]
    # check(collected) -> "" when correct, else the reason
    check: Callable[[Any], str]
    rows: int = 0


@dataclass
class Workload:
    name: str
    ops: list[Op]
    shuffle: bool
    state: dict = field(default_factory=dict)


# -- catalog workloads ---------------------------------------------------------


def _sort_key(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return math.isclose(fa, fb, rel_tol=1e-8, abs_tol=1e-10)
    return _sort_key(a) == _sort_key(b)


def _normalized(rows, columns) -> list[tuple]:
    """Columns in name order, rows sorted: an order-insensitive form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(row[i] for i in order) for row in rows]
    out.sort(key=lambda r: tuple(_sort_key(v) for v in r))
    return out


def compare_with_oracle(got: tuple[list, list], want: tuple[list, list]) -> str:
    """Row count, column set, then every value (floats to 1e-8 relative)."""
    (grows, gcols), (wrows, wcols) = got, want
    if sorted(gcols) != sorted(wcols):
        return f"columns {sorted(gcols)} != {sorted(wcols)}"
    if len(grows) != len(wrows):
        return f"rows {len(grows)} != {len(wrows)}"
    for a, b in zip(_normalized(grows, gcols), _normalized(wrows, wcols)):
        if len(a) != len(b) or not all(_same_value(x, y) for x, y in zip(a, b)):
            return f"first differing row {a!r} != {b!r}"
    return ""


def _noop_or_collect(df, check: bool):
    if check:
        return [tuple(r) for r in df.collect()], df.columns
    df.write.format("noop").mode("overwrite").save()
    return None


def _oracle_answers(con, sql: str, sf_dir: str, cache_dir: str) -> tuple[list, list]:
    """The DuckDB oracle's rows and columns for ``sql`` on ``sf_dir``.

    Answers are cached under ``cache_dir``, keyed by the SQL text and the
    tables' sizes and mtimes: the tables are read-only, and a few oracles
    take seconds, which would otherwise be paid again by every run."""
    key = hashlib.sha256(sql.encode())
    for t in sorted(os.listdir(sf_dir)):
        st = os.stat(os.path.join(sf_dir, t))
        key.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, key.hexdigest() + ".pickle")
    try:
        with open(path, "rb") as f:
            return pickle.load(f)
    except FileNotFoundError:
        pass
    res = con.execute(sql)
    answer = (res.fetchall(), [d[0] for d in res.description])
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(answer, f)
    os.replace(tmp, path)
    return answer


def catalog_workload(name: str, op_names: list[str], sf_dir: str, cache_dir: str) -> Workload:
    import duckdb

    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES

    missing = [n for n in op_names if n not in QUERIES or QUERIES[n].oracle is None]
    if missing:
        raise KeyError(f"queries without an oracle or not registered: {missing}")
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def make(qname: str) -> Op:
        q = QUERIES[qname]

        def check(got) -> str:
            return compare_with_oracle(got, _oracle_answers(con, q.oracle, sf_dir, cache_dir))

        return Op(qname, lambda spark: q.fn(spark, sf_dir), _noop_or_collect, check)

    return Workload(name, [make(n) for n in op_names], shuffle=True, state={"duckdb": con})


# -- OSM capstone ----------------------------------------------------------------


def _dict_check(want: dict) -> Callable[[Any], str]:
    return lambda got: "" if got == want else f"{sorted(got.items())[:6]} != {sorted(want.items())[:6]}"


def _equals(want) -> Callable[[Any], str]:
    return lambda got: "" if got == want else f"{got!r} != {want!r}"


def _collect_pairs(df, check: bool) -> dict:
    return {r[0]: r[1] for r in df.collect()}


def _identity(result, check: bool):
    return result


def osm_workload(work_dir: str, seed: int) -> Workload:
    """The notebook's capstone over one generated OSM file: the audits, then
    ``process_map`` (parse, shape, clean, JSON-lines write), then a reload
    into a ``DocumentCollection`` and the notebook's analysis queries."""
    import pyspark.sql.functions as F

    from data_wrangling_with_openstreetmap_and_mongodb_spark.docstore import DocumentCollection
    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.audit import audit_street_types
    from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.osm import (
        element_tag_counts,
        process_map,
        read_osm_elements,
        tag_key_class_counts,
    )

    xml = os.path.join(work_dir, "map.osm")
    out = os.path.join(work_dir, "map.osm.json")
    truth = osmgen.generate(xml, seed, OSM_SCALE)
    state: dict = {"xml": xml, "truth": truth}

    def streets(spark):
        raw = read_osm_elements(spark, xml)
        return audit_street_types(
            raw.select(F.col("tags")["addr:street"].alias("street")), "street",
            osmgen.EXPECTED_STREET_TYPES,
        )

    def run_process_map(spark):
        state["schema"] = process_map(spark, xml, out).schema
        return None

    def reload(spark):
        state["coll"] = DocumentCollection(spark.read.schema(state["schema"]).json(out), "cupertino")
        return state["coll"].count()

    def coll():
        return state["coll"]

    top = sorted(truth["user_counts"].values(), reverse=True)[:5]

    def check_top(got: list) -> str:
        counts = [c for _, c in got]
        wrong = [u for u, c in got if truth["user_counts"].get(u) != c]
        return "" if counts == top and not wrong else f"top contributors {got!r}, want counts {top}"

    abbreviated = r"\b(Ave|Blvd|Dr|Ln|Rd|St|Ct)\.?$"
    ops = [
        Op("element_tag_counts", lambda s: element_tag_counts(read_osm_elements(s, xml)),
           _collect_pairs, _dict_check(truth["elements"])),
        Op("tag_key_class_counts", lambda s: tag_key_class_counts(read_osm_elements(s, xml)),
           _collect_pairs, _dict_check(truth["key_classes"])),
        Op("audit_street_types", streets, _collect_pairs, _dict_check(truth["street_types"])),
        Op("process_map", run_process_map, _identity, _equals(None)),
        Op("reload_count", reload, _identity, _equals(truth["shaped_docs"])),
        Op("distinct_users", lambda s: len(coll().distinct("created.user")), _identity,
           _equals(truth["distinct_users"])),
        Op("top_contributors", lambda s: coll().aggregate([
            {"$group": {"_id": "$created.user", "count": {"$sum": 1}}},
            {"$sort": {"count": -1}}, {"$limit": 5},
        ]), lambda df, c: [(r["_id"], r["count"]) for r in df.collect()], check_top),
        Op("ways", lambda s: coll().count({"type": "way"}), _identity, _equals(truth["ways"])),
        Op("amenities", lambda s: coll().aggregate([
            {"$match": {"tags.amenity": {"$exists": True}}},
            {"$group": {"_id": "$tags.amenity", "count": {"$sum": 1}}},
            {"$sort": {"count": -1}},
        ]), _collect_pairs, _dict_check(truth["amenities"])),
        Op("postcodes", lambda s: coll().aggregate([
            {"$match": {"address.postcode": {"$exists": True}}},
            {"$group": {"_id": "$address.postcode", "count": {"$sum": 1}}},
        ]), _collect_pairs, _dict_check(truth["postcodes"])),
        Op("abbreviated_streets", lambda s: coll().count({"address.street": {"$regex": abbreviated}}),
           _identity, _equals(0)),
    ]
    return Workload("osm_capstone", ops, shuffle=False, state=state)


def streets_rewritten(spark, xml: str) -> int:
    """Street values the cleaning rewrites, counted by the engine's own
    cleaning expression over the raw elements (a tripwire: it must equal the
    generator's count exactly)."""
    import pyspark.sql.functions as F

    from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.cleaning import clean_street_name
    from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.osm import read_osm_elements

    street = F.col("tags")["addr:street"]
    raw = read_osm_elements(spark, xml).filter(F.col("element_type").isin("node", "way"))
    return raw.filter(street.isNotNull() & (clean_street_name(street) != street)).count()
