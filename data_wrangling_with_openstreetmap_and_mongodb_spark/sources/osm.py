"""OSM XML source + document shaper (SURVEY.md §1.2, §2.1 S8, §3.1).

The reference streams OSM XML with ``ET.iterparse`` and shapes each element
into a JSON document (``/root/reference/data.py:96-151``, ``README.md:572-706``).
Here the same pipeline is Spark-native and two-phase:

1. **Parse** (:func:`read_osm_elements`): each file is cut into
   ``OSM_SPLIT_BYTES`` byte ranges, one task each (``ranges.py``, shared
   with the Avro reader).  A task re-aligns its range to element boundaries
   (``<node``/``<way``/``<relation`` open self-contained subtrees, the
   contract osmosis/osmium split on) and feeds the fragment to one expat
   parser, the parser ElementTree's ``iterparse`` wraps, emitting one raw
   row per element: ``(element_type, attrs map, tags map, node_refs
   array)``.  The handlers keep only each element's attribute dict, tag
   dict and ref list, which become ``pyarrow`` record batches handed to
   Spark by ``mapInArrow``: no element tree, no pandas frame, no per-value
   conversion.  The rows are the ones ``iterparse`` gives
   (``tests/test_sources.py`` keeps it as the oracle).  Python stays here
   because at the benchmark's input size a JVM ``xml`` read is slower
   (ROADMAP item 3).

   Scale note: parallelism = bytes / ``OSM_SPLIT_BYTES`` (64 MiB), so a
   planet dump shipped as one huge file still spreads over many tasks,
   while the reference's full ~51 MB extract is one task and a
   single-partition plan whose audits need no shuffle.  The shaping phase
   below is pure Column algebra, indifferent to how parsing was split.

2. **Shape** (:func:`shape_elements`): the reference's ``shape_element`` rules
   (``data.py:96-135``) as native expressions — no Python per row:

   - keep only ``node``/``way`` elements (``data.py:98``)
   - attrs in CREATED nest into a ``created`` struct; ``timestamp`` parses to
     a real timestamp (``data.py:93,99-102``; ``README.md:657-658``)
   - ``lat``/``lon`` become ``pos: array<double>`` (``data.py:105-108``)
   - tag keys with problem characters are dropped (``data.py:91,120``)
   - ``addr:X`` keys nest into the ``address`` map; ``addr:X:Y`` keys are
     ignored (``data.py:121-125``)
   - remaining tags stay in an open ``tags`` map (SURVEY.md §1.4's MapType
     rendering of Mongo's dynamic keys)
   - way ``<nd ref>`` children are the ordered ``node_refs`` array
     (``data.py:128-131``)
   - street values in ``address.street`` are cleaned inline, like the
     notebook variant (``README.md:683-687``)
"""

from __future__ import annotations

import glob
import os
import re
from collections.abc import Iterator
from itertools import accumulate, chain
from xml.parsers import expat

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, MapType, StringType, StructField, StructType

from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.cleaning import (
    PROBLEMCHARS_RE,
    classify_key,
    clean_street_name,
    parse_osm_timestamp,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.ranges import (
    file_ranges,
    map_ranges,
)

_STR_MAP = MapType(StringType(), StringType())
RAW_ELEMENT_SCHEMA = StructType(
    [
        StructField("element_type", StringType()),
        StructField("attrs", _STR_MAP),
        StructField("tags", _STR_MAP),
        StructField("node_refs", ArrayType(StringType())),
    ]
)
_RAW_ARROW = to_arrow_schema(RAW_ELEMENT_SCHEMA)


# Top-level OSM element-open tags.  `<nd` (way child) shares a prefix with
# `<node`, so the match requires a following delimiter; XML escapes `<` in
# text/attributes, so a raw byte match cannot false-positive inside content.
_ELEMENT_OPEN = re.compile(rb"<(node|way|relation)[ \t\r\n/>]")

# Bytes per parse task.  The reference's full extract (~51 MB) stays one
# range; larger files fan out.
OSM_SPLIT_BYTES = 64 << 20


def _read_fragment(path: str, start: int, end: int) -> bytes:
    """Read the byte-range [start, end) of an OSM file, re-aligned to element
    boundaries: the fragment contains exactly the top-level elements whose
    opening ``<`` lies in [start, end).  An element straddling ``end`` is
    completed by reading past the range; one straddling ``start`` is skipped
    (the previous range owns it).  Constant memory: range + one element."""
    with open(path, "rb") as f:
        f.seek(start)
        buf = f.read(end - start)
        # Extend to the first element-open at/after `end` (the crop point):
        # everything before it, including an element that STARTED before
        # `end`, belongs to this range.  Each new chunk re-scans a small
        # overlap so a tag straddling the chunk edge still matches.
        scan_from = len(buf)
        while (crop := _ELEMENT_OPEN.search(buf, scan_from)) is None:
            chunk = f.read(1 << 16)
            if not chunk:
                break
            scan_from = max(len(buf) - 16, end - start)
            buf += chunk
    stop = crop.start() if crop else len(buf)
    # The head starts at the first element-open in range: this skips the XML
    # declaration and <osm> header in range 0, and otherwise the tail of an
    # element the previous range owns.
    head = _ELEMENT_OPEN.search(buf, 0, stop)
    if head is None:
        return b""
    frag = buf[head.start() : stop]
    # A fragment that ran to EOF carries the file's trailer, whether or not
    # its range was the last one (it owns the last element either way).
    if crop is None and (tail := frag.rfind(b"</osm>")) != -1:
        frag = frag[:tail]
    return frag


_ELEMENTS = frozenset(("node", "way", "relation"))
# The parser is fed this many bytes at a time; a batch is cut after a feed
# once this many rows are complete, so a 64 MiB range never holds all its
# rows as Python strings at once.
_FEED_BYTES = 1 << 20
_BATCH_ROWS = 10_000


def _parse_range(path: str, start: int, end: int, size: int) -> Iterator[pa.RecordBatch]:
    """The raw element rows of one byte range, as Arrow batches of
    ``RAW_ELEMENT_SCHEMA``.

    One expat parser, created as ElementTree creates its own (namespace
    separator ``}``), runs over the fragment.  Its handlers only collect
    each element's attribute dict, tag dict and ref list; the batch then
    flattens them into Arrow columns in C-level list passes.  A row is
    emitted when a node, way or relation closes, at any depth, like
    ``iterparse``'s end events: ``attrs`` is every attribute in document
    order, ``tags`` maps the ``k`` of each direct ``<tag>`` child to its
    ``v`` (``""`` if absent; no ``k``, no entry; the last duplicate key
    wins), and ``node_refs`` lists the ``ref`` of each direct ``<nd>``
    child that has one."""
    frag = _read_fragment(path, start, end)
    if not frag:
        return
    # One entry per open XML element: (name, attrs, tags, node_refs) for an
    # OSM element, None for any other; the None below is the root's parent.
    open_: list[tuple | None] = [None]
    push, pop = open_.append, open_.pop
    closed: list[tuple] = []
    emit = closed.append

    def start_element(name: str, attrs: dict[str, str]) -> None:
        if name in _ELEMENTS:
            push((name, attrs, {}, []))
            return
        parent = open_[-1]
        if parent is not None:
            if name == "tag":
                k = attrs.get("k")
                if k is not None:
                    parent[2][k] = attrs.get("v", "")
            elif name == "nd":
                ref = attrs.get("ref")
                if ref is not None:
                    parent[3].append(ref)
        push(None)

    def end_element(_name: str) -> None:
        element = pop()
        if element is not None:
            emit(element)

    parser = expat.ParserCreate(namespace_separator="}")
    parser.StartElementHandler = start_element
    parser.EndElementHandler = end_element
    view = memoryview(frag)
    parser.Parse(b"<osm>")
    for i in range(0, len(view), _FEED_BYTES):
        parser.Parse(view[i : i + _FEED_BYTES])
        if len(closed) >= _BATCH_ROWS:
            yield _element_batch(closed)
            closed.clear()
    parser.Parse(b"</osm>", True)
    if closed:
        yield _element_batch(closed)


def _element_batch(elements: list[tuple]) -> pa.RecordBatch:
    """Closed ``(name, attrs, tags, node_refs)`` elements as one batch."""
    refs = [e[3] for e in elements]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([e[0] for e in elements], pa.string()),
            _string_map([e[1] for e in elements], universal_keys=True),
            _string_map([e[2] for e in elements]),
            pa.ListArray.from_arrays(
                _offsets(refs),
                pa.array(list(chain.from_iterable(refs)), pa.string()),
                type=_RAW_ARROW.field("node_refs").type,
            ),
        ],
        schema=_RAW_ARROW,
    )


def _offsets(parts: list) -> pa.Array:
    return pa.array(list(accumulate(map(len, parts), initial=0)), pa.int32())


def _string_map(dicts: list[dict[str, str]], universal_keys: bool = False) -> pa.MapArray:
    """``dicts`` as one map column.  With ``universal_keys``, keys are spelled
    as ElementTree spells attribute names: expat reports a namespaced name as
    ``uri}local`` and ElementTree prefixes it with ``{``.  ``}`` is not an
    XML name character, so it marks exactly those names."""
    names = list(chain.from_iterable(dicts))
    keys = pa.array(names, pa.string())
    if universal_keys and pc.any(pc.match_substring(keys, "}")).as_py():
        keys = pa.array(["{" + n if "}" in n else n for n in names], pa.string())
    return pa.MapArray.from_arrays(
        _offsets(dicts),
        keys,
        pa.array(list(chain.from_iterable(map(dict.values, dicts))), pa.string()),
        type=_RAW_ARROW.field("attrs").type,
    )


def read_osm_elements(spark: SparkSession, path: str) -> DataFrame:
    """Parse the OSM XML file at ``path``, or every file matching the glob,
    in sorted order, into raw element rows.  Raises if nothing matches.

    One task per ``OSM_SPLIT_BYTES`` range of each file (module docstring).
    Fragments drop the file's XML declaration, so the input must be UTF-8,
    the only encoding the OSM format uses."""
    files = [f for f in sorted(glob.glob(path)) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no OSM file matches {path!r}")
    return map_ranges(
        spark, file_ranges(files, OSM_SPLIT_BYTES), _parse_range, RAW_ELEMENT_SCHEMA
    )


def element_tag_counts(raw: DataFrame) -> DataFrame:
    """Frequency of element tags (mapparser.py:16-21; SURVEY.md A12)."""
    return raw.groupBy("element_type").agg(F.count(F.lit(1)).alias("cnt"))


def tag_key_class_counts(raw: DataFrame) -> DataFrame:
    """Count tag keys per class (tags.py:25-38; golden counts README.md:153),
    the ``key_type`` audit, via the C3 ``classify_key`` expression."""
    keys = raw.select(F.explode(F.map_keys("tags")).alias("k"))
    return keys.groupBy(classify_key(F.col("k")).alias("key_class")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


# The shaping filter and output Columns for the active SparkContext.  They
# are unresolved expressions over ``raw``'s column names only, so one set
# serves every frame of a context; building them costs ~500 py4j round
# trips (~1,000 with call-site capture on), most of them the street-cleaning
# rules.
_SHAPING: tuple[SparkContext, Column, list[Column]] | None = None


def _shaping() -> tuple[Column, list[Column]]:
    global _SHAPING
    sc = SparkContext._active_spark_context
    if _SHAPING is None or _SHAPING[0] is not sc:
        _SHAPING = (sc, *_build_shaping())
    return _SHAPING[1], _SHAPING[2]


def _build_shaping() -> tuple[Column, list[Column]]:
    a = F.col("attrs")
    tags = F.col("tags")

    created = F.struct(
        a["version"].alias("version"),
        a["changeset"].alias("changeset"),
        parse_osm_timestamp(a["timestamp"]).alias("timestamp"),
        a["user"].alias("user"),
        a["uid"].alias("uid"),
    )
    pos = F.when(
        a["lat"].isNotNull() & a["lon"].isNotNull(),
        F.array(a["lat"].cast("double"), a["lon"].cast("double")),
    )

    # keep only entries whose key survives shaping: problemchars dropped
    # (data.py:120), addr:X:Y dropped (data.py:124), addr:X routed to address
    clean_tags = F.map_filter(
        tags,
        lambda k, v: ~k.rlike(PROBLEMCHARS_RE) & ~k.startswith("addr:"),
    )
    addr_entries = F.map_filter(
        tags,
        lambda k, v: k.startswith("addr:")
        & ~k.rlike(PROBLEMCHARS_RE)
        & (F.size(F.split(k, ":")) == 2),
    )
    address = F.transform_values(
        F.transform_keys(addr_entries, lambda k, v: F.substring(k, 6, 2147483647)),
        lambda k, v: F.when(k == "street", clean_street_name(v)).otherwise(v),
    )
    address = F.when(F.size(F.map_keys(address)) > 0, address)

    node_refs = F.when(F.col("element_type") == "way", F.col("node_refs"))

    keep = F.col("element_type").isin("node", "way")
    return keep, [
        a["id"].alias("id"),
        F.col("element_type").alias("type"),
        a["visible"].alias("visible"),
        created.alias("created"),
        pos.alias("pos"),
        address.alias("address"),
        clean_tags.alias("tags"),
        node_refs.alias("node_refs"),
    ]


def shape_elements(raw: DataFrame) -> DataFrame:
    """Shape raw OSM elements into the reference's document form (§1.2).

    Output schema::

        id string, type string, visible string,
        created struct<version,changeset,timestamp:timestamp,user,uid>,
        pos array<double>, address map<string,string>,
        tags map<string,string>, node_refs array<string>
    """
    keep, columns = _shaping()
    return raw.filter(keep).select(*columns)


def process_map(spark: SparkSession, path_in: str, path_out: str) -> DataFrame:
    """The full reference pipeline: parse → shape → JSON-lines sink
    (data.py:138-151; README.md:714-729).  Overwrite = idempotent reload
    (README.md:832-839 drop-if-exists)."""
    shaped = shape_elements(read_osm_elements(spark, path_in))
    shaped.write.mode("overwrite").json(path_out)
    return shaped
