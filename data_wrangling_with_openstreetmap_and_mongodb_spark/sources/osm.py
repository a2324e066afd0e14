"""OSM XML source + document shaper (SURVEY.md §1.2, §2.1 S8, §3.1).

The reference streams OSM XML with ``ET.iterparse`` and shapes each element
into a JSON document (``/root/reference/data.py:96-151``, ``README.md:572-706``).
Here the same pipeline is Spark-native and two-phase:

1. **Parse** (:func:`read_osm_elements`): each file is cut into
   ``OSM_SPLIT_BYTES`` byte ranges, one task each (``ranges.py``, shared
   with the Avro reader).  A task re-aligns its range to element boundaries
   (``<node``/``<way``/``<relation`` open self-contained subtrees, the
   contract osmosis/osmium split on) and runs a constant-memory
   ``iterparse`` over the fragment, emitting one raw row per element:
   ``(element_type, attrs map, tags map, node_refs array)``.  Python is
   unavoidable here (there is no JVM OSM parser in-box), so the boundary is
   Arrow-batched ``mapInPandas``, never row-at-a-time.

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
from typing import Any

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_wrangling_with_openstreetmap_and_mongodb_spark.functions.cleaning import (
    PROBLEMCHARS_RE,
    classify_key,
    clean_street_name,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.ranges import (
    file_ranges,
    map_ranges,
)

# data.py:93
CREATED_ATTRS = ("version", "changeset", "timestamp", "user", "uid")

RAW_ELEMENT_SCHEMA = (
    "element_type string, attrs map<string,string>, "
    "tags map<string,string>, node_refs array<string>"
)


def _iterparse_rows(content: bytes) -> Iterator[dict[str, Any]]:
    import io
    import xml.etree.ElementTree as ET

    # iterparse + immediate clear: constant memory per task regardless of
    # file size, exactly like the reference's streaming pass (data.py:143).
    for _event, elem in ET.iterparse(io.BytesIO(content), events=("end",)):
        tag = elem.tag
        if tag in ("node", "way", "relation"):
            yield {
                "element_type": tag,
                "attrs": dict(elem.attrib),
                "tags": {
                    t.attrib["k"]: t.attrib.get("v", "")
                    for t in elem.findall("tag")
                    if "k" in t.attrib
                },
                "node_refs": [
                    nd.attrib["ref"] for nd in elem.findall("nd") if "ref" in nd.attrib
                ],
            }
            elem.clear()


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


def _parse_range(path: str, start: int, end: int, size: int) -> Iterator[pd.DataFrame]:
    """The raw element rows of one byte range, as one pandas frame."""
    frag = _read_fragment(path, start, end)
    rows = list(_iterparse_rows(b"<osm>" + frag + b"</osm>")) if frag else []
    if rows:
        yield pd.DataFrame(rows)


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


def shape_elements(raw: DataFrame, clean_streets: bool = True) -> DataFrame:
    """Shape raw OSM elements into the reference's document form (§1.2).

    Output schema::

        id string, type string, visible string,
        created struct<version,changeset,timestamp:timestamp,user,uid>,
        pos array<double>, address map<string,string>,
        tags map<string,string>, node_refs array<string>
    """
    a = F.col("attrs")
    tags = F.col("tags")

    created = F.struct(
        a["version"].alias("version"),
        a["changeset"].alias("changeset"),
        F.to_timestamp(a["timestamp"], "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
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
    address = F.transform_keys(addr_entries, lambda k, v: F.substring(k, 6, 2147483647))
    if clean_streets:
        address = F.transform_values(
            address,
            lambda k, v: F.when(k == "street", clean_street_name(v)).otherwise(v),
        )
    address = F.when(F.size(F.map_keys(address)) > 0, address)

    node_refs = F.when(F.col("element_type") == "way", F.col("node_refs"))

    return raw.filter(F.col("element_type").isin("node", "way")).select(
        a["id"].alias("id"),
        F.col("element_type").alias("type"),
        a["visible"].alias("visible"),
        created.alias("created"),
        pos.alias("pos"),
        address.alias("address"),
        clean_tags.alias("tags"),
        node_refs.alias("node_refs"),
    )


def process_map(spark: SparkSession, path_in: str, path_out: str) -> DataFrame:
    """The full reference pipeline: parse → shape → JSON-lines sink
    (data.py:138-151; README.md:714-729).  Overwrite = idempotent reload
    (README.md:832-839 drop-if-exists)."""
    shaped = shape_elements(read_osm_elements(spark, path_in))
    shaped.write.mode("overwrite").json(path_out)
    return shaped
