"""Generic XML sources (SURVEY.md §2.1 S9–S10).

- :func:`split_concatenated_xml` — the reference's malformed "many XML docs in
  one file" splitter (02/split_data.py:17-44), re-expressed as one Column
  expression: split the file content on ``<?xml`` declaration boundaries and
  posexplode.  Distributed per file (binaryFile listing), no driver loops.
- :func:`read_xml_rows` — tree scan + path extraction (02/authors.py:13-32):
  parse each split document (or each file) with ElementTree in a per-document
  function under
  :func:`~data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap.map_rows`
  (Arrow-batched, map-only) and emit rows per a caller-supplied extractor;
  the XPath-ish navigation happens in Python once per document, the resulting
  DataFrame is ordinary columns from there on.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Callable
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap import map_rows


def read_file_contents(spark: SparkSession, path: str) -> DataFrame:
    """(path, content-string) per file via the binaryFile source."""
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.col("path"), F.col("content").cast("string").alias("text"))
    )


def split_concatenated_xml(spark: SparkSession, path: str) -> DataFrame:
    """S10: split files containing N concatenated XML documents into one row
    per document: ``(path, doc_index, xml)``.

    The reference splits on lines starting ``<?xml`` (02/split_data.py:28-35);
    a lookahead split does the same without materializing line state.
    """
    files = read_file_contents(spark, path)
    docs = F.filter(
        F.split(F.col("text"), r"(?=<\?xml)"), lambda d: F.trim(d) != ""
    )
    return files.select(
        "path", F.posexplode(docs).alias("doc_index", "xml")
    )


def read_xml_rows(
    docs: DataFrame,
    xml_col: str,
    extractor: Callable[[Any], list[dict[str, Any]]],
    schema: str,
) -> DataFrame:
    """S9: parse each XML document and emit ``extractor(root)`` rows.

    ``extractor`` receives an ``ElementTree`` root Element and returns a list
    of plain dicts matching ``schema``.  Runs Arrow-batched; one parse per
    document, constant memory per task.
    """

    def parse(xml):
        return extractor(ET.fromstring(xml))

    return map_rows(docs, [xml_col], parse, schema)
