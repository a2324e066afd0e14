"""HTML scraping sources (SURVEY.md §2.1 S11–S12) on the Python stdlib.

The reference uses BeautifulSoup (02/process.py:41-76, 02/carriers.py:16-25);
bs4 isn't a baked-in dependency here, so the extractors run on
``html.parser.HTMLParser`` — no new deps, same semantics.  Parsing is one
per-file function under
:func:`~data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap.map_rows`
(Arrow-batched, map-only); the file-key join (J3: courier/airport from the
filename) is pure Column algebra over ``path``.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap import map_rows
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.xmlx import (
    read_file_contents,
)


class _TableParser(HTMLParser):
    """Collect rows of every <table> whose class matches (S12)."""

    def __init__(self, table_class: str | None):
        super().__init__(convert_charrefs=True)
        self.table_class = table_class
        self.in_table = False
        self.in_cell = False
        self.rows: list[list[str]] = []
        self._row: list[str] = []
        self._cell: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "table" and (
            self.table_class is None or a.get("class", "") == self.table_class
        ):
            self.in_table = True
        elif self.in_table and tag == "tr":
            self._row = []
        elif self.in_table and tag in ("td", "th"):
            self.in_cell = True
            self._cell = []

    def handle_endtag(self, tag):
        if tag == "table":
            self.in_table = False
        elif self.in_table and tag == "tr":
            if self._row:
                self.rows.append(self._row)
        elif self.in_table and tag in ("td", "th"):
            self.in_cell = False
            self._row.append("".join(self._cell).strip())

    def handle_data(self, data):
        if self.in_cell:
            self._cell.append(data)


class _OptionParser(HTMLParser):
    """Collect <option value=...> under a given select id (S11,
    02/carriers.py:16-25)."""

    def __init__(self, select_id: str):
        super().__init__(convert_charrefs=True)
        self.select_id = select_id
        self.in_select = False
        self.values: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "select":
            self.in_select = a.get("id") == self.select_id
        elif tag == "option" and self.in_select and "value" in a:
            self.values.append(a["value"])

    def handle_endtag(self, tag):
        if tag == "select":
            self.in_select = False


def scrape_tables(
    spark: SparkSession, path: str, table_class: str | None = None
) -> DataFrame:
    """S12: HTML table rows → ``(path, row_index, cells array<string>)``.

    Type casts / row filters (skip TOTAL, comma-int parse) stay in Column
    space downstream (02/process.py:41-76; C11).
    """
    files = read_file_contents(spark, path)

    def parse(p, text):
        tp = _TableParser(table_class)
        tp.feed(text)
        return (
            {"path": p, "row_index": i, "cells": row}
            for i, row in enumerate(tp.rows)
        )

    schema = "path string, row_index int, cells array<string>"
    return map_rows(files, ["path", "text"], parse, schema)


def scrape_options(spark: SparkSession, path: str, select_id: str) -> DataFrame:
    """S11: <option> values of a <select> → ``(path, value)``; prefix filters
    (exclude 'All…') compose downstream (02/carriers.py:23, P10)."""
    files = read_file_contents(spark, path)

    def parse(p, text):
        op = _OptionParser(select_id)
        op.feed(text)
        return ({"path": p, "value": v} for v in op.values)

    return map_rows(files, ["path", "text"], parse, "path string, value string")


def file_key_columns(df: DataFrame, pattern: str, names: list[str]) -> DataFrame:
    """J3: derive join-by-construction key columns from the file path, e.g.
    ``FL-ATL.html`` → courier=FL, airport=ATL (02/process.py:58,69-74)."""
    out = df
    for i, name in enumerate(names, start=1):
        out = out.withColumn(name, F.regexp_extract(F.col("path"), pattern, i))
    return out
