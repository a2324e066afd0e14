"""Byte-range fan-out shared by the splittable file readers (OSM XML, Avro).

A reader cuts its files into ``(path, start, end, size)`` ranges and hands
:func:`map_ranges` a per-range parse that re-aligns to the format's own
record boundaries (XML element opens, Avro sync markers).  Each range is
one partition of ``spark.range(0, n, 1, n)``: no shuffle reaches the
parse, and a single range is a ``SinglePartition`` plan, so a downstream
aggregate needs no exchange either.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ByteRange = tuple[str, int, int, int]  # (path, start, end, size)


def file_ranges(files: list[str], split_bytes: int) -> list[ByteRange]:
    """Ranges of at most ``split_bytes`` over each file, in file then offset
    order; an empty file still gets one (empty) range."""
    ranges = []
    for path in files:
        size = os.path.getsize(path)
        for start in range(0, max(size, 1), split_bytes):
            ranges.append((path, start, min(start + split_bytes, size), size))
    return ranges


def map_ranges(
    spark: SparkSession,
    ranges: list[ByteRange],
    parse: Callable[[str, int, int, int], Iterator[pd.DataFrame]],
    schema: StructType | str,
) -> DataFrame:
    """One task per range, running ``parse(path, start, end, size)`` under
    ``mapInPandas``; it yields the range's rows as frames of ``schema``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                yield from parse(*ranges[i])

    n = len(ranges)
    return spark.range(0, n, 1, n).mapInPandas(run, schema=schema)
