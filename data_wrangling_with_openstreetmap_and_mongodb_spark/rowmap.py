"""The one Arrow-batched row map behind every per-document Python stage.

Codec decode, scraping, XML shaping and page fetches all run the same
shape: project a few columns, call a plain Python function per input row,
and emit 0, 1 or N output rows.  :func:`map_rows` is that shape, once.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

RowFn = Callable[..., Iterable[dict[str, Any]]]


def map_rows(
    df: DataFrame, cols: list[str], row_fn: RowFn, schema: StructType | str
) -> DataFrame:
    """Project ``cols`` and emit ``row_fn(*values)``'s row dicts per input row.

    ``row_fn`` gets one positional value per column of ``cols`` and returns
    an iterable of dicts matching ``schema``: none to skip the row, one for
    a 1→1 map, several for a 1→N map; output keeps input order.  The plan
    is Project → MapInPandas: map-only, no exchange, partitioning kept.  A
    batch that produced no rows yields no frame."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for values in zip(*(pdf[c] for c in cols)):
                out.extend(row_fn(*values))
            if out:
                yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(run, schema=schema)
