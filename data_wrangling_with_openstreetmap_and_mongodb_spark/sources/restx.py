"""Paginated REST source (SURVEY.md §2.1 S15–S16).

The reference loops offset-paged GETs on the driver (01/nytimes.py:51-96,
01/musicbrainz.py:17-30) and stream-downloads files in chunks
(README.md:55-64).  Spark-first rendering:

- :func:`fetch_paged` — the faithful driver-side loop for small result sets
  (it is I/O against one API endpoint; distribution buys nothing below rate
  limits), returning a DataFrame.
- :func:`fetch_pages_distributed` — page fan-out via
  :func:`~data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap.map_rows`
  over an offsets DataFrame: each task fetches its page range, so ingest
  scales with executors up to the API's rate limit.  The page fetcher is
  injected as a plain callable, which also makes the operator testable
  without a network.

Both are transport-agnostic: the default HTTP fetcher is gated behind a
``requests`` import-try and never imported at module load.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_wrangling_with_openstreetmap_and_mongodb_spark.rowmap import map_rows

PageFetcher = Callable[[int, int], list[dict[str, Any]]]
"""(offset, limit) → list of record dicts; empty list = past the end."""


def http_json_fetcher(
    url_template: str, results_key: str | None = None
) -> PageFetcher:
    """Offset-paged HTTP JSON fetcher, e.g.
    ``http_json_fetcher("https://api/x?offset={offset}&limit={limit}")``.
    Gated: raises ImportError without the requests library."""

    def fetch(offset: int, limit: int) -> list[dict[str, Any]]:
        try:
            import requests
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError("REST source needs the requests library") from exc
        resp = requests.get(url_template.format(offset=offset, limit=limit), timeout=30)
        resp.raise_for_status()
        doc = resp.json()
        return doc[results_key] if results_key else doc

    return fetch


def fetch_paged(
    spark: SparkSession,
    fetcher: PageFetcher,
    page_size: int = 20,
    max_pages: int = 100,
) -> DataFrame:
    """S15 driver-side loop: accumulate pages until an empty page, like the
    reference's NYT pagination (01/nytimes.py:51-96)."""
    rows: list[dict[str, Any]] = []
    for page in range(max_pages):
        batch = fetcher(page * page_size, page_size)
        if not batch:
            break
        rows.extend(batch)
    return spark.createDataFrame(rows) if rows else spark.createDataFrame([], "id string")


def fetch_pages_distributed(
    spark: SparkSession,
    fetcher: PageFetcher,
    n_pages: int,
    page_size: int,
    schema: str,
) -> DataFrame:
    """S15 at scale: one task per page range, Arrow-batched.

    ``fetcher`` must be picklable (top-level function or closure over plain
    values) — it runs on executors."""
    offsets = spark.range(n_pages).selectExpr(f"id * {page_size} AS offset")

    def page(off):
        return fetcher(int(off), page_size)

    return map_rows(offsets, ["offset"], page, schema)


ChunkStream = Callable[[str, int], Iterator[bytes]]
"""(url, chunk_size) → iterator of byte chunks (the injectable transport)."""


def _http_chunk_stream(url: str, chunk_size: int) -> Iterator[bytes]:
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError("download needs the requests library") from exc
    with requests.get(url, stream=True, timeout=60) as r:
        r.raise_for_status()
        yield from r.iter_content(chunk_size)


def download_to_file(
    url: str,
    path: str,
    chunk_size: int = 1024,
    transport: ChunkStream = _http_chunk_stream,
) -> int:
    """S16: chunked streaming download (README.md:55-64) — a driver-side
    pre-step, not a Spark op.  Constant memory: one chunk in flight.  The
    transport is injectable (same pattern as the page fetcher), so the
    chunk-loop contract tests without a network; returns bytes written."""
    written = 0
    with open(path, "wb") as f:
        for chunk in transport(url, chunk_size):
            f.write(chunk)
            written += len(chunk)
    return written
