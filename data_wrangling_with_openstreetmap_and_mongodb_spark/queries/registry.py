"""Registry for the query catalog wired into ``__spark_entry__.py``.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable plus, when
SQL-expressible, the equivalent ANSI SQL for the DuckDB oracle.  Column names
must match exactly between the two (the driver hash-compares after sorting
columns by name), so every computed column is aliased identically on both
sides.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    driver_visible: bool = True
    # Rounds in which the EXTERNAL driver independently verified this query
    # (green CORRECTNESS_r{N}.json row: rows + schema + hash, no error).
    # Populated from the committed artifacts by annotate_verified_rounds();
    # () means gate-only so far.  tests/test_driver_contract.py asserts every
    # operator family (tag) holds at least one ever-driver-verified or
    # currently-scheduled member, so provenance debt is an explicit,
    # shrinking exemption list instead of a per-round negotiation.
    verified_rounds: tuple[int, ...] = field(default_factory=tuple)


QUERIES: dict[str, Query] = {}

# The external driver hash-checks at most this many queries per round; the
# catalog keeps every query in the local parity gate (tests/test_oracle_parity)
# but exposes only `driver_visible` ones through __spark_entry__, near-duplicate
# shapes hidden so every exposed query receives a correctness row.
DRIVER_WINDOW = 50


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator: add a query to the catalog."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:  # pragma: no cover - programming error guard
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=doc,
            tags=tags,
        )
        return fn

    return deco


def driver_verified_rounds(root: str | None = None) -> dict[str, list[int]]:
    """Per-query list of rounds with a green external-driver correctness row,
    read from the committed ``CORRECTNESS_r{N}.json`` artifacts at the repo
    root (a green row = rows_match + schema_match + hash_match-or-absent,
    no err).  The artifacts are the driver's ground truth — nothing here is
    self-reported."""
    import glob
    import json
    import os
    import re

    if root is None:
        # registry.py lives at <repo>/<package>/queries/registry.py
        # registry.py → queries/ → <package>/ → <repo root>
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    out: dict[str, list[int]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            # malformed artifact (e.g. top-level list) — skip it like an
            # unreadable one instead of raising at rows.items()
            continue
        for name, row in rows.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") in (True, None)
            ):
                out.setdefault(name, []).append(rnd)
    return out


def annotate_verified_rounds(root: str | None = None) -> None:
    """Stamp ``Query.verified_rounds`` from the committed driver artifacts."""
    rounds = driver_verified_rounds(root)
    for q in QUERIES.values():
        q.verified_rounds = tuple(rounds.get(q.name, ()))


# ---------------------------------------------------------------------------
# Post-residual rotation policy: PROVENANCE FRESHNESS (r15, VERDICT r14
# ask #2).  Through r14 rotation burned down the never-driver-verified
# residual (51 → 33 → 17 → 0); with every catalog query now carrying at
# least one green external-driver row, the scheduling rule becomes
# oldest-green-round-first: each round the DRIVER_WINDOW slots go to the
# queries whose LATEST green driver row is oldest.  Never-verified queries
# (new this round) have latest=0, so they sort first — the standing
# "novel operator families are driver-visible from birth" rule is a
# corollary of the ordering, not a separate pin.  Ties break by name for
# determinism.
#
# ROTATION_HORIZON freezes which artifacts the selection may read: the
# driver writes CORRECTNESS_r{N}.json for the CURRENT round into the repo
# root before round close, and an unhorizoned selection would rotate the
# window mid-round the moment that file lands (the just-verified 50 become
# freshest and self-evict).  Bump it by one at the start of each round —
# the only manual step left in rotation.
# ---------------------------------------------------------------------------
ROTATION_HORIZON = 15


def latest_green_round(name: str, rounds: dict[str, list[int]]) -> int:
    """Latest green external-driver round ≤ ROTATION_HORIZON (0 = never)."""
    return max((r for r in rounds.get(name, ()) if r <= ROTATION_HORIZON), default=0)


def rotation_order(root: str | None = None) -> list[str]:
    """All catalog queries, oldest provenance first (the window is a prefix)."""
    rounds = driver_verified_rounds(root)
    return sorted(QUERIES, key=lambda n: (latest_green_round(n, rounds), n))


def apply_rotation_policy(root: str | None = None) -> set[str]:
    """Stamp ``Query.driver_visible`` from the committed driver artifacts:
    the DRIVER_WINDOW oldest-provenance queries are visible, everything
    else is hidden (but stays in the local sf0.01 oracle-parity gate).
    Called at package import (queries/__init__.py), so the window follows
    the artifacts with no per-query flag edits."""
    selected = set(rotation_order(root)[:DRIVER_WINDOW])
    for q in QUERIES.values():
        q.driver_visible = q.name in selected
    return selected


def driver_catalog() -> dict[str, Query]:
    """The ≤DRIVER_WINDOW queries exposed to the external driver, oracle-bearing
    first so every hash-checkable query lands inside the correctness window.

    Raises rather than truncates when more than DRIVER_WINDOW queries are
    marked visible: a silent cut would push the tail queries out of the
    correctness window, leaving them registered-but-never-verified.
    """
    visible = [q for q in QUERIES.values() if q.driver_visible]
    if len(visible) > DRIVER_WINDOW:
        over = [q.name for q in visible[DRIVER_WINDOW:]]
        raise ValueError(
            f"{len(visible)} driver_visible queries exceed DRIVER_WINDOW="
            f"{DRIVER_WINDOW}; hide {len(over)} (would be evicted: {over})"
        )
    ordered = [q for q in visible if q.oracle is not None] + [
        q for q in visible if q.oracle is None
    ]
    return {q.name: q for q in ordered}
