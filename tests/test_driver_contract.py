"""Driver-contract invariants: the external verifier hash-checks at most the
first DRIVER_WINDOW queries of __spark_entry__.queries(), crashes on
non-scalar output columns, and needs matching column names between Spark and
oracle sides.  These tests keep the catalog shaped so every exposed query
actually receives a correctness row (the round-1 failure mode: 7 queries
past the window got none)."""

from __future__ import annotations

import re

from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES
from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.registry import (
    DRIVER_WINDOW,
    ROTATION_HORIZON,
    driver_catalog,
    driver_verified_rounds,
    latest_green_round,
)


def test_driver_catalog_fits_window_oracles_first():
    dc = driver_catalog()
    assert len(dc) <= DRIVER_WINDOW
    kinds = [q.oracle is not None for q in dc.values()]
    # all oracle-bearing queries precede every rows-only query
    assert kinds == sorted(kinds, reverse=True)
    # no silent truncation: every driver_visible query actually made the
    # catalog (driver_catalog raises past the window, but pin it here too)
    visible = {q.name for q in QUERIES.values() if q.driver_visible}
    assert visible == set(dc), visible.symmetric_difference(dc)


def _expected_window() -> set[str]:
    """The rotation policy, re-derived independently of registry code: read
    the committed CORRECTNESS artifacts, take each query's latest green
    round <= ROTATION_HORIZON (0 = never verified), sort by (latest, name),
    select the first DRIVER_WINDOW."""
    rounds = driver_verified_rounds()
    order = sorted(
        QUERIES, key=lambda n: (latest_green_round(n, rounds), n)
    )
    return set(order[:DRIVER_WINDOW])


def test_rotation_policy_selects_oldest_provenance():
    """r15 provenance-freshness policy (VERDICT r14 ask #2): with the
    never-driver-verified residual at 0, the window re-seats the queries
    whose latest green driver row is OLDEST — recomputed here from the
    artifacts, so the test follows the policy, not a name list."""
    assert set(driver_catalog()) == _expected_window()


def test_new_queries_are_driver_visible_from_birth():
    """Queries with no green row at all sort before every verified one
    (latest=0), so the standing born-visible rule for novel operator
    families is a corollary of the ordering — provided new-query count
    stays under the window, which this pins."""
    rounds = driver_verified_rounds()
    never = {
        n for n in QUERIES if latest_green_round(n, rounds) == 0
    }
    assert len(never) <= DRIVER_WINDOW, (
        f"{len(never)} unverified queries exceed the {DRIVER_WINDOW}-slot "
        f"window — some would be born invisible"
    )
    dc = set(driver_catalog())
    assert never <= dc, never - dc


def test_rotation_horizon_tracks_artifacts():
    """ROTATION_HORIZON must cover every committed artifact round except,
    at most, the in-flight round (the driver drops the current round's
    CORRECTNESS file before close; an unhorizoned selection would
    self-evict the window mid-round).  Lagging further means someone
    forgot the per-round bump."""
    committed = {r for rs in driver_verified_rounds().values() for r in rs}
    assert committed, "no CORRECTNESS artifacts found at repo root"
    assert max(committed) - 1 <= ROTATION_HORIZON <= max(committed)


def test_every_registered_query_is_verified_somewhere():
    # driver-hidden queries must still carry an oracle for the local gate.
    # Oracle-less queries (engine-private sketches) need either a driver
    # rows-check (visible) or a dedicated accuracy pytest, listed here so the
    # exemption is explicit and auditable.
    # EMPTY since r13: approx_distinct_users (the one structurally
    # oracle-less query) gained a bounds-style oracle — exact counts plus a
    # TRUE-asserted approx_within_5pct column — so the registry has no
    # permanently-unverifiable entries left (VERDICT r12 ask #6).
    ACCURACY_PINNED: set[str] = set()
    for q in QUERIES.values():
        if q.oracle is None:
            assert q.driver_visible or q.name in ACCURACY_PINNED, (
                f"{q.name}: rows-only AND driver-hidden = completely unverified"
            )


def test_oracle_sql_references_known_tables_only():
    tables = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for q in QUERIES.values():
        if q.oracle is None:
            continue
        # (?<!DISTINCT\s): `x IS DISTINCT FROM y` is an operator, not a scan
        for m in re.finditer(
            r"\b(?:(?<!DISTINCT\s)FROM|JOIN)\s+([a-z_][a-z0-9_]*)\b", q.oracle
        ):
            name = m.group(1)
            # anything not a pre-registered view must be a CTE defined inline
            # (``name AS (``, or ``name AS [NOT] MATERIALIZED (``)
            if name not in tables:
                cte = rf"\b{name}\s*(?:\([^)]*\))?\s+AS\s*(?:(?:NOT\s+)?MATERIALIZED\s*)?\("
                assert re.search(cte, q.oracle, re.I), (
                    f"{q.name}: oracle references unknown relation {name!r}"
                )


def test_no_oracle_emits_hugeint_columns(duck):
    """DuckDB SUM(int) yields HUGEINT (int128); pandas-based comparators
    surface it as float64 ('10' vs '10.0') and hash-mismatch Spark's longs.
    Every integer aggregate in an oracle must CAST to BIGINT.  (Found live:
    pii_redaction_audit and pack_training_sequences would have failed the
    driver's strict hash despite passing the tolerant local gate.)"""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES

    offenders = {}
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        rel = duck.sql(q.oracle)
        hug = [
            c
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT", "INT128")
        ]
        if hug:
            offenders[name] = hug
    assert not offenders, offenders


def test_no_oracle_emits_nested_columns(duck):
    """The driver canonicalizes results with pandas ``sort_values`` over raw
    cells, and list/struct/map cells are unhashable under pandas' lexsort —
    an array-typed output column ERRORS the driver row even when values are
    hash-identical (found live: ds_minmax_topn, the r13 red row).  Every
    catalog query must join nested outputs to strings (the
    ds_window_topn_median pattern) on BOTH sides; oracle-side types are the
    cheap proxy since the gate asserts schema parity."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries import QUERIES

    offenders = {}
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        rel = duck.sql(q.oracle)
        nested = [
            c
            for c, t in zip(rel.columns, rel.types)
            if "[]" in str(t) or str(t).startswith(("STRUCT", "MAP", "LIST"))
        ]
        if nested:
            offenders[name] = nested
    assert not offenders, offenders


# Tag families with no ever-driver-verified member yet (r10 snapshot): each
# line is explicit provenance DEBT — a future rotation pays it down by making
# one member driver-visible, then DELETING the line once its green row lands.
# Adding a NEW tag to the catalog without either a driver-visible member or
# an entry here fails test_every_tag_family_has_driver_provenance, so the
# invariant is permanent (VERDICT r9 ask #7), not a per-round negotiation.
# EMPTY since round 11 — the ledger is fully paid down.  The r11 first
# wave (VERDICT r10 ask #1) rotated in bucket (ds_bucket_balances),
# densify (ds_densify_monthly), funnel (funnel_view_click_purchase),
# normalize (unicode_normalization_audit), range (event_pairs_within_30min),
# rate (ds_window_integral), redact (ds_redact_nested), retention
# (weekly_retention_cohorts), sampling (mixture_sampled_counts); the second
# wave closed the remaining eight: dates+expr (ds_date_parts), diff
# (orders_snapshot_diff), eval (ann_recall_at_k), hof+expr
# (ds_expr_embedding_stats), incremental (dedup_incremental_minhash),
# pipeline (corpus_pipeline_audit), quantization (embedding_int8_stats).
# Every operator family now has either a green external-driver row or a
# currently-scheduled member; adding a NEW tag without one fails the
# provenance test below, so any future entry here is a conscious,
# documented debt.  (`set()`, not `{}` — a brace literal with only
# comments is an empty DICT.)
GATE_ONLY_TAGS: set[str] = set()


def test_every_tag_family_has_driver_provenance():
    """Every operator family (tag) must hold >=1 member that EITHER has a
    green external-driver row in a committed CORRECTNESS artifact OR is
    driver-visible right now (scheduled for one this round) — unless the
    family is explicitly listed as gate-only debt above."""
    from data_wrangling_with_openstreetmap_and_mongodb_spark.queries.registry import (
        annotate_verified_rounds,
    )

    annotate_verified_rounds()
    by_tag: dict[str, list] = {}
    for q in QUERIES.values():
        for t in q.tags:
            by_tag.setdefault(t, []).append(q)
    dc = driver_catalog()
    unproven = sorted(
        t
        for t, qs in by_tag.items()
        if not any(q.verified_rounds or q.name in dc for q in qs)
    )
    assert unproven == sorted(
        t for t in unproven if t in GATE_ONLY_TAGS
    ), f"tags with no driver provenance and no exemption: "\
       f"{[t for t in unproven if t not in GATE_ONLY_TAGS]}"
    # the exemption list may only SHRINK: a tag that gained provenance must
    # drop off the list (keeps the debt ledger honest)
    stale = sorted(
        t
        for t in GATE_ONLY_TAGS
        if t in by_tag
        and any(q.verified_rounds for q in by_tag[t])
    )
    assert not stale, f"GATE_ONLY_TAGS entries now verified — delete: {stale}"
    # and every listed tag must still exist in the catalog
    ghost = sorted(t for t in GATE_ONLY_TAGS if t not in by_tag)
    assert not ghost, f"GATE_ONLY_TAGS entries for nonexistent tags: {ghost}"


def test_full_catalog_has_driver_provenance_modulo_new():
    """The r14 milestone, kept as an invariant: every query has held a green
    external-driver row, except queries born after the horizon (which the
    policy seats in the current window).  A query that is BOTH unverified
    and outside the window would regress to round-1's silent-residual
    failure mode."""
    rounds = driver_verified_rounds()
    dc = set(driver_catalog())
    orphans = [
        n
        for n in QUERIES
        if latest_green_round(n, rounds) == 0 and n not in dc
    ]
    assert not orphans, orphans
