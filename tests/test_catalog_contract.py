"""Catalog-contract invariants: the queries()/oracle_sql() surface the
correctness driver consumes stays internally consistent."""

from __future__ import annotations

import __spark_entry__ as entry_mod

from recommendation_translation_spark.queries import (
    DRIVER_WINDOW,
    FAMILIES,
    ORACLES,
    QUERIES,
)

# The ONLY queries allowed to lack a DuckDB oracle (rows-only checks);
# every one needs a reason.  Growing this set silently weakens the
# correctness gate, so additions must edit this file.
#
# EMPTY since round 6: the last seven rows-only ML queries graduated
# to hash-checked relations via the round-5 sketch pattern — each
# emits an exact deterministic skeleton (row counts, grids, id sets
# the oracle recomputes in SQL) plus invariant flags on the model
# internals that the oracle pins as TRUE literals.  Training still
# runs for real inside each query; what changed is that its outcome
# now has a hash signal.  History of earlier graduations:
# dedup_clusters (r4, recursive-CTE transitive closure),
# events_approx_stats / events_sketch_stats / events_hll_merge /
# doc_heavy_hitters (r5, exact twins + deterministic error-bound
# flags).
ROWS_ONLY: dict[str, str] = {}


def test_every_query_has_oracle_or_documented_reason():
    missing = set(QUERIES) - set(ORACLES)
    assert missing == set(ROWS_ONLY), (
        f"undocumented rows-only queries: {missing - set(ROWS_ONLY)}; "
        f"stale ROWS_ONLY entries: {set(ROWS_ONLY) - missing}"
    )


def test_no_orphan_oracles():
    assert set(ORACLES) <= set(QUERIES)


def test_entry_module_exposes_catalog():
    assert entry_mod.queries().keys() == QUERIES.keys()
    assert entry_mod.oracle_sql().keys() == ORACLES.keys()


def test_registry_is_the_disjoint_union_of_its_families():
    """Every row belongs to exactly one family: the registry merges the
    family dicts, so a name two families define would silently keep
    only one of the two rows."""
    for kind, merged in (("QUERIES", QUERIES), ("ORACLES", ORACLES)):
        seen: dict[str, str] = {}
        for fam in FAMILIES:
            for name in getattr(fam, kind):
                assert name not in seen, (
                    f"{kind} row {name!r} in {seen.get(name)} and {fam.__name__}"
                )
                seen[name] = fam.__name__
        assert seen.keys() == merged.keys()


def test_driver_window_leads_the_catalog():
    """The external correctness driver records the first 50 rows of
    ``queries()``: they are the declared window, in order."""
    assert len(DRIVER_WINDOW) == len(set(DRIVER_WINDOW)) == 50
    assert list(entry_mod.queries())[:50] == DRIVER_WINDOW


def test_every_query_has_a_baseline_anchor():
    """The 2x bench guard is only meaningful if every catalog query has
    a BASELINE.md anchor row (the judge verifies exactly this); parse
    with the same regex bench.py uses so the two cannot drift."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    anchors = bench._baseline_map()
    missing = set(QUERIES) - set(anchors)
    assert not missing, f"queries with no BASELINE.md row: {sorted(missing)}"
    # and no anchor names a query that doesn't exist (typo guard)
    orphans = set(anchors) - set(QUERIES)
    assert not orphans, f"BASELINE.md rows naming no catalog query: {sorted(orphans)}"


def test_sf1_fence_panel_queries_exist():
    """A panel row naming a renamed/removed query only surfaces at
    fence runtime (as a violation); catch it statically."""
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_SF1_BASELINE.json")) as fh:
        panel = json.load(fh)["queries"]
    missing = set(panel) - set(QUERIES)
    assert not missing, f"fence panel rows naming no catalog query: {sorted(missing)}"
