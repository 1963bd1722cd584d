"""Executable guard on the driver's bounded correctness window.

The external driver hash-compares only the FIRST ``DRIVER_WINDOW`` (50)
registry entries against their DuckDB oracles.  The registry keeps the
window saturated with oracle-backed queries via the ``_DEMOTED`` list;
until round 5 that invariant lived only in a CLAUDE.md note, so the next
oracle-backed addition would SILENTLY evict a green row (the round-3 bug
class).  These tests make that failure loud: adding an oracle without a
matching demotion — or demoting one too many — fails here, not in the
driver's CORRECTNESS report.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_sql_duckdb_parquet__spark.queries.registry import (  # noqa: E402
    DRIVER_WINDOW,
    ORACLES,
    REGISTRY,
    _DEMOTED,
)


def test_promoted_oracle_queries_exactly_fill_the_window():
    promoted = [q for q in ORACLES if q not in _DEMOTED]
    assert len(promoted) == DRIVER_WINDOW, (
        f"{len(promoted)} non-demoted queries for "
        f"{DRIVER_WINDOW} driver slots — "
        + (
            "demote a §2-redundant query in registry._DEMOTED"
            if len(promoted) > DRIVER_WINDOW
            else "promote one back (or add an oracle) to keep the window "
            "fully green-able"
        )
    )


def test_window_holds_exactly_the_promoted_set():
    promoted = {q for q in ORACLES if q not in _DEMOTED}
    window = list(REGISTRY)[:DRIVER_WINDOW]
    assert set(window) == promoted, (
        "driver window drifted from the promoted oracle-backed set: "
        f"missing={sorted(promoted - set(window))}, "
        f"unexpected={sorted(set(window) - promoted)}"
    )


def test_demoted_entries_are_real_oracle_backed_queries():
    for name in _DEMOTED:
        assert name in ORACLES and name in REGISTRY, (
            f"_DEMOTED entry {name!r} is not an oracle-backed registry "
            "query — stale demotion"
        )


def test_every_query_has_an_oracle():
    """The driver value-checks only queries with a DuckDB oracle; a query
    without one would get a rows-only check, which proves nothing."""
    assert set(REGISTRY) == set(ORACLES)
