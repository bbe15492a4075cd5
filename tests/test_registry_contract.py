"""Driver-contract invariants on the registry itself."""

from __future__ import annotations

import math

from bigdata_infra_cs489_spark.plans import registry

# Rounds in which the driver ran but NO window rotation executed (the
# driver re-checked the previous round's 50 queries verbatim, so the
# round contributed zero new rotation capacity). Round 11 was such a
# round. A query whose lag-5 deadline spans a missed round gets its
# deadline extended by exactly the missed rounds in that span: with only
# 50 driver slots per round the original deadline became unsatisfiable
# the moment the rotation was skipped, and silently relaxing the bound
# for everyone would also excuse FUTURE skipped rotations — this pinned
# set excuses only the documented one.
_MISSED_ROTATIONS = frozenset({11})


def test_every_query_has_oracle():
    """The whole registry is value-oracled — any rows-only entry must be
    a deliberate, documented exception (there are currently none)."""
    qs, os_ = registry.queries(), registry.oracle_sql()
    assert set(qs) == set(os_)
    assert list(qs) == list(os_)


def test_driver_order_oldest_first_alphabetical_ties():
    latest = {"alpha": 9, "beta": 3, "delta": 3, "retired": 1}
    names = ["alpha", "zeta", "delta", "gamma", "beta"]
    assert registry.driver_order(names, latest) == [
        "gamma",  # never checked: round 0, ties broken alphabetically
        "zeta",
        "beta",  # oldest row, tie with delta broken alphabetically
        "delta",
        "alpha",
    ]


def _next_window() -> tuple[dict[str, int], dict, set[str]]:
    """Ledger, registered queries and the next driver round's window (the
    first 50 queries())."""
    qs = registry.queries()
    return registry.read_ledger(), qs, set(list(qs)[:50])


def test_every_query_driver_checked_or_windowed():
    """Every registered query that was never driver-checked must sit in
    the next driver round's window, or a registration would silently wait
    unverified."""
    latest, qs, window = _next_window()
    never = [n for n in qs if n not in latest and n not in window]
    assert never == [], f"never driver-checked and not in the next window: {never}"


def test_stale_driver_rows_rotate_oldest_first():
    """Every query whose latest driver row would pass its staleness
    deadline if the next driver round skipped it must sit in that round's
    window.

    The lag bound derives from registry size because it is the tightest
    SATISFIABLE one: the driver refreshes exactly 50 queries per round,
    so a full rotation of N registered queries takes ceil(N/50) rounds
    (floor 4 keeps the historical bound while N <= 200)."""
    latest, qs, window = _next_window()
    upcoming = max(latest.values(), default=0) + 1
    lag_bound = max(4, math.ceil(len(qs) / 50))

    def deadline(r: int) -> int:
        """Round by which a query with latest row r must be re-checked:
        r + bound, pushed back one round per documented missed rotation
        inside that span."""
        d = r + lag_bound
        d += sum(1 for m in _MISSED_ROTATIONS if r < m <= d)
        return d

    due = [
        n for n in qs if n in latest and deadline(latest[n]) <= upcoming and n not in window
    ]
    assert due == [], (
        f"driver rows at their round-{upcoming} deadline but not in the next window"
        f" (bound {lag_bound} for {len(qs)} queries,"
        f" missed rotations {sorted(_MISSED_ROTATIONS)}): {due}"
    )


_CLOSURE_STEP = "SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"


def test_near_dup_closure_written_once():
    """The recursive near-dup closure is one fragment in catalog.py, and
    every oracle that clusters the pair set is built from it."""
    import inspect

    from bigdata_infra_cs489_spark.plans import catalog

    assert inspect.getsource(catalog).count(_CLOSURE_STEP) == 1
    users = [n for n, sql in registry.oracle_sql().items() if _CLOSURE_STEP in sql]
    assert len(users) == 13, sorted(users)
