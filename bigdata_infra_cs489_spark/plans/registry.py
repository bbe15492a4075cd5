"""Driver contract assembly: queries() and oracle_sql().

Every operator family module contributes (name -> callable) and
(name -> DuckDB oracle SQL). A missing oracle entry means the op is not
SQL-expressible (iterative PPR, sequential SGD, streaming) and the driver
records a weaker rows-only check — keep that set minimal.

Conventions that keep the cross-engine value hash stable:
- identical output column names on both sides (driver sorts columns by name);
- doubles rounded (money 2dp, ratios 4dp) on both sides; exact integer
  ratios finish with the tie-stable fixed-point forms (floor-round,
  integer ppm), whose Spark column and DuckDB SQL twin both come from
  functions/numerics.py, the one owner of both engines' finishes;
- timestamps rendered as 'yyyy-MM-dd' / 'yyyy-MM' strings on both sides;
- top-k queries carry deterministic tie-break orderings on both sides.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    if name in _QUERIES:
        raise ValueError(f"duplicate query name {name!r}")
    _QUERIES[name] = fn
    if oracle is not None:
        _ORACLES[name] = oracle


# The driver checks the first 50 entries of queries() against their
# oracles each round and records the results in CORRECTNESS_r{N}.json at
# the repo root. Ordering by each name's latest row in that ledger,
# oldest first, keeps every query's last check as recent as 50 slots a
# round allow.
def read_ledger() -> dict[str, int]:
    """name -> the latest round N whose CORRECTNESS_rN.json holds a row for it."""
    latest: dict[str, int] = {}
    for p in Path(__file__).resolve().parents[2].glob("CORRECTNESS_r*.json"):
        rnd = int(p.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(p.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def driver_order(names: Iterable[str], latest: dict[str, int]) -> list[str]:
    """Oldest driver row first; never-checked names count as round 0;
    ties break alphabetically."""
    return sorted(names, key=lambda n: (latest.get(n, 0), n))


def queries() -> dict[str, QueryFn]:
    _load_all()
    return {n: _QUERIES[n] for n in driver_order(_QUERIES, _LATEST)}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {n: _ORACLES[n] for n in driver_order(_ORACLES, _LATEST)}


_LOADED = False
_LATEST: dict[str, int] = {}


def _load_all() -> None:
    """Import every operator module for its registration side effects
    and read the driver ledger once."""
    global _LOADED
    if _LOADED:
        return
    from . import catalog  # noqa: F401

    _LATEST.update(read_ledger())
    _LOADED = True
