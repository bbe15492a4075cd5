"""Every oracle's DuckDB result schema must be pandas-portable.

Round-3 postmortem: all five driver-red hash rows (and six never-checked
queries that would have gone red once rotated into the driver window)
had oracle output columns of type HUGEINT — DuckDB widens `sum(INTEGER)`
to int128, which `fetchall()` converts to a lossless Python int (local
harness: green) but `.df()`/pandas converts to float64 on duckdb 1.0
(driver canonicalizer: `178.0` vs Spark's `178` -> hash-red). This test
binds (without executing) every registered oracle and fails if any
output column has a type whose pandas conversion is version-dependent.
"""

from __future__ import annotations

import pytest

from bigdata_infra_cs489_spark.plans import registry
from tests.oracle import duck_connection, fragile_duck_columns

SF_DIR = "/root/testdata/sf0.001"


def test_no_fragile_oracle_output_types():
    oracles = registry.oracle_sql()
    con = duck_connection(SF_DIR)
    bad = {}
    try:
        for name, sql in oracles.items():
            try:
                fragile = fragile_duck_columns(con, sql)
            except Exception as exc:  # binding error = separate failure
                bad[name] = f"bind error: {exc}"
                continue
            if fragile:
                bad[name] = fragile
    finally:
        con.close()
    assert not bad, f"oracles with pandas-fragile output columns: {bad}"


def test_fragile_detector_catches_hugeint():
    con = duck_connection(SF_DIR)
    try:
        fragile = fragile_duck_columns(
            con, "SELECT sum(r_regionkey) AS s FROM region"
        )
        assert fragile == [("s", "HUGEINT")]
        assert not fragile_duck_columns(
            con, "SELECT CAST(sum(r_regionkey) AS BIGINT) AS s FROM region"
        )
    finally:
        con.close()


def test_duck_connection_removes_its_spill_dir():
    """Each connection's private spill dir goes with the connection."""
    import gc
    import os

    con = duck_connection(SF_DIR)
    spill = con.execute("SELECT current_setting('temp_directory')").fetchone()[0]
    assert os.path.basename(spill).startswith("duck_spill_")
    assert os.path.isdir(spill)
    con.close()
    del con
    gc.collect()
    assert not os.path.exists(spill)
