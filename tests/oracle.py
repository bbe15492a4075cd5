"""DuckDB-oracle comparison helper mirroring the driver's t2 check:
row count + column names + order-insensitive value comparison."""

from __future__ import annotations

import math

import duckdb

from bigdata_infra_cs489_spark.sources.tables import TABLE_NAMES as TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One in-memory connection with the fixture tables as views.

    The memory cap + disk-spill temp dir exist for the sf1 campaigns:
    an uncapped in-memory connection holds ALL intermediates in RAM, and
    one multiply-referenced-CTE oracle at 50k docs (repeat_spectrum's
    doubling chain) reached >100 GB RSS and took the whole sweep process
    down with it (round-14, OOM-killed twice). Capped, DuckDB spills
    instead; the sf0.01 driver-gate workloads never come near the cap."""
    import os
    import tempfile

    con = duckdb.connect()
    cap_gb = int(os.environ.get("SPARK_GRAFT_DUCK_MEM_GB", "20"))
    con.execute(f"SET memory_limit='{cap_gb}GB'")
    # per-connection spill dir: DuckDB names spill files with an
    # INSTANCE-LOCAL counter (duckdb_temp_storage-0.tmp, ...), so two
    # connections spilling into one shared dir collide and corrupt each
    # other's oracle queries (parallel sweeps, pytest -n). mkdtemp gives
    # each connection its own namespace; the OS tmp reaper cleans up.
    con.execute(
        "SET temp_directory='" + tempfile.mkdtemp(prefix="duck_spill_") + "'"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# DuckDB result types whose pandas conversion is version-dependent
# (HUGEINT -> float64 on duckdb 1.0/pandas, lossless int via fetchall).
# The DRIVER canonicalizes through pandas, the local harness through
# fetchall, so an oracle emitting one of these can be local-green but
# driver-red (root cause of the round-3 hash failures: every red query's
# oracle had a `sum(INTEGER)` -> HUGEINT output column). Oracles must
# CAST such columns to BIGINT/DOUBLE explicitly.
RISKY_DUCK_TYPES = {
    "HUGEINT",
    "UHUGEINT",
    "UINTEGER",
    "UBIGINT",
    "USMALLINT",
    "UTINYINT",
}


def fragile_duck_columns(
    con: duckdb.DuckDBPyConnection, sql: str
) -> list[tuple[str, str]]:
    """(column, type) pairs whose pandas conversion is version-fragile.

    Uses lazy relation binding only — does not execute the query."""
    rel = con.sql(sql)
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t) in RISKY_DUCK_TYPES or str(t).startswith("DECIMAL")
    ]


def _canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse fp noise below the rounding we already apply in queries
        return round(v, 6)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(_canon_cell(row[i])) for i in order) for row in rows
    )


def assert_matches_oracle(spark_df, oracle: str, sf_dir: str) -> None:
    """Assert the Spark result equals the DuckDB oracle result as a
    column-name-keyed, order-insensitive multiset."""
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    con = duck_connection(sf_dir)
    try:
        res = con.execute(oracle)
        duck_cols = [d[0] for d in res.description]
        duck_rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s, d = _canon(spark_rows, spark_cols), _canon(duck_rows, duck_cols)
    mism = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mism, f"value mismatch ({len(mism)} rows), first: {mism[:3]}"
