"""Parquet table registry over the driver fixtures.

The reference has no catalog: every job re-parses pipe-delimited text with
hard-coded column positions (SURVEY.md §1.2, e.g. reference Q1.scala:32
``split("\\|",12)(10)`` for l_shipdate). Here every table is a Parquet scan
with the schema carried by the file footer — Catalyst gets column pruning and
predicate pushdown into the scan for free, which is the single biggest win at
100 TB (a scan that only decodes 2 of 11 lineitem columns).

Tables: region nation customer supplier part orders lineitem events
documents embeddings (TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load(
    spark: SparkSession, sf_dir: str, name: str, *, parallelize: bool = False
) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan).

    events.ts arrives in whatever physical form the fixture generator
    used — TIMESTAMP(NANOS) (older fixtures; surfaces as long nanos under
    the legacy nanosAsLong conf) or TIMESTAMP(MICROS, isAdjustedToUTC=
    false) (current fixtures; surfaces as TIMESTAMP_NTZ). Both are
    normalized here to a plain session-TZ TIMESTAMP so every consumer
    (unix_micros, window, watermark, date_format) sees one type. The
    session TZ is pinned to UTC (session.py), so the NTZ->LTZ cast is a
    wall-clock identity and DuckDB oracles reading the same parquet agree
    byte-for-byte. The nanos path uses integer division — ns epochs
    (~1.7e18) exceed double's 2^53 mantissa, so float math would corrupt
    timestamps.

    ``parallelize=True`` round-robins the scan across the cluster before
    the caller's computation. The fixtures are single-row-group files, so
    a plain scan is ONE task; callers whose per-row work dominates the
    row's byte cost (tokenize + md5 feature hashing, minhash shingling,
    media decode) opt in: the tiny shuffle buys full-width CPU. Catalyst
    still pushes filters and column pruning through the exchange into the
    scan. Callers doing cheap columnar work leave it off — and at cluster
    scale, where inputs arrive as many splits, the same flag is how a
    compute-bound stage rebalances skewed file sizes.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # The driver runs these queries in ITS OWN session; the UTC pin
        # (normally set by session.py) is what makes the NTZ->LTZ cast and
        # every date_format/unix_timestamp agree with the DuckDB oracles,
        # so re-assert it here. Runtime-settable, idempotent.
        #
        # CONTRACT NOTE: this intentionally mutates the caller session's TZ
        # for its remaining lifetime. A save/restore around the read would
        # be unsound: Spark reads the session TZ at query EXECUTION, not at
        # DataFrame construction, so restoring the conf here would make the
        # lazily-executed plan render timestamps in the caller's TZ and
        # silently diverge from the oracles. Sessions that need a non-UTC
        # TZ for other work should use a separate SparkSession.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            # static conf on some builds — can't be set on a live foreign
            # session. That only matters if THIS fixture generation uses
            # TIMESTAMP(NANOS); the ts-dtype check below fails loudly in
            # that case instead of letting timestamps silently degrade.
            pass
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            raise RuntimeError(
                f"events.ts read as unsupported type {ts_type!r}; this "
                "session could not apply spark.sql.legacy.parquet."
                "nanosAsLong=true (static conf). Build the session with "
                "bigdata_infra_cs489_spark.session.get_spark(), or set "
                "that conf at session construction."
            )
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if parallelize:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df
