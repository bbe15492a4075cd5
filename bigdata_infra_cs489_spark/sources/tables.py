"""Parquet table registry over the driver fixtures.

The reference has no catalog: every job re-parses pipe-delimited text with
hard-coded column positions (SURVEY.md §1.2, e.g. reference Q1.scala:32
``split("\\|",12)(10)`` for l_shipdate). Here every table is a Parquet scan
with a declared schema (``SCHEMAS``) — Catalyst gets column pruning and
predicate pushdown into the scan for free, which is the single biggest win at
100 TB (a scan that only decodes 2 of 11 lineitem columns), and building a
query launches no schema-inference job per table read.

Tables: region nation customer supplier part orders lineitem events
documents embeddings (TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One DDL per fixture table, in footer column order, with the types Spark
# infers from the footers (tests/test_sources_tables.py pins the match: a
# declared column the file lacks would read as silent NULLs). events.ts is
# the current fixtures' form; its physical type varies by fixture
# generation, so read_events probes it instead of trusting this entry.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLE_NAMES = tuple(SCHEMAS)


def read_events(
    spark: SparkSession, sf_dir: str, *, stream: bool = False
) -> DataFrame:
    """events with ``ts`` as a session-TZ TIMESTAMP, batch or (``stream``)
    as a file-source stream over ``sf_dir``.

    events.ts arrives in whatever physical form the fixture generator
    used — TIMESTAMP(NANOS) (older fixtures; surfaces as long nanos under
    the legacy nanosAsLong conf) or TIMESTAMP(MICROS, isAdjustedToUTC=
    false) (current fixtures; surfaces as TIMESTAMP_NTZ). One footer probe
    (an inferring batch read, which also serves as the batch frame) tells
    which; both are normalized to a plain TIMESTAMP so every consumer
    (unix_micros, window, watermark, date_format) sees one type. The nanos
    path uses integer division — ns epochs (~1.7e18) exceed double's 2^53
    mantissa, so float math would corrupt timestamps.
    """
    # The driver runs these queries in ITS OWN session; the UTC pin
    # (normally set by session.py) is what makes the NTZ->LTZ cast a
    # wall-clock identity and every date_format/unix_timestamp agree with
    # the DuckDB oracles, so re-assert it here. Runtime-settable,
    # idempotent.
    #
    # CONTRACT NOTE: this intentionally mutates the caller session's TZ
    # for its remaining lifetime. A save/restore around the read would be
    # unsound: Spark reads the session TZ at query EXECUTION, not at
    # DataFrame construction, so restoring the conf here would make the
    # lazily-executed plan render timestamps in the caller's TZ and
    # silently diverge from the oracles. Sessions that need a non-UTC TZ
    # for other work should use a separate SparkSession.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        # static conf on some builds — can't be set on a live foreign
        # session. That only matters if THIS fixture generation uses
        # TIMESTAMP(NANOS); the ts-dtype check below fails loudly in that
        # case instead of letting timestamps silently degrade.
        pass
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type not in ("bigint", "timestamp_ntz", "timestamp"):
        raise RuntimeError(
            f"events.ts read as unsupported type {ts_type!r}; this "
            "session could not apply spark.sql.legacy.parquet."
            "nanosAsLong=true (static conf). Build the session with "
            "bigdata_infra_cs489_spark.session.get_spark(), or set "
            "that conf at session construction."
        )
    if stream:
        # the file source wants a directory; glob-filter down to the
        # single fixture file
        df = (
            spark.readStream.schema(df.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(
    spark: SparkSession, sf_dir: str, name: str, *, parallelize: bool = False
) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan with its
    declared schema; events goes through ``read_events``).

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
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        df = read_events(spark, sf_dir)
    else:
        df = spark.read.schema(SCHEMAS[name]).parquet(
            os.path.join(sf_dir, f"{name}.parquet")
        )
    if parallelize:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df
