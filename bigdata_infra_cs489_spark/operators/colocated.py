"""Co-located (bucketed, shuffle-free) fact joins as a first-class query.

The reference's custom partitioners exist to co-locate join keys across
jobs (SURVEY §4); sources/bucketing.py carries the Spark-native
equivalent (bucketBy sink + bucket-aware scans). This module registers
the pattern in the driver contract: customer and orders are persisted
bucketed-by-custkey once per data generation, and the recurring
customer⋈orders join then plans with NO shuffle exchange on either side
— at 100 TB this converts the dominant repeated fact-join cost into a
one-time layout cost, exactly the trade the reference's partitioned
MapFiles made. The aggregation AFTER the join also inherits the
bucketed partitioning (groupBy on the join key reuses it), so the whole
query runs shuffle-free up to the final top-k.

Results are identical to the plain join (the oracle is ordinary SQL);
tests pin the no-Exchange property from the physical plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.bucketing import write_bucketed_table
from ..sources.tables import load
from .assets import fixture_sig

N_BUCKETS = 16
TOP_CUSTOMERS = 10


def _table_sig(sf_dir: str, name: str) -> str:
    size, mtime_ns = fixture_sig(sf_dir, name)
    label = os.path.basename(os.path.normpath(sf_dir))
    # identifier-safe: a '.' in the label (sf0.001) would parse as a
    # schema separator in the table name
    label = "".join(c if c.isalnum() else "_" for c in label)
    return f"bkt_{name}_{label}_{size}_{mtime_ns}"


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Persist customer/orders bucketed by custkey once per (process,
    data generation). The signature encodes the source parquet's
    (size, mtime): a regenerated fixture gets fresh tables, and the
    per-process metastore means a new session rewrites rather than
    trusting another process's layout."""
    cust_t = _table_sig(sf_dir, "customer")
    ord_t = _table_sig(sf_dir, "orders")
    if not spark.catalog.tableExists(cust_t):
        write_bucketed_table(
            load(spark, sf_dir, "customer").select("c_custkey", "c_name"),
            cust_t,
            "c_custkey",
            N_BUCKETS,
            sort_cols="c_custkey",
        )
    if not spark.catalog.tableExists(ord_t):
        write_bucketed_table(
            load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
            ord_t,
            "o_custkey",
            N_BUCKETS,
            sort_cols="o_custkey",
        )
    return cust_t, ord_t


def bucketed_customer_orders(
    spark: SparkSession, sf_dir: str, k: int = TOP_CUSTOMERS
) -> DataFrame:
    """Top-k customers by total order value through the co-located join:
    both scans arrive pre-hashed on custkey, so the join AND the per-key
    aggregation plan without a shuffle exchange (pinned by
    tests/test_colocated.py); only the k-row top-k crosses stages."""
    cust_t, ord_t = ensure_bucketed_tables(spark, sf_dir)
    cust = spark.table(cust_t)
    orders = spark.table(ord_t)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(F.desc("total_price"), F.asc("c_custkey"))
        .limit(k)
    )
