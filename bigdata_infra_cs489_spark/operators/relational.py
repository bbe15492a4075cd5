"""Relational core: the 7 assignment5 TPC-H-style queries, Spark-first.

Reference: /root/reference/src/main/scala/.../assignment5/Q1.scala ... Q7.scala
(Spark 1.5 RDD API, hand-built plans with driver-side ``collect.toMap`` +
broadcast for every dimension join). Here each query is a declarative
DataFrame chain; Catalyst plans broadcast-hash joins for the small dimensions
(nation/region always; customer/supplier/part via AQE when under the
threshold) and shuffle joins otherwise — the reference's driver round-trip
broadcast (Q3.scala:29-37) would OOM the driver at 100 TB, so we never
collect a data-sized input.

Fixture mapping notes (FIXTURES.md): the fixtures have no o_clerk /
o_shippriority columns; Q2/Q7 substitute o_orderpriority. Dates are
timestamps; the reference's lexicographic string compares map 1:1 to
timestamp compares (ISO order). Top-k queries add deterministic tie-break
columns (the reference's takeOrdered is nondeterministic among ties, which a
cross-engine hash check cannot tolerate).

Money aggregates are rounded to 2 decimals (ratios to 4) in both the Spark
plan and the DuckDB oracle SQL so double summation order cannot flip the
value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import floor_round

from ..functions.text import date_str, month_str, shipdate_matches
from ..sources.tables import load

# Default parameters chosen to give non-trivial result sizes on the fixtures
# (see TESTDATA.md date ranges 1995-01..2001-11).
Q1_DATE = "1998-06-15"
Q2_DATE = "1998-06"
Q3_DATE = "1998-06"
Q4_DATE = "1998-06"
Q6_DATE = "1998"
Q7_DATE = "1998-06-15"
MONEY = "decimal(15,2)"  # TPC-H money type; q7 sums revenue in it
IN_NATIONS = (3, 24)  # reference Q5.scala:33 (CANADA / UNITED STATES)


def q1(spark: SparkSession, sf_dir: str, date: str = Q1_DATE) -> DataFrame:
    """How many lineitems shipped on a date (Q1.scala:29-36): filter + count.

    Scan-level: only l_shipdate is read (column pruning); the count is a
    partial-agg per partition + single-row final agg — no data shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(shipdate_matches("l_shipdate", date))
        .agg(F.count(F.lit(1)).alias("count_shipped"))
    )


def q2(spark: SparkSession, sf_dir: str, date: str = Q2_DATE, k: int = 20) -> DataFrame:
    """First k orders (priority, orderkey) with >=1 lineitem shipped on date.

    Reference Q2.scala:30-49: cogroup + non-empty filter + head = a left-semi
    join producing one row per qualifying order. Spark-first: semi-join, which
    Catalyst executes as a broadcast or shuffled semi-join with the lineitem
    side reduced to distinct orderkeys — no row re-expansion, no cogroup
    materialization. o_orderpriority substitutes the fixture-absent o_clerk.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    shipped = li.where(shipdate_matches("l_shipdate", date)).select("l_orderkey")
    return (
        orders.join(shipped, orders.o_orderkey == shipped.l_orderkey, "left_semi")
        .select(F.col("o_orderpriority"), F.col("o_orderkey"))
        .orderBy("o_orderkey")
        .limit(k)
    )


def q3(spark: SparkSession, sf_dir: str, date: str = Q3_DATE, k: int = 20) -> DataFrame:
    """(l_orderkey, p_name, s_name) per lineitem shipped on date, first k.

    Reference Q3.scala:29-60 collects part+supplier to the driver and probes
    broadcast maps with sentinel rows for misses. Spark-first: two inner
    joins; part/supplier are dimension-sized so AQE selects broadcast-hash
    joins (at 100 TB part is ~20 GB — AQE falls back to shuffle join, which
    driver-side maps simply cannot do). Sentinels never materialize: inner
    join drops non-matches. Orders by all columns for deterministic ties.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.where(shipdate_matches("l_shipdate", date))
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "p_name", "s_name")
        .orderBy("l_orderkey", "p_name", "s_name")
        .limit(k)
    )


def q4(spark: SparkSession, sf_dir: str, date: str = Q4_DATE) -> DataFrame:
    """Shipped-lineitem count per customer nation (Q4.scala:29-75).

    lineitem(filtered) ⋈ orders ⋈ customer ⋈ nation, count(*) grouped by
    nation, ordered by nationkey. The orders join shuffles on orderkey (both
    sides big at scale); customer joins via AQE broadcast-or-shuffle; nation
    (25 rows) is always broadcast. Aggregation is partial+final hash-agg on a
    25-key domain — negligible shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.where(shipdate_matches("l_shipdate", date))
        .select("l_orderkey")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_nationkey", "n_name")
        .agg(F.count(F.lit(1)).alias("count_shipped"))
        .orderBy("n_nationkey")
    )


def q5(spark: SparkSession, sf_dir: str, nations: tuple[int, ...] = IN_NATIONS) -> DataFrame:
    """Monthly shipment counts for two nations (Q5.scala:29-77).

    Same join shape as q4 but unfiltered lineitem grouped by ship month.
    The customer IN-list filter (c_nationkey IN (3,24)) is applied *before*
    the join, so the orders⋈customer join output — and therefore the big
    lineitem join's probe side — only carries the two nations' customers.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_nationkey").isin(*nations))
        .select("c_custkey", "c_nationkey")
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.select("l_orderkey", month_str("l_shipdate").alias("ship_month"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("ship_month", "n_name")
        .agg(F.count(F.lit(1)).alias("count_shipped"))
        .orderBy("ship_month", "n_name")
    )


def q6(spark: SparkSession, sf_dir: str, date: str = Q6_DATE) -> DataFrame:
    """TPC-H Q1-style pricing summary (Q6.scala:29-66): the flagship query.

    Filter -> derived pricing expressions (F6) -> 8-way aggregate grouped by
    (returnflag, linestatus). The reference hand-rolls a 6-tuple
    aggregateByKey; Tungsten's hash aggregate computes all sums/avgs in one
    partial+final pass over a 4-6 key domain, with the filter and the two
    derived-column multiplications pushed inside whole-stage codegen.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(shipdate_matches("l_shipdate", date))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            # floor_round: quantities are integral, so avg is an exact
            # integer ratio (the tie class); prices/discounts are not
            floor_round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q7(spark: SparkSession, sf_dir: str, date: str = Q7_DATE, k: int = 10) -> DataFrame:
    """Top-k unshipped-revenue orders, TPC-H Q3 shape (Q7.scala:30-82).

    orders(o_orderdate < dt) ⋈ customer ⋈ lineitem(l_shipdate > dt);
    revenue = sum(extprice*(1-discount)) per (custname, orderkey, orderdate,
    priority); top-k by revenue desc. Both date filters push to the parquet
    scans; the lineitem⋈orders join shuffles on orderkey; TakeOrderedAndProject
    does per-partition top-k heaps + driver merge (no global sort).
    o_orderpriority substitutes the fixture-absent o_shippriority.
    The sum runs in DECIMAL (TPC-H's money type) so that a total on a half
    cent rounds the same on every engine; a double sum can land a hair
    below the half, where Spark and DuckDB round it differently. The
    rounded revenue is cast back to DOUBLE.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    revenue = F.col("l_extendedprice").cast(MONEY) * (
        1 - F.col("l_discount").cast(MONEY)
    )
    return (
        li.where(F.col("l_shipdate") > F.lit(date).cast("timestamp"))
        .select("l_orderkey", revenue.alias("rev"))
        .join(
            orders.where(F.col("o_orderdate") < F.lit(date).cast("timestamp")).select(
                "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name",
            "o_orderkey",
            date_str("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum("rev"), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(k)
    )


MARKET_SHARE_NATION = "NATION_3"


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_year, total_revenue, nation_revenue, mkt_share): yearly revenue
    share attributable to one nation's customers — the TPC-H Q8
    "national market share" shape (conditional aggregation over a
    fact⋈dim join) the reference's Q1-Q7 set stops short of.

    Scale shape: orders shuffle-join customers on custkey (both fact-
    sized, well-spread key), nation broadcasts, then ONE conditional
    hash aggregate per year — the share is a same-row ratio of two sums,
    no second pass. Revenue sums are rounded to cents before the ratio
    so the hash never rides float association order."""
    from ..sources.tables import load

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", F.year("o_orderdate").alias("o_year")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    is_target = (F.col("n_name") == MARKET_SHARE_NATION).cast("int")
    agg = j.groupBy("o_year").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        F.round(F.sum(F.col("o_totalprice") * is_target), 2).alias(
            "nation_revenue"
        ),
    )
    return agg.select(
        "o_year",
        "total_revenue",
        "nation_revenue",
        F.round(F.col("nation_revenue") / F.col("total_revenue"), 6).alias(
            "mkt_share"
        ),
    )


PROMO_TYPE = "ECONOMY"


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ship_month, promo_revenue, total_revenue, promo_share_pct):
    monthly share of discounted revenue from one part type — the TPC-H
    Q14 "promotion effect" shape: lineitem ⋈ part with a conditional
    numerator and shared denominator in ONE aggregate pass.

    Scale shape: part broadcasts (dimension), lineitem keeps its scan
    partitioning, one hash aggregate on the derived month key.

    Accounting discipline: revenue accumulates as EXACT integer
    ten-thousandths of a dollar (price is 2dp-valued, discount a whole
    percent, so cents x (100 - disc%) is exact int64) and cents come
    from integer (+50) DIV 100 — a float sum rounded 2dp flipped a cent
    on one sf1 month when the two engines' summation orders straddled a
    .005 boundary (found by the round-12 sf1 oracle sweep); the integer
    path cannot. Overflow bound: rev_dm is up to ~1e9 per row, so the
    int64 sum saturates near ~9e9 rows PER MONTH — and the engines do
    NOT fail alike there (Spark sum(BIGINT) stays BIGINT and wraps, or
    throws under ANSI; DuckDB promotes to HUGEINT), so a deployment
    expecting >1e10-row months must add an explicit decimal cast on
    both sides first (round-13 advisory correction)."""
    from ..sources.tables import load

    rev_dm = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100).cast("long")
        - F.round(F.col("l_discount") * 100).cast("long")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        rev_dm.alias("rev_dm"),
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "ship_month",
        "rev_dm",
        (F.col("p_type") == PROMO_TYPE).cast("long").alias("is_promo"),
    )
    agg = j.groupBy("ship_month").agg(
        F.expr("CAST((sum(rev_dm * is_promo) + 50) DIV 100 AS BIGINT)").alias(
            "promo_cents"
        ),
        F.expr("CAST((sum(rev_dm) + 50) DIV 100 AS BIGINT)").alias(
            "total_cents"
        ),
    )
    share = (
        F.lit(100.0) * F.col("promo_cents") / F.col("total_cents")
    )
    return agg.select(
        "ship_month",
        (F.col("promo_cents") / F.lit(100.0)).alias("promo_revenue"),
        (F.col("total_cents") / F.lit(100.0)).alias("total_revenue"),
        (
            F.floor(share * F.lit(1e4) + F.lit(0.5)).cast("bigint")
            / F.lit(10000.0)
        ).alias("promo_share_pct"),
    )


TOP_SUPPLIERS_K = 20


def top_suppliers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank via order, s_suppkey, s_name, n_name, revenue): the TPC-H
    Q15 "top supplier" shape — supplier-side revenue aggregation with a
    dimension enrich and global top-k. lineitem aggregates FIRST (one
    well-spread suppkey shuffle), then the reduced table joins the
    broadcast supplier/nation dims; top-k is TakeOrderedAndProject."""
    from ..sources.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    rev = li.groupBy("l_suppkey").agg(F.round(F.sum("rev"), 2).alias("revenue"))
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("s_suppkey"))
        .limit(TOP_SUPPLIERS_K)
    )


TOP_RETURN_CUSTOMERS_K = 20


def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, c_name, n_name, return_revenue): the TPC-H Q10
    "returned item reporting" shape — revenue lost to returns per
    customer, top-k. The R-flag filter pushes to the lineitem scan;
    orders⋈lineitem shuffle on orderkey, then the reduced per-customer
    table joins broadcast customer/nation dims."""
    from ..sources.tables import load

    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("rev"), 2).alias("return_revenue"))
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "return_revenue")
        .orderBy(F.desc("return_revenue"), F.asc("c_custkey"))
        .limit(TOP_RETURN_CUSTOMERS_K)
    )
