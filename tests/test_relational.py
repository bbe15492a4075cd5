"""Correctness of the assignment5 relational core vs the DuckDB oracle,
at the driver's sf0.01 scale."""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle

RELATIONAL = [
    "q1_count_shipped",
    "q2_orders_semijoin_topk",
    "q3_lineitem_part_supplier",
    "q4_shipments_by_nation",
    "q5_monthly_shipments_two_nations",
    "q6_pricing_summary",
    "q7_top_revenue_orders",
]


@pytest.mark.parametrize("name", RELATIONAL)
def test_matches_oracle(spark, sf_correct, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_have_oracles_or_are_flagged(spark):
    """Every queries() key should either have an oracle or be a documented
    non-SQL-expressible op (name prefixed accordingly)."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)


def test_nation_market_share_matches_oracle_and_bounds(spark, sf_smoke):
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    name = "nation_market_share"
    assert_matches_oracle(
        entrymod.queries()[name](spark, sf_smoke),
        entrymod.oracle_sql()[name],
        sf_smoke,
    )

    from bigdata_infra_cs489_spark.operators.relational import nation_market_share

    rows = nation_market_share(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r.mkt_share <= 1
        assert r.nation_revenue <= r.total_revenue


def test_promo_share_matches_oracle_and_bounds(spark, sf_smoke):
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    name = "promo_revenue_share"
    assert_matches_oracle(
        entrymod.queries()[name](spark, sf_smoke),
        entrymod.oracle_sql()[name],
        sf_smoke,
    )

    from bigdata_infra_cs489_spark.operators.relational import promo_revenue_share

    rows = promo_revenue_share(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0 <= r.promo_share_pct <= 100
        assert r.promo_revenue <= r.total_revenue


def test_supplier_and_return_topk_match_oracle(spark, sf_smoke):
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name in ("top_suppliers_by_revenue", "top_return_customers"):
        assert_matches_oracle(qs[name](spark, sf_smoke), oracles[name], sf_smoke)


def test_q7_revenue_on_a_half_cent_matches_oracle(spark, sf_smoke, tmp_path):
    """One order whose lines sum to exactly 105.665: 100.70 * (1 - 0.05)
    + 10.00. In doubles that sum is 105.66499999999999, which Spark's
    round(double, 2) takes to 105.66 and DuckDB's to 105.67; summing in
    DECIMAL gives 105.67 on both engines."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    from .oracle import TABLES, assert_matches_oracle

    order_day = dt.datetime(1998, 1, 1)
    ship_day = dt.datetime(1998, 7, 1)
    tables = {
        "customer": {
            "c_custkey": [1],
            "c_name": ["Customer#1"],
            "c_nationkey": [0],
            "c_acctbal": [0.0],
            "c_mktsegment": ["BUILDING"],
        },
        "orders": {
            "o_orderkey": [1],
            "o_custkey": [1],
            "o_orderstatus": ["O"],
            "o_totalprice": [0.0],
            "o_orderdate": [order_day],
            "o_orderpriority": ["1-URGENT"],
        },
        "lineitem": {
            "l_orderkey": [1, 1],
            "l_partkey": [1, 2],
            "l_suppkey": [1, 1],
            "l_linenumber": [1, 2],
            "l_quantity": [1.0, 1.0],
            "l_extendedprice": [100.70, 10.00],
            "l_discount": [0.05, 0.00],
            "l_tax": [0.0, 0.0],
            "l_returnflag": ["N", "N"],
            "l_linestatus": ["O", "O"],
            "l_shipdate": [ship_day, ship_day],
        },
    }
    for t in TABLES:
        src = os.path.join(sf_smoke, f"{t}.parquet")
        dst = tmp_path / f"{t}.parquet"
        if t in tables:
            schema = pq.read_schema(src).remove_metadata()
            pq.write_table(pa.table(tables[t], schema=schema), dst)
        else:
            dst.symlink_to(src)

    sf = str(tmp_path)
    df = entrymod.queries()["q7_top_revenue_orders"](spark, sf)
    assert dict(df.dtypes)["revenue"] == "double"
    assert [r.revenue for r in df.collect()] == [105.67]
    assert_matches_oracle(df, entrymod.oracle_sql()["q7_top_revenue_orders"], sf)
