"""The fixture reader (sources/tables.py): declared schemas match the
footers, both physical forms of events.ts read alike in batch and
streaming, and building a query no longer pays a schema-inference job
per table read."""

from __future__ import annotations

import glob
import os

import pytest

from .conftest import SF_SMOKE


@pytest.mark.parametrize(
    "sf_dir", sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf*")))
)
def test_declared_schemas_match_footers(spark, sf_dir):
    """A declared schema turns a column the file lacks into silent NULLs,
    so every declaration must equal what Spark infers from the footer."""
    from bigdata_infra_cs489_spark.sources.tables import SCHEMAS

    assert len(SCHEMAS) == 10
    for name, ddl in SCHEMAS.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        declared = spark.read.schema(ddl).parquet(path).schema
        assert declared == spark.read.parquet(path).schema, (sf_dir, name)


def test_nanos_events_read_like_micros(spark, sf_smoke, tmp_path):
    """events.parquet rewritten as TIMESTAMP(NANOS) (older fixture
    generations) yields the same ts values as the MICROS original through
    both the batch load and an availableNow stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_infra_cs489_spark.sources.tables import load
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        run_to_memory,
        stream_events,
    )

    table = pq.read_table(os.path.join(sf_smoke, "events.parquet"))
    i = table.schema.get_field_index("ts")
    nanos = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, str(tmp_path / "events.parquet"), version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == (
        pa.timestamp("ns")
    )

    def ts_by_id(df):
        return {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}

    want = ts_by_id(load(spark, sf_smoke, "events"))
    assert want and ts_by_id(load(spark, str(tmp_path), "events")) == want

    run_to_memory(
        stream_events(spark, str(tmp_path)).select("event_id", "ts"),
        "t_nanos_events",
        "append",
    )
    assert ts_by_id(spark.table("t_nanos_events")) == want


def test_construction_launches_no_schema_jobs(spark, sf_smoke):
    """With warm assets, building the reference queries and the asset
    consumers runs no Spark job (every table and asset read carries its
    declared schema); the events family pays only its one ts footer
    probe."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    limits = {
        "q1_count_shipped": 0,
        "q2_orders_semijoin_topk": 0,
        "q3_lineitem_part_supplier": 0,
        "q4_shipments_by_nation": 0,
        "q5_monthly_shipments_two_nations": 0,
        "q6_pricing_summary": 0,
        "q7_top_revenue_orders": 0,
        "wordcount": 0,
        "spam_train": 0,
        "bpe_token_counts": 0,
        "dsir_topk": 0,
        "events_tumbling_counts": 1,
    }
    sc = spark.sparkContext
    for name in limits:
        qs[name](spark, sf_smoke).collect()
    jobs = {}
    try:
        for name in limits:
            group = f"build:{name}"
            sc.setJobGroup(group, name)
            qs[name](spark, sf_smoke)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {n: j for n, j in jobs.items() if j > limits[n]} == {}
