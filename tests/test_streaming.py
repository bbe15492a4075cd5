"""Structured Streaming twins agree with the oracle-checked batch plans."""

from __future__ import annotations


def test_tumbling_stream_matches_batch(spark, sf_correct):
    from bigdata_infra_cs489_spark.operators.events import tumbling_counts
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        run_to_memory,
        tumbling_counts_stream,
    )

    run_to_memory(tumbling_counts_stream(spark, sf_correct), "t_tumble")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in spark.table("t_tumble").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
        for r in tumbling_counts(spark, sf_correct).collect()
    }
    assert got == want


def test_session_window_stream_runs(spark, sf_correct):
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        run_to_memory,
        session_windows_stream,
    )

    run_to_memory(session_windows_stream(spark, sf_correct), "t_sess")
    rows = spark.table("t_sess").collect()
    assert rows
    # same session boundaries as the batch lag+cumsum operator: compare
    # (user, session_start) keys
    from bigdata_infra_cs489_spark.operators.events import sessionize

    batch_keys = {
        (r.user_id, r.session_start) for r in sessionize(spark, sf_correct).collect()
    }
    stream_keys = {(r.user_id, r.session_start) for r in rows}
    assert stream_keys == batch_keys


def test_stateful_running_counts(spark, sf_correct):
    from bigdata_infra_cs489_spark.operators.events import _events
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        run_to_memory,
        running_user_counts_stream,
    )

    run_to_memory(
        running_user_counts_stream(spark, sf_correct), "t_state", "update"
    )
    got = {r.user_id: r.n_events for r in spark.table("t_state").collect()}
    want = {
        r.user_id: r.cnt
        for r in _events(spark, sf_correct).groupBy("user_id").count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert got == want


def test_stream_dedup_drops_replays(spark, sf_correct):
    """A stream that replays the same parquet twice (two globs of the same
    file) still yields each event_id once."""
    from bigdata_infra_cs489_spark.operators.events import _events
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        dedup_events_stream,
        run_to_memory,
    )

    run_to_memory(dedup_events_stream(spark, sf_correct), "t_dedup", "append")
    got = spark.table("t_dedup")
    n_ids = _events(spark, sf_correct).select("event_id").distinct().count()
    assert got.count() == n_ids
    assert got.select("event_id").distinct().count() == n_ids


def test_stream_static_join_enriches(spark, sf_correct):
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.events import _events
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        enriched_events_stream,
        run_to_memory,
    )

    dim = (
        _events(spark, sf_correct)
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd").alias("segment"),
        )
    )
    run_to_memory(
        enriched_events_stream(spark, sf_correct, dim), "t_enrich", "append"
    )
    rows = spark.table("t_enrich").collect()
    assert rows and all(r.segment in ("even", "odd") for r in rows)
    assert len(rows) == _events(spark, sf_correct).count()


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke):
    """The watermarked stream-stream interval join emits exactly the
    (error, click) pairs the batch range predicate defines (smoke SF keeps
    the pair count small)."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.temporal import ERR_WINDOW_SEC
    from bigdata_infra_cs489_spark.sources.tables import load
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        error_click_join_stream,
        run_to_memory,
    )

    run_to_memory(error_click_join_stream(spark, sf_smoke), "t_ssj", "append")
    got = {
        (r.error_id, r.click_id)
        for r in spark.table("t_ssj").collect()
    }

    ev = load(spark, sf_smoke, "events")
    e = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    expect = {
        (r.error_id, r.click_id)
        for r in e.join(
            c,
            (F.col("click_ts") >= F.col("err_ts"))
            & (
                F.col("click_ts")
                < F.col("err_ts") + F.expr(f"interval {ERR_WINDOW_SEC} seconds")
            ),
        ).collect()
    }
    assert got == expect and len(expect) > 0


import pytest as _pytest


@_pytest.mark.parametrize(
    "name",
    [
        "stream_tumbling_counts",
        "stream_error_click_join",
        "stream_upsert_user_state",
    ],
)
def test_stream_queries_match_oracle(spark, sf_correct, name):
    """The driver-contract streaming entries (availableNow -> memory sink)
    hash-match the same DuckDB oracles as batch queries."""
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


@_pytest.mark.parametrize("cap", [2, 64])
def test_contract_runs_one_wave_of_state_stores(spark, sf_smoke, monkeypatch, cap):
    """Every micro-batch of a contract backfill (an events and a docs
    contract) runs min(STREAM_STATE_PARTITIONS, defaultParallelism)
    state-store instances, and the session's batch shuffle-partition
    count comes back afterwards. The two caps take each side of the
    min: below the core count, and above it."""
    from bigdata_infra_cs489_spark.streaming import events_stream
    from bigdata_infra_cs489_spark.streaming.docs_stream import q_stream_line_dedup

    runs = []
    run_to_memory = events_stream.run_to_memory

    def recording(sdf, name, output_mode="complete"):
        runs.append(run_to_memory(sdf, name, output_mode))
        return runs[-1]

    monkeypatch.setattr(events_stream, "run_to_memory", recording)
    monkeypatch.setattr(events_stream, "STREAM_STATE_PARTITIONS", cap)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    events_stream.q_stream_dedup(spark, sf_smoke).collect()
    q_stream_line_dedup(spark, sf_smoke).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    n = min(cap, spark.sparkContext.defaultParallelism)
    assert len(runs) == 2
    for q in runs:
        assert q.recentProgress
        for p in q.recentProgress:
            assert p.stateOperators, (q.name, p.batchId)
            for op in p.stateOperators:
                assert (op.numShufflePartitions, op.numStateStoreInstances) == (
                    n,
                    n,
                ), (q.name, p.batchId, op.operatorName)


def test_contract_restores_shuffle_partitions_when_build_raises(spark):
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        STREAM_STATE_PARTITIONS,
        _run_contract,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []

    def build():
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        raise RuntimeError("injected build failure")

    with _pytest.raises(RuntimeError, match="injected build failure"):
        _run_contract(spark, build, "t_contract_raises", "append")
    assert seen == [
        str(min(STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism))
    ]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_contract_drops_its_sink_view(spark, sf_smoke):
    """A contract call leaves no memory-sink temp view in the session (a
    view would pin the call's whole output in driver memory), and the
    frame it returns still collects after the drop."""
    from bigdata_infra_cs489_spark.sources.tables import load
    from bigdata_infra_cs489_spark.streaming.events_stream import q_stream_dedup

    outs = [q_stream_dedup(spark, sf_smoke) for _ in range(3)]
    left = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("drv_stream_")
    ]
    assert left == []
    n = load(spark, sf_smoke, "events").count()
    assert [len(o.collect()) for o in outs] == [n, n, n]


def test_stream_partitioned_sink_layout_and_counts(spark, sf_smoke):
    """The streaming file sink lands Hive-partitioned parquet whose
    read-back equals the batch table."""
    import os

    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.sources.tables import load
    from bigdata_infra_cs489_spark.streaming.events_stream import (
        q_stream_partitioned_sink,
        sink_dir,
    )

    got = sorted(
        map(tuple, q_stream_partitioned_sink(spark, sf_smoke).collect())
    )
    want = sorted(
        map(
            tuple,
            load(spark, sf_smoke, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .collect(),
        )
    )
    assert got == want
    out = sink_dir(sf_smoke, "stream_sink_events")
    parts = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert len(parts) > 1  # Hive-style partition directories


def test_upsert_merge_is_incremental(spark, tmp_path):
    """Driving upsert_user_state over two explicit micro-batches yields
    the same state as one batch over the union — the associativity that
    makes the foreachBatch merge restart- and split-safe."""
    import datetime as dt

    from bigdata_infra_cs489_spark.streaming.events_stream import (
        upsert_user_state,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(eid, uid, sec, val):
        return (uid, t0 + dt.timedelta(seconds=sec), eid, float(val))

    cols = "user_id bigint, ts timestamp, event_id bigint, value double"
    b1 = spark.createDataFrame([row(1, 7, 10, 5.0), row(2, 8, 20, 2.0)], cols)
    # batch 2: user 7 gets a LATER event; user 8 an event at the SAME ts
    # with a higher event_id (tie-break must pick it); user 9 is new
    b2 = spark.createDataFrame(
        [row(3, 7, 30, 9.0), row(4, 8, 20, 3.5), row(5, 9, 5, 1.0)], cols
    )

    out_inc = str(tmp_path / "inc")
    st = {"path": None}
    upsert_user_state(b1, st, out_inc, 0)
    upsert_user_state(b2, st, out_inc, 1)
    inc = {
        r.user_id: (r.n_events, r.last_value, r.last_ts, r.last_event_id)
        for r in spark.read.parquet(st["path"]).collect()
    }

    out_one = str(tmp_path / "one")
    st1 = {"path": None}
    upsert_user_state(b1.unionByName(b2), st1, out_one, 0)
    one = {
        r.user_id: (r.n_events, r.last_value, r.last_ts, r.last_event_id)
        for r in spark.read.parquet(st1["path"]).collect()
    }

    assert inc == one
    assert inc[7][:2] == (2, 9.0)
    assert inc[8][:2] == (2, 3.5), "same-ts tie must go to higher event_id"
    assert inc[9][:2] == (1, 1.0)


def test_file_stream_checkpoint_resume_is_exactly_once(spark, tmp_path, sf_smoke):
    """Restarting an availableNow file-source stream against the SAME
    checkpoint processes only files that arrived since the last run —
    the exactly-once resume contract the partitioned sink relies on.
    Run 1 lands half the events; more files arrive; run 2 must append
    exactly the remainder, no duplicates, no reprocessing."""
    from bigdata_infra_cs489_spark.sources.tables import load

    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))
    ev = load(spark, sf_smoke, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    half1 = ev.where("event_id % 2 = 0")
    half2 = ev.where("event_id % 2 = 1")

    def run_stream():
        s = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    half1.write.mode("overwrite").parquet(src)
    run_stream()
    assert spark.read.parquet(out).count() == half1.count()

    half2.write.mode("append").parquet(src)
    run_stream()
    got = spark.read.parquet(out)
    assert got.count() == ev.count(), "resume appends exactly the new files"
    assert got.select("event_id").distinct().count() == ev.count(), (
        "no event processed twice across the restart"
    )


def test_rate_source_watermark_drops_late_rows(spark):
    """SURVEY §2.10 stretch: run the watermarked tumbling count against a
    LIVE unbounded rate source for a few wall-clock micro-batches and pin
    the lateness contract the availableNow fixture twins cannot observe —
    rows arriving beyond the watermark allowance are DROPPED at the state
    store (numRowsDroppedByWatermark > 0 in progress), while on-time rows
    keep flowing (numInputRows grows) and finalized windows reach the
    append-mode sink."""
    import time
    import uuid

    from bigdata_infra_cs489_spark.streaming.events_stream import (
        rate_lateness_stream,
    )

    name = f"rate_probe_{uuid.uuid4().hex[:8]}"
    sdf = rate_lateness_stream(spark)
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        dropped = total_in = 0
        while time.time() < deadline:
            time.sleep(2)
            for p in q.recentProgress:
                for so in p.get("stateOperators", []):
                    dropped = max(dropped, int(so.get("numRowsDroppedByWatermark", 0)))
                total_in += int(p.get("numInputRows", 0))
            if dropped > 0 and total_in > 0:
                break
        assert total_in > 0, "rate source produced no input rows"
        assert dropped > 0, "no late row was dropped by the watermark"
    finally:
        q.stop()
    # windows finalized by the advancing watermark reached the sink
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert all(r.n > 0 for r in rows)
