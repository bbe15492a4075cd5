"""Structured Streaming twins of the batch events aggregations
(operators/events.py).

The reference is batch-only (SURVEY §2.10); these demonstrate the same
aggregations as unbounded streams: file-source ingestion, event-time
tumbling windows with a watermark, built-in session windows, and a custom
stateful operator via applyInPandasWithState.

Tests run each stream with trigger(availableNow=True) against the fixture
parquet and compare the complete output to the batch operator — the
streaming plan must agree with the oracle-checked batch plan.

Scale notes: watermark bounds state (late events beyond 10 minutes are
dropped); session/window state lives in the state store keyed by
(window/user), which shards across executors; availableNow backfills a
directory without a long-running job.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.events import SESSION_GAP_SEC, SLIDE_STEP_SEC, SLIDE_WINDOW_SEC, TUMBLE_SEC
from ..sources.tables import read_events

WATERMARK = "10 minutes"


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded events source over the fixture directory (``ts``
    normalized exactly as the batch ``tables.load``)."""
    return read_events(spark, sf_dir, stream=True)


def tumbling_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 5-minute tumbling windows per event_type (same output
    columns as the batch operator)."""
    from ..operators.events import exact_value_stats, value_cents

    ev = stream_events(spark, sf_dir).withWatermark("ts", WATERMARK)
    sum_value, avg_value = exact_value_stats(
        F.col("sum_vc"), F.col("n_events")
    )
    return (
        ev.groupBy(F.window("ts", f"{TUMBLE_SEC} seconds"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_cents()).alias("sum_vc"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            sum_value,
            avg_value,
        )
    )


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 10-minute windows sliding every 5 minutes per event_type
    — the built-in overlapping-window form of the batch explode-offsets
    plan (operators/events.py::sliding_counts, same output columns)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", WATERMARK)
    return (
        ev.groupBy(
            F.window(
                "ts", f"{SLIDE_WINDOW_SEC} seconds", f"{SLIDE_STEP_SEC} seconds"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )


def session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in event-time session windows (30-minute gap) per user."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", WATERMARK)
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_SEC} seconds"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


def running_user_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count + last-seen timestamp (the arbitrary-state API a
    bespoke streaming operator would use)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        last_sec = state.get[1] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
            if len(pdf):
                last_sec = max(
                    last_sec, int(pdf["ts"].max().timestamp())
                )
        state.update((total, last_sec))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [total], "last_seen_sec": [last_sec]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, last_seen_sec bigint",
        stateStructType="n bigint, last_sec bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once stream dedup on event_id within the watermark horizon —
    the streaming twin of exact dedup (operators/dedup.py): replayed or
    at-least-once-delivered events are dropped while state stays bounded
    (ids older than the watermark are evicted from the state store)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", WATERMARK)
    return ev.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def enriched_events_stream(
    spark: SparkSession, sf_dir: str, dim: DataFrame
) -> DataFrame:
    """Stream-static join: each micro-batch of events joins the static
    dimension (broadcast per batch; at scale, a small dim broadcasts, a
    big one becomes a shuffled stream-static join Catalyst plans the same
    way a batch join would)."""
    ev = stream_events(spark, sf_dir)
    return ev.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "event_type", "value", "segment"
    )


def error_click_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every (error, click) pair with the
    click inside [error_ts, error_ts + ERR_WINDOW_SEC) — the streaming twin
    of the batch binned interval join (operators/temporal.py). Watermarks
    on BOTH sides plus the two-sided time-range condition let Spark bound
    the join state: each side keeps only rows younger than watermark +
    window, so state is O(rate x window), not O(stream)."""
    from ..operators.temporal import ERR_WINDOW_SEC, _BUCKET_US

    ev = stream_events(spark, sf_dir)
    # Spark refuses stream-stream joins without an equality predicate; the
    # SAME time-bucket binning that bounds the batch join's candidates
    # (operators/temporal.py) supplies it — errors explode into the <=2
    # buckets their window overlaps, clicks carry their single bucket.
    us_err = F.unix_micros(F.col("err_ts"))
    errors = (
        ev.where(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", WATERMARK)
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(us_err / _BUCKET_US),
                    F.floor(
                        (us_err + ERR_WINDOW_SEC * 1_000_000 - 1) / _BUCKET_US
                    ),
                )
            ),
        )
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", WATERMARK)
        .withColumn("bucket", F.floor(F.unix_micros(F.col("click_ts")) / _BUCKET_US))
    )
    cond = (
        (errors.bucket == clicks.bucket)
        & (F.col("click_ts") >= F.col("err_ts"))
        & (
            F.col("click_ts")
            < F.col("err_ts") + F.expr(f"interval {ERR_WINDOW_SEC} seconds")
        )
    )
    return errors.join(clicks, cond, "inner").select("error_id", "click_id")


def run_to_memory(sdf: DataFrame, name: str, output_mode: str = "complete"):
    """Execute a streaming DF to a memory sink until all available input
    is processed; returns the terminated query (read via table `name`)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# Upper bound on the state-store instances of a driver-contract backfill.
# Each shuffle partition of a stateful stream is a state-store instance
# with its own per-batch commit and snapshot; on local[32], 32 instances
# cost ~4x the wall time of 8 while holding identical state.
STREAM_STATE_PARTITIONS = 8


_SINK_SEQ = itertools.count()


def _run_contract(spark: SparkSession, build, kind: str, mode: str) -> DataFrame:
    """Run a stream built by ``build()`` to completion into a memory sink
    and return its result, restoring the session's batch
    shuffle-partition setting after.

    The sink is named ``drv_stream_<kind>_<n>``, unique per call. Its
    temp view is dropped once the result frame is resolved: the frame
    keeps the sink's rows alive, while a view left in the session would
    pin every call's whole output in driver memory for the session's
    life.

    The backfill runs ``min(STREAM_STATE_PARTITIONS, defaultParallelism)``
    state-store instances, so every micro-batch is one wave of cores: on
    4 cores a fixed 8 ran in two waves, and ``stream_dedup`` cost 2.67
    CPU-s per call at 8 against 1.89 at 4 (sf0.01). One instance in total
    cost less CPU still, but doubled the wall time of
    ``stream_running_counts`` at sf0.1. The count is sticky per
    checkpoint; every contract starts from a fresh temporary one, so no
    earlier run's count is read back."""
    name = f"drv_stream_{kind}_{next(_SINK_SEQ)}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    n = min(STREAM_STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        run_to_memory(build(), name, mode)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)


def sink_dir(sf_dir: str, name: str) -> str:
    """The file-sink directory of contract ``name`` for one fixture scale
    factor. Per scale factor: a sweep at sf0.01 and a bench at sf0.1 may
    overlap in separate processes, and sharing one directory would let
    one run's fresh-sink rmtree delete the other's live checkpoint
    mid-stream."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_WAREHOUSE, f"{name}_{sf_tag}")


def _fresh_sink_dirs(sf_dir: str, name: str) -> tuple[str, str]:
    """(sink, checkpoint) directories of ``name``, emptied: each contract
    call demonstrates (and verifies) one complete backfill, not
    incremental resume — tests cover resume."""
    out = sink_dir(sf_dir, name)
    chk = out + "_chk"
    for p in (out, chk):
        shutil.rmtree(p, ignore_errors=True)
    return out, chk


def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: run the tumbling-window STREAM to completion
    (availableNow backfill into a memory sink) and return the result as a
    batch DataFrame — the streaming plan itself hash-checks against the
    same DuckDB oracle as its batch twin, so watermarking/window assembly
    can't silently drift from batch semantics."""
    return _run_contract(
        spark, lambda: tumbling_counts_stream(spark, sf_dir), "tumble", "complete"
    )


def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: sliding windows to completion; hash-checks
    against the same oracle shape as the batch sliding_counts."""
    return _run_contract(
        spark, lambda: sliding_counts_stream(spark, sf_dir), "slide", "complete"
    )


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: built-in session windows run to completion.
    The oracle replicates session_window's close rule — a session ends
    when the next event is >= gap after the last one (the batch sessionize
    splits on strictly-greater; identical on any data without an
    exact-gap-length silence, asserted equal in tests/test_streaming.py)."""
    return _run_contract(
        spark, lambda: session_windows_stream(spark, sf_dir), "sess", "complete"
    )


def q_stream_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry for the applyInPandasWithState operator: the
    update-mode memory sink holds one row per (user, micro-batch) — the
    max per user is the final state however the input was batched, and
    THAT is batch-expressible (count + max event time per user), so the
    custom stateful operator gets a real hash-checked oracle."""
    updates = _run_contract(
        spark, lambda: running_user_counts_stream(spark, sf_dir), "run", "update"
    )
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("last_seen_sec").alias("last_seen_sec"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry for dropDuplicatesWithinWatermark: the
    fixture's event_ids are unique, so the deduped stream must equal the
    table — the machinery (state keyed on event_id, watermark eviction)
    still runs end-to-end, and the replayed-duplicate positive case lives
    in tests/test_streaming.py."""
    out = _run_contract(
        spark, lambda: dedup_events_stream(spark, sf_dir), "dedup", "append"
    )
    # render ts per the cross-engine convention (every other contract
    # query ships timestamps as strings; a raw Timestamp cell's pandas
    # representation is engine/version-dependent)
    return out.withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )


SEGMENTS = ("s0", "s1", "s2", "s3")


def q_stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry for the stream-static join: events enriched
    with a deterministic user-segment dimension (user_id mod 4 — derived,
    so the oracle can rebuild it) broadcast per micro-batch."""
    from pyspark.sql import functions as F2

    dim = spark.range(0, 10_000).select(
        F2.col("id").alias("user_id"),
        F2.element_at(
            F2.array(*[F2.lit(s) for s in SEGMENTS]),
            (F2.col("id") % len(SEGMENTS) + 1).cast("int"),
        ).alias("segment"),
    )
    return _run_contract(
        spark,
        lambda: enriched_events_stream(spark, sf_dir, dim),
        "enrich",
        "append",
    )


def q_stream_error_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry for the watermarked stream-stream interval
    join; output is id pairs only, so the oracle is engine-portable."""
    return _run_contract(
        spark, lambda: error_click_join_stream(spark, sf_dir), "ssj", "append"
    )


def q_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry for the streaming FILE sink — the lakehouse
    landing shape: the (stateless, append-mode) event stream written as
    parquet PARTITIONED BY event_type with a checkpoint for exactly-once,
    then read back and aggregated per partition. Stateless append means
    every row is emitted regardless of watermark, so the read-back equals
    the batch table and the whole sink+readback round trip hash-checks
    against a plain SQL oracle. At scale this is how a stream lands in a
    partitioned table queryable mid-ingest; the checkpoint makes restarts
    resume instead of duplicating."""
    out, chk = _fresh_sink_dirs(sf_dir, "stream_sink_events")
    ev = stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    q = (
        ev.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .partitionBy("event_type")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_stream_upsert_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry for the foreachBatch CDC UPSERT — the
    streaming materialization of per-key state (SCD Type-1: latest value
    wins, plus a running event count) into a queryable parquet table.

    Each micro-batch folds into the previous state snapshot with one
    grouped max_by/sum merge and writes a NEW versioned snapshot
    (write-new-then-advance, so a crashed batch never corrupts the
    current version — the poor-man's transaction log a Delta/Hudi table
    formalizes; at 100 TB the rewrite narrows to changed partitions via
    partitionBy on a stable key hash instead of full-table rewrite).
    The final snapshot hash-checks against the batch argmax oracle, so
    upsert semantics (ts, event_id tie-break) can't drift from batch.
    """
    out, chk = _fresh_sink_dirs(sf_dir, "stream_upsert_user_state")

    state = {"path": None}

    def merge_batch(bdf: DataFrame, bid: int) -> None:
        upsert_user_state(bdf, state, out, bid)

    ev = stream_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    q = (
        ev.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = spark.read.parquet(state["path"])
    return snap.select(
        "user_id",
        "n_events",
        F.round("last_value", 2).alias("last_value"),
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
    )


def upsert_user_state(bdf: DataFrame, state: dict, out: str, bid: int) -> None:
    """One micro-batch of the CDC upsert: fold the batch into the previous
    snapshot (latest (ts, event_id) wins per user; event counts add) and
    write snapshot version ``bid``. Factored out of the stream so tests
    can drive a multi-batch sequence directly (the fixture backfill is a
    single availableNow batch)."""
    spark = bdf.sparkSession
    batch_state = bdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max_by(
            F.struct("value", "ts", "event_id"), F.struct("ts", "event_id")
        ).alias("last"),
    )
    cur = batch_state.select(
        "user_id",
        "n_events",
        F.col("last.value").alias("last_value"),
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_id").alias("last_event_id"),
    )
    if state["path"] is not None:
        prev = spark.read.parquet(state["path"])
        cur = (
            prev.unionByName(cur)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.max_by(
                    F.struct("last_value", "last_ts", "last_event_id"),
                    F.struct("last_ts", "last_event_id"),
                ).alias("last"),
            )
            .select(
                "user_id",
                "n_events",
                F.col("last.last_value").alias("last_value"),
                F.col("last.last_ts").alias("last_ts"),
                F.col("last.last_event_id").alias("last_event_id"),
            )
        )
    newp = os.path.join(out, f"v{bid}")
    cur.write.mode("overwrite").parquet(newp)
    state["path"] = newp


# --- live unbounded-source probe (rate source) -------------------------------

RATE_ROWS_PER_SEC = 500
RATE_LATE_MOD = 10  # every RATE_LATE_MOD-th row arrives late
RATE_LATENESS_SEC = 30  # how late those rows claim to be
RATE_WINDOW_SEC = 5
RATE_WATERMARK_SEC = 5


def rate_lateness_stream(
    spark: SparkSession,
    rows_per_second: int = RATE_ROWS_PER_SEC,
    late_mod: int = RATE_LATE_MOD,
    lateness_sec: int = RATE_LATENESS_SEC,
    window_sec: int = RATE_WINDOW_SEC,
    watermark_sec: int = RATE_WATERMARK_SEC,
) -> DataFrame:
    """Watermarked tumbling count over a LIVE unbounded ``rate`` source —
    the micro-benchmark shape the availableNow fixture twins cannot
    exercise: a genuinely unbounded source where the watermark advances with
    wall-clock batches and too-late rows are dropped from the state
    store at runtime (observable as numRowsDroppedByWatermark in query
    progress, which the availableNow single-batch backfill never
    reports non-zero).

    Every ``late_mod``-th row rewinds its event time by ``lateness_sec``
    (far beyond the ``watermark_sec`` allowance), modeling a straggler
    producer; once the watermark has advanced past those rewound
    timestamps — after the first couple of micro-batches — the engine
    must drop them instead of reopening finalized windows. State is
    bounded by watermark eviction at any runtime length, the property
    that keeps this shape viable on an unbounded 100 TB/day feed."""
    src = spark.readStream.format("rate").option(
        "rowsPerSecond", str(rows_per_second)
    ).load()
    late = F.col("value") % late_mod == 0
    ev = src.select(
        F.when(
            late, F.col("timestamp") - F.expr(f"INTERVAL {lateness_sec} SECONDS")
        )
        .otherwise(F.col("timestamp"))
        .alias("ts"),
        "value",
    )
    return (
        ev.withWatermark("ts", f"{watermark_sec} seconds")
        .groupBy(F.window("ts", f"{window_sec} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
    )
