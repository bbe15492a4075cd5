"""Whole-table utility operators a data-pipeline team reaches for daily:
one-pass column profiling and snapshot diffing (CDC-style change
detection). No reference counterpart; both are pure DataFrame compositions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import ppm
from ..sources.tables import load

PROFILE_TABLE = "lineitem"
PROFILE_COLS = (
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
)


def profile_columns(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_value, max_value) per
    column, as a union of per-column aggregate branches. min/max are cast
    to string so heterogeneous column types share one output schema.

    Deliberately NOT a single multi-distinct agg: N countDistinct columns
    in one agg force an Expand xN+1 of every row with no partial
    aggregation (measured 10x slower at sf0.1). As separate branches each
    scan prunes to ONE column (nearly free on a column store) and each
    distinct runs as an ordinary two-phase partial aggregate."""
    from functools import reduce

    def branch(c: str) -> DataFrame:
        return df.agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_value"),
            F.max(c).cast("string").alias("max_value"),
        )

    return reduce(lambda a, b: a.unionByName(b), [branch(c) for c in cols])


def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_columns(load(spark, sf_dir, PROFILE_TABLE), PROFILE_COLS)


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """(key, change_type): rows added/removed/changed between two snapshots
    of the same table — one full-outer join on the key plus per-column
    null-safe comparisons; unchanged rows are dropped. The join shuffles
    both sides once on the key; at 100 TB both snapshots would be bucketed
    on the key, making the diff shuffle-free (sources/bucketing.py)."""
    # presence flags are sentinel columns, not payload nullability (a
    # legitimately-NULL payload column must not read as "row absent")
    o = old.select(
        key, F.lit(1).alias("_o"), *[F.col(c).alias(f"o_{c}") for c in cols]
    )
    n = new.select(
        key, F.lit(1).alias("_n"), *[F.col(c).alias(f"n_{c}") for c in cols]
    )
    joined = o.join(n, key, "full_outer")
    differs = F.lit(False)
    for c in cols:
        differs = differs | ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
    change = (
        F.when(F.col("_o").isNull(), "added")
        .when(F.col("_n").isNull(), "removed")
        .when(differs, "changed")
    )
    return (
        joined.select(key, change.alias("change_type"))
        .where(F.col("change_type").isNotNull())
    )


# Derived snapshot pair over events (the fixtures ship no history): the
# "old" snapshot drops event_id % 10 == 0, the "new" one drops
# event_id % 7 == 0 and bumps value where event_id % 3 == 0 — yielding
# all three change classes deterministically.
DIFF_COLS = ["user_id", "event_type", "value"]


def _snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = load(spark, sf_dir, "events").select("event_id", *DIFF_COLS)
    old = ev.where(F.col("event_id") % 10 != 0)
    new = ev.where(F.col("event_id") % 7 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 3 == 0, F.col("value") + 1).otherwise(
            F.col("value")
        ),
    )
    return old, new


def q_events_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _snapshots(spark, sf_dir)
    return snapshot_diff(old, new, "event_id", DIFF_COLS)


def apply_changes(
    base: DataFrame, changes: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """CDC apply / MERGE: ``changes`` rows carry (key, op, seq, payload
    cols); op 'delete' drops the key from the base, 'upsert'
    inserts-or-replaces its payload, and when a key has several change
    rows the highest ``seq`` wins (the replay-order contract every CDC
    consumer needs; seq is unique per key by construction of a change
    feed — asserted for the derived fixture feed by
    tests/test_table_ops.py — and a violating feed still resolves
    DETERMINISTICALLY: the ordering struct extends (seq) with (op,
    payload), so equal-seq rows pick the lexicographically greatest
    change instead of a partition-order coin flip). Plan: latest-per-key
    is a partial-aggregatable max_by — not a key-partitioned window,
    which would pin a hot key's entire change history (millions of
    updates to one row is a normal CDC shape) in a single task — then
    one left-anti join and a union; with base and changes bucketed on
    the key (sources/bucketing.py) the join exchanges disappear at
    scale, and no collect or driver-side state anywhere."""
    latest = (
        changes.groupBy(key)
        .agg(
            F.max_by(
                F.struct("op", *cols), F.struct("seq", "op", *cols)
            ).alias("_m")
        )
        .select(key, "_m.*")
    )
    kept = base.join(latest.select(key), key, "left_anti")
    ups = latest.where(F.col("op") == "upsert").select(key, *cols)
    return kept.unionByName(ups)


def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed between the two derived snapshots: the same one-pass
    full-outer comparison as snapshot_diff, but carrying the new payload
    so the feed can be replayed (op, seq, payload)."""
    old, new = _snapshots(spark, sf_dir)
    o = old.select(
        "event_id",
        F.lit(1).alias("_o"),
        *[F.col(c).alias(f"o_{c}") for c in DIFF_COLS],
    )
    n = new.select(
        "event_id",
        F.lit(1).alias("_n"),
        *[F.col(c).alias(f"n_{c}") for c in DIFF_COLS],
    )
    joined = o.join(n, "event_id", "full_outer")
    differs = F.lit(False)
    for c in DIFF_COLS:
        differs = differs | ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
    op = (
        F.when(F.col("_n").isNull(), "delete")
        .when(F.col("_o").isNull() | differs, "upsert")
    )
    return (
        joined.select(
            "event_id",
            op.alias("op"),
            F.lit(1).cast("bigint").alias("seq"),
            *[F.col(f"n_{c}").alias(c) for c in DIFF_COLS],
        )
        .where(F.col("op").isNotNull())
    )


def q_events_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replaying the change feed onto the old snapshot must reproduce the
    new snapshot exactly — the oracle computes the new snapshot directly,
    so the hash-match IS the merge-correctness proof."""
    old, _ = _snapshots(spark, sf_dir)
    merged = apply_changes(old, _changes(spark, sf_dir), "event_id", DIFF_COLS)
    return merged.select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_rows_per_file: int,
) -> DataFrame:
    """Small-files compaction — the table-maintenance pass every
    long-lived ingest needs (streaming sinks and micro-batch writers
    fragment a table into thousands of tiny files; scan cost then goes
    per-file, not per-byte). Rewrites ``in_path`` into
    ceil(rows / target_rows_per_file) files at ``out_path`` and returns a
    one-row stats frame (n_files_before, n_files_after, n_rows).

    Shape: one count (column-pruned scan), one repartition write. The
    repartition is round-robin — compaction has no key, so no skew; at
    cluster scale this is the OPTIMIZE/rewrite-data-files maintenance job
    table formats schedule, expressed directly on parquet directories.
    Rewriting to a NEW path keeps the operation atomic-by-rename for the
    caller (swap the table location after success) instead of mutating
    the live directory in place."""
    import math
    import os

    df = spark.read.parquet(in_path)
    n_rows = df.count()
    n_files_before = sum(
        1
        for root, _, files in os.walk(in_path)
        for f in files
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(n_rows / max(target_rows_per_file, 1)))
    df.repartition(n_out).write.mode("overwrite").parquet(out_path)
    n_files_after = sum(
        1
        for root, _, files in os.walk(out_path)
        for f in files
        if f.endswith(".parquet")
    )
    return spark.createDataFrame(
        [(n_files_before, n_files_after, n_rows)],
        "n_files_before int, n_files_after int, n_rows bigint",
    )


PARTITION_PROBE_DAY = "2024-01-15"


def q_partitioned_day_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned batch lakehouse write + partition-pruned read:
    events land partitioned by event date (dynamic partition overwrite,
    one directory per day), then one day is read back through a foldable
    partition predicate — the scan touches exactly that directory
    (PartitionFilters in the plan, asserted in tests), never the table.
    The batch twin of stream_partitioned_sink's landing layout, and the
    date-partitioned layout every time-series lake uses so daily
    pipelines pay O(day), not O(history).

    Returns the probed day's per-type counts; the oracle recomputes them
    from the raw table, so hash parity proves the partitioned write is
    lossless."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..sources.tables import load

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_events_by_day_{sf_tag}"
    )
    ev = load(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(path)
    day = spark.read.parquet(path).where(
        F.col("event_date") == PARTITION_PROBE_DAY
    )
    # directory-name partition values are type-inferred as DATE on read;
    # render back to the written string form for a type-stable contract
    day = day.withColumn("event_date", F.col("event_date").cast("string"))
    return day.groupBy("event_date", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


EVOLUTION_SPLIT_DAY = "2024-01-15"  # gen1 = before, gen2 = on/after


def q_schema_evolution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read over a two-generation landing: generation 1
    landed WITHOUT the props column, generation 2 added it — the additive
    column migration every long-lived lakehouse table goes through. The
    unified read uses parquet mergeSchema (footer union across files);
    missing columns surface as nulls, so per-type props coverage counts
    exactly the gen-2 rows. At scale mergeSchema is a read-side flag, not
    a rewrite — old files are never touched, which is the point.

    Returns (event_type, n_events, sum_value, n_with_props).
    """
    import os
    import tempfile

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    split = F.lit(EVOLUTION_SPLIT_DAY).cast("date")
    gen1 = ev.where(F.to_date("ts") < split).drop("props")
    gen2 = ev.where(F.to_date("ts") >= split)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_schema_evo_{sf_tag}"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    back = spark.read.option("mergeSchema", "true").parquet(base)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count("props").alias("n_with_props"),
    )


ERASURE_USER_MOD = 17  # user_id % 17 == 0 plays the erasure-request list


def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(table_name, n_rows_affected, n_keys_affected): the
    right-to-erasure impact audit — for a deterministic erasure-request
    list (hash-derived here; a broadcast list table in production), how
    many rows and distinct keys each table would lose. The compliance
    dry-run a privacy pipeline executes before the actual delete; the
    delete itself is apply_changes with tombstones.

    Scale shape: the request list broadcasts; each table pays one
    semi-join + one aggregate on its own scan. Tables audit
    independently — the union is a plan of parallel branches."""
    ev = load(spark, sf_dir, "events")
    affected = F.col("user_id") % ERASURE_USER_MOD == 0
    ev_row = ev.where(affected).agg(
        F.lit("events").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows_affected"),
        F.countDistinct("user_id").alias("n_keys_affected"),
    )
    cust = load(spark, sf_dir, "customer")
    cust_row = cust.where(F.col("c_custkey") % ERASURE_USER_MOD == 0).agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows_affected"),
        F.countDistinct("c_custkey").alias("n_keys_affected"),
    )
    orders = load(spark, sf_dir, "orders")
    ord_row = orders.where(F.col("o_custkey") % ERASURE_USER_MOD == 0).agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_rows_affected"),
        F.countDistinct("o_custkey").alias("n_keys_affected"),
    )
    return ev_row.unionByName(cust_row).unionByName(ord_row)


def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_events, sum_value): a per-type aggregate REFRESHED
    INCREMENTALLY — old materialized aggregate plus the CDC delta
    (removed rows retract their contribution, added rows insert theirs,
    changed rows do both) — instead of rescanning the new snapshot.
    Classic incremental view maintenance: the oracle computes the
    aggregate DIRECTLY over the new snapshot, so hash equality is the
    IVM identity refresh(old_agg, Δ) == agg(new) holding exactly.

    Scale shape: the delta derivation is the snapshot_diff full-outer
    join (bucketable on the key at scale); the aggregate merge touches
    only |group| rows. At 100 TB this is the difference between a
    maintenance job proportional to the CHANGE SET and one proportional
    to the table."""
    old, new = _snapshots(spark, sf_dir)
    old_agg = old.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("o_n"), F.sum("value").alias("o_sum")
    )
    o = old.select(
        "event_id",
        F.lit(1).alias("_o"),
        *[F.col(c).alias(f"o_{c}") for c in DIFF_COLS],
    )
    n = new.select(
        "event_id",
        F.lit(1).alias("_n"),
        *[F.col(c).alias(f"n_{c}") for c in DIFF_COLS],
    )
    j = o.join(n, "event_id", "full_outer")
    differs = F.lit(False)
    for c in DIFF_COLS:
        differs = differs | ~F.col(f"o_{c}").eqNullSafe(F.col(f"n_{c}"))
    retract = j.where(
        F.col("_o").isNotNull() & (F.col("_n").isNull() | differs)
    ).select(
        F.col("o_event_type").alias("event_type"),
        F.lit(-1).alias("dn"),
        (-F.col("o_value")).alias("dv"),
    )
    insert = j.where(
        F.col("_n").isNotNull() & (F.col("_o").isNull() | differs)
    ).select(
        F.col("n_event_type").alias("event_type"),
        F.lit(1).alias("dn"),
        F.col("n_value").alias("dv"),
    )
    deltas = (
        retract.unionByName(insert)
        .groupBy("event_type")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    merged = old_agg.join(deltas, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce("o_n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
            "n_events"
        ),
        F.round(
            F.coalesce("o_sum", F.lit(0.0)) + F.coalesce("dv", F.lit(0.0)), 2
        ).alias("sum_value"),
    )
    return merged.where(F.col("n_events") > 0)


K_ANON_THRESHOLDS = (2, 5, 10)


def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, n_cohorts, n_small_cohorts, n_users_at_risk, risk_ppm): the
    k-anonymity audit a privacy pipeline runs before releasing
    per-cohort aggregates — users are binned by their quasi-identifier
    (first-active day x dominant event type, the released-report
    granularity) and any cohort with fewer than k members makes its
    users re-identifiable in the release. One row per audit threshold.
    Companion to user_erasure_audit on the governance shelf.

    The QI is deliberately the RELEASE granularity, not the full
    behavioral signature — a user's complete (type, day) history is
    essentially always unique (measured: 150/150 singleton cohorts on
    the fixture), which is the well-known result that behavioral
    fingerprints defeat k-anonymity; the audit's job is to check the
    coarsened release, and the QI columns are the knob a deployment
    turns.

    Shape: two partial-aggregated per-user passes (first day; dominant
    type via max_by over per-(user, type) counts, count-then-type
    struct order so ties break deterministically), one groupBy on the
    QI (hot cohorts are count-only rows, AQE-splittable), then a
    #cohorts-row scalar aggregate per threshold. Exact integer
    arithmetic throughout."""
    ev = load(spark, sf_dir, "events")
    dom = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.col("event_type"), F.struct(F.col("c"), F.col("event_type"))
            ).alias("dom")
        )
    )
    first = ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("first_day")
    )
    cohorts = (
        first.join(dom, "user_id")
        .select(F.concat_ws(":", "first_day", "dom").alias("qi"))
        .groupBy("qi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # ONE cohort lineage for all thresholds: explode the (tiny) k spine
    # over the cohort-count rows and aggregate per k — three separate
    # .agg() arms would recompute the per-user passes three times (the
    # branches are opaque to Catalyst subplan sharing; measured 12 vs 4
    # exchanges in PLAN_AUDIT).
    ks = F.explode(
        F.array(*[F.lit(k).cast("int") for k in K_ANON_THRESHOLDS])
    )
    out = (
        cohorts.select(ks.alias("k"), "c")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cohorts"),
            F.coalesce(F.sum(F.when(F.col("c") < F.col("k"), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_small_cohorts"),
            F.coalesce(
                F.sum(F.when(F.col("c") < F.col("k"), F.col("c"))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_users_at_risk"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("_n"),
        )
    )
    return out.select(
        "k",
        "n_cohorts",
        "n_small_cohorts",
        "n_users_at_risk",
        ppm("n_users_at_risk", "_n").alias("risk_ppm"),
    )
