"""Deterministic hash sampling / splits (oracle-checked) and the
date-partitioned sink's partition-pruning property (plan-checked)."""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle

NAMES = [
    "events_hash_sample",
    "dataset_split",
    "quality_stratified_sample",
    "lang_mixture_rates",
    "lang_mixture_sample",
]


@pytest.mark.parametrize("name", NAMES)
def test_matches_oracle(spark, sf_correct, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


def test_split_fractions(spark, sf_correct):
    from bigdata_infra_cs489_spark.operators.sampling import dataset_split

    counts = {
        r["split"]: r["n"]
        for r in dataset_split(spark, sf_correct).groupBy("split").count()
        .withColumnRenamed("count", "n").collect()
    }
    total = sum(counts.values())
    assert set(counts) == {"train", "val", "test"}
    assert 0.7 < counts["train"] / total < 0.9
    assert counts["val"] / total < 0.2 and counts["test"] / total < 0.2


def test_mixture_rebalances_token_mass(spark, sf_correct):
    """The smallest language is kept whole (ppm = 1e6) and every kept
    language's expected token mass is ~the smallest language's mass."""
    from bigdata_infra_cs489_spark.operators.sampling import lang_mixture_rates

    rows = lang_mixture_rates(spark, sf_correct).collect()
    assert rows
    mn = min(r.total_tokens for r in rows)
    for r in rows:
        assert r.keep_ppm == (mn * 1_000_000) // r.total_tokens
        assert 0 < r.keep_ppm <= 1_000_000
    assert any(r.keep_ppm == 1_000_000 for r in rows)


def test_sample_stable_under_repartition(spark, sf_correct):
    """Membership is a pure function of the key — repartitioning the input
    must not change which rows are kept (the property df.sample lacks)."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.functions.hashing import h8
    from bigdata_infra_cs489_spark.operators.sampling import SAMPLE_PCT
    from bigdata_infra_cs489_spark.sources.tables import load

    base = {
        r["event_id"]
        for r in load(spark, sf_correct, "events")
        .where(h8(F.col("event_id").cast("string")) % 100 < SAMPLE_PCT)
        .select("event_id").collect()
    }
    rep = {
        r["event_id"]
        for r in load(spark, sf_correct, "events").repartition(17)
        .where(h8(F.col("event_id").cast("string")) % 100 < SAMPLE_PCT)
        .select("event_id").collect()
    }
    assert base == rep and len(base) > 0


def test_partitioned_sink_prunes(spark, sf_correct, tmp_path):
    """A date-equality read of the partitioned copy must plan partition
    pruning (non-empty PartitionFilters) and return exactly the rows a
    full-scan filter returns."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.sources.partitioning import (
        scan_is_partition_pruned,
        write_date_partitioned,
    )
    from bigdata_infra_cs489_spark.sources.tables import load

    ev = load(spark, sf_correct, "events")
    path = str(tmp_path / "events_by_date")
    write_date_partitioned(ev, path)

    day = "2024-01-05"
    pruned = spark.read.parquet(path).where(
        F.col("event_date") == F.lit(day)
    )
    assert scan_is_partition_pruned(pruned)

    expect = ev.where(F.to_date("ts") == F.lit(day)).count()
    assert pruned.count() == expect and expect > 0

    # an unfiltered read must NOT claim pruning (guards the helper itself)
    assert not scan_is_partition_pruned(spark.read.parquet(path))


def test_stratified_sample_rates_decrease_with_quality(spark, sf_correct):
    """Keep-fraction must fall from the best quartile to the worst
    (within hash noise): quartile 1 keeps everything, quartile 4 almost
    nothing."""
    from bigdata_infra_cs489_spark.operators.sampling import (
        quality_stratified_sample,
    )

    kept = {
        r["quartile"]: r["n"]
        for r in quality_stratified_sample(spark, sf_correct)
        .groupBy("quartile").count().withColumnRenamed("count", "n").collect()
    }
    assert kept.get(1, 0) > kept.get(2, 0) > kept.get(4, 0)
    assert kept.get(3, 0) > kept.get(4, 0)


def test_source_capped_sample_caps_and_is_deterministic(spark, sf_correct):
    """Per-source cap: no source exceeds CAP_PER_SOURCE, under-cap
    sources keep every doc, and the kept set is run-stable."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.sampling import (
        CAP_PER_SOURCE,
        source_capped_sample,
    )
    from bigdata_infra_cs489_spark.sources.tables import load

    kept = source_capped_sample(spark, sf_correct)
    per_source = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per_source and all(n <= CAP_PER_SOURCE for n in per_source.values())

    totals = {
        r["source"]: r["n"]
        for r in load(spark, sf_correct, "documents")
        .groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for s, total in totals.items():
        assert per_source.get(s, 0) == min(total, CAP_PER_SOURCE)

    again = source_capped_sample(spark, sf_correct)
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, again.collect()))


PARTITIONING_SENSITIVE = [
    # distsort-backed total orders, the grouped-fold trainer, and the
    # fan-out WAU — the operators whose WRONG implementation would vary
    # with the physical partitioning
    "order_quartiles",
    "customer_rfm",
    "sequence_pack",
    "token_budget_pack",
    "spam_train_shuffled",
    "weekly_active_users",
]


def test_results_invariant_to_shuffle_partitioning(spark, sf_smoke):
    """Identical canonical results at 3 vs 19 shuffle partitions: global
    order, prefix sums, ntiles, and sequential folds must not depend on
    how the cluster happens to be partitioned."""
    import __spark_entry__ as entrymod

    from .oracle import _canon

    qs = entrymod.queries()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for npart in ("3", "19"):
            spark.conf.set("spark.sql.shuffle.partitions", npart)
            for name in PARTITIONING_SENSITIVE:
                df = qs[name](spark, sf_smoke)
                results.setdefault(name, []).append(
                    _canon([tuple(r) for r in df.collect()], df.columns)
                )
        for name, (a, b) in results.items():
            assert a == b, f"{name} varies with shuffle partitioning"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_weighted_sample_matches_oracle_and_invariants(spark, sf_smoke):
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    name = "weighted_sample_topn"
    assert_matches_oracle(qs[name](spark, sf_smoke), oracles[name], sf_smoke)

    from bigdata_infra_cs489_spark.operators.sampling import (
        WEIGHTED_SAMPLE_N,
        weighted_sample_topn,
    )

    rows = weighted_sample_topn(spark, sf_smoke).collect()
    assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))
    assert len(rows) == min(WEIGHTED_SAMPLE_N, 500)
    by_rank = sorted(rows, key=lambda r: r.rank)
    assert all(
        a.key >= b.key for a, b in zip(by_rank, by_rank[1:])
    ), "keys must be non-increasing in rank"
    assert all(0 < r.key <= 1 for r in rows)


def test_lang_temperature_rates_flatten(spark, sf_smoke):
    """alpha < 1 must compress the share distribution: the largest
    language's temperature share drops below its raw share, the smallest
    positive language's rises above it; keep_ppm tops out at exactly 1e6
    on the most-upweighted language; the sample obeys the hash rule."""
    import hashlib

    from bigdata_infra_cs489_spark.operators.sampling import (
        TEMP_MIX_SALT,
        lang_temperature_rates,
        lang_temperature_sample,
    )

    rows = {r.lang: r for r in lang_temperature_rates(spark, sf_smoke).collect()}
    pos = [r for r in rows.values() if r.total_tokens > 0]
    assert abs(sum(r.p_raw for r in pos) - 1.0) < 1e-4
    assert abs(sum(r.p_temp for r in pos) - 1.0) < 1e-4
    big = max(pos, key=lambda r: r.total_tokens)
    small = min(pos, key=lambda r: r.total_tokens)
    if big.total_tokens > small.total_tokens:
        assert big.p_temp < big.p_raw
        assert small.p_temp > small.p_raw
    assert max(r.keep_ppm for r in pos) == 1_000_000
    kept = lang_temperature_sample(spark, sf_smoke).collect()
    for r in kept:
        h = int(hashlib.md5(f"{r.doc_id}{TEMP_MIX_SALT}".encode()).hexdigest()[:8], 16)
        assert h % 1_000_000 < rows[r.lang].keep_ppm
    assert 0 < len(kept)
