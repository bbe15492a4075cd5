"""Foreign-session hardening: the driver runs queries in ITS OWN
SparkSession — none of session.py's engine confs apply unless the
engine re-asserts them at load time (sources/tables.py::read_events,
behind both the batch and the streaming events reads, re-pins the UTC
session timezone; everything else must be expressed per-query).

This test builds a deliberately HOSTILE session — same SparkContext,
fresh SQLConf via newSession(), timezone forced to America/New_York,
shuffle partitions to an awkward 7, adaptive execution off — and runs
a representative query spread (timestamp-heavy events family, window
functions, hash sampling, text pipeline, TPC-H relational, SCD2
summary) against the DuckDB oracles. Matching under a non-UTC session
proves every correctness-relevant conf is either per-query or
re-asserted, not inherited from the factory.
"""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle

# spread chosen to touch: ts normalization + date_format rendering
# (events_*), per-user windows (user_rolling_value, events_sessionize),
# the portable salted hash (dataset_split, events_hash_sample), the
# tokenizer pipeline (token_counts, lang_mixture_rates), date predicates
# on TPC-H (q6), and microsecond timestamp rendering (user_scd2_history).
HOSTILE_QUERIES = (
    "q6_pricing_summary",
    "events_tumbling_counts",
    "events_sessionize",
    "events_json_stats",
    "events_asof_last_click",
    "user_rolling_value",
    "dataset_split",
    "events_hash_sample",
    "token_counts",
    "lang_mixture_rates",
    "user_scd2_history",
    # one representative per newest family: k-gram span dedup, PQ probe,
    # and the composed curation pipelines (touch dedup+spans+quality+
    # split+distsort in one plan); temperature rates pin the driver-side
    # float finish under a foreign session
    "repeated_spans_variants",
    "pq_topk",
    "corpus_curate",
    "incremental_curate",
    "lang_temperature_rates",
    "semantic_dedup_keep_best",
    "chunk_embed_topk",
    # round-7 registrations: regex pipelines (PII), integer rule gates
    # (Gopher), and the DSIR driver-side log finish + broadcast probe
    "pii_redact",
    "gopher_pass_rates",
    "dsir_topk",
    # round-9 registrations: per-type daily z-scores render day strings
    # under a non-UTC session; the drift card is a driver-side float
    # finish; split balance is pure integer-div arithmetic; media dedup
    # rides the hex/digest path
    "events_anomaly_days",
    "token_drift_report",
    "split_balance_report",
    "media_content_dedup",
    # round-10 registrations: the LSH tuning pair exercises the
    # micro-int Jaccard rendering and the banded candidate join under a
    # foreign shuffle-partition count; the confusion matrix rides the
    # stopword-score argmax; the recall card runs BOTH embedding pair
    # stages (exact grid + scoped) in one plan
    "jaccard_threshold_curve",
    "lsh_banding_recall",
    "langid_confusion",
    "embedding_dedup_recall",
    # round-13 registrations (the round-12 staged queue): real
    # encode->decode classification, append-delta shard arithmetic, and
    # the bitext mutual-top-k margin finish — all float/hex-sensitive
    # paths that must survive a foreign session
    "media_roundtrip_coverage",
    "incremental_training_export",
    "bitext_margin_pairs",
)


@pytest.fixture(scope="module")
def hostile(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.shuffle.partitions", "7")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    return s


@pytest.mark.parametrize("name", HOSTILE_QUERIES)
def test_oracle_parity_under_hostile_session(hostile, sf_smoke, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    assert_matches_oracle(q(hostile, sf_smoke), sql, sf_smoke)


def test_loud_failure_message_names_the_conf():
    """The nanos fallback must raise with the conf name, not degrade."""
    import inspect

    from bigdata_infra_cs489_spark.sources import tables

    src = inspect.getsource(tables.read_events)
    assert "nanosAsLong" in src and "raise RuntimeError" in src
