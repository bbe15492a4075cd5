"""Catalog-wide physical-plan hygiene: invariants that keep every
registered query on the fast path, checked from the plan itself so a
regression in any operator module fails loudly.

- No BatchEvalPython anywhere: row-at-a-time Python UDFs are banned; the
  only Python surfaces are Arrow-batched (ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas), which appear under different plan nodes.
- No single-partition Window: a partition-less window spec funnels the
  whole input through one task; total-order operators must go through
  the distributed prefix primitives (operators/distsort.py) instead.
- Every parquet scan is vectorized (Batched: true).
"""

from __future__ import annotations

import re

import pytest

# Iterative drivers (collect between rounds) are exercised by their own
# tests and priced by bench; building their final-plan string here would
# re-run the whole loop, so they are asserted separately below.
ITERATIVE = {
    "ppr_topk",
    "ppr_mass_conservation",
    "pagerank_topk",
    "crawl_pagerank",
    "ivf_train_centroids",
    "ivf_topk_trained",
    "ivf_centroid_norms",
    "bpe_merges",
    "bpe_token_counts",
    "bpe_vocab_coverage",
    "spam_train",
    "spam_train_shuffled",
    "near_duplicate_clusters",
    # built on the full CC loop above — same exclusion rationale
    "dedup_keep_best",
    "leakage_safe_split",
    "incremental_dedup_assign",
    "dedup_index_commit",
    # the stream_* driver-contract queries execute a complete
    # availableNow streaming job just to build the final memory-table
    # scan — their plans are post-hoc scans, not worth the run
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stream_session_windows",
    "stream_running_counts",
    "stream_dedup",
    "stream_enriched",
    "stream_error_click_join",
    "stream_partitioned_sink",
    "stream_upsert_user_state",
    "stream_token_drift",
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _all_queries():
    import __spark_entry__ as entrymod

    return [(n, fn) for n, fn in entrymod.queries().items() if n not in ITERATIVE]


# The distsort offsets fold: a partition-less window whose order spec is
# exactly the single private `__ds_pid` key.
_DS_PID_FOLD = re.compile(r"\], \[__ds_pid#\d+ (?:ASC|DESC) NULLS (?:FIRST|LAST)\]$")


def _global_window_lines(plan: str) -> list[str]:
    # A physical Window node prints `Window [exprs], [partSpec], [orderSpec]`,
    # omitting whichever trailing spec is empty. Partition-less = fewer than
    # two trailing groups AND the sole group (if any) is an ORDER spec
    # (contains a sort direction) rather than a partition spec.
    #
    # SCOPED EXEMPTION: the distsort offsets fold — a running sum ordered
    # by `__ds_pid` alone — is a partition-less window BY DESIGN over the
    # per-partition totals frame, whose row count equals the shuffle
    # partition COUNT (bounded by config, never by data). Only an order
    # spec of exactly that one key is exempt; any other partition-less
    # window, including one ordered by `__ds_pid` plus more keys, fails.
    bad = []
    for ln in plan.splitlines():
        if not re.search(r"(?:^|[- ])Window \[", ln):
            continue
        if _DS_PID_FOLD.search(ln.strip()):
            continue
        groups = ln.count("], [")
        if groups >= 2:
            continue
        last = ln.rsplit("], [", 1)[-1]
        if groups == 0 or " ASC" in last or " DESC" in last:
            bad.append(ln.strip())
    return bad


@pytest.mark.parametrize("name,fn", _all_queries(), ids=[n for n, _ in _all_queries()])
def test_no_row_at_a_time_python(spark, sf_smoke, name, fn):
    plan = _plan(fn(spark, sf_smoke))
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    assert not _global_window_lines(plan), (
        f"{name} has a single-partition window: {_global_window_lines(plan)}"
    )


def test_ds_pid_exemption_matches_only_the_offsets_fold():
    frame = "specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)"
    fold = (
        f"+- Window [sum(__cnt#1L) windowspecdefinition(__ds_pid#2 ASC NULLS "
        f"FIRST, {frame}) AS _we0#3L], [__ds_pid#2 ASC NULLS FIRST]"
    )
    wider = (
        f"+- Window [sum(__cnt#1L) windowspecdefinition(__ds_pid#2 ASC NULLS "
        f"FIRST, x#4L ASC NULLS FIRST, {frame}) AS _we0#3L], "
        f"[__ds_pid#2 ASC NULLS FIRST, x#4L ASC NULLS FIRST]"
    )
    leading = wider.replace(
        "[__ds_pid#2 ASC NULLS FIRST, x#4L ASC NULLS FIRST]",
        "[x#4L ASC NULLS FIRST, __ds_pid#2 ASC NULLS FIRST]",
    )
    assert _global_window_lines(fold) == []
    assert _global_window_lines(wider) == [wider]
    assert _global_window_lines(leading) == [leading]


# Queries whose source is line-oriented text (.tbl CSV connector) — no
# columnar reader exists for those formats, so the vectorization invariant
# applies only to parquet-backed queries.
TEXT_SOURCES = {"tbl_scan_nation", "jsonl_roundtrip_events"}


def test_scans_are_vectorized(spark, sf_smoke):
    for name, fn in _all_queries():
        if name in TEXT_SOURCES:
            continue
        plan = _plan(fn(spark, sf_smoke))
        assert "Batched: false" not in plan, f"{name} has a non-vectorized scan"


def test_no_content_keyed_windows_in_source():
    """Round-5/6 hardening guard: windows partitioned by content-derived
    or cluster-sized keys (text digests, gram strings, near-dup
    cluster ids, per-new-doc candidate sets) pin a mass-duplicated
    value's every row in one task, and AQE cannot split skewed WINDOW
    partitions (it can split skewed joins). The skew-safe shape is a
    partial-aggregated groupBy joined back (max_by/min_by over an
    ordering struct for argmax selection) — enforce it statically so
    the pattern doesn't regress. Windows over a bare hot `source` are
    allowed only on pre-bounded inputs (the two-phase top-k's phase 2;
    PPR's per-source top-k subset)."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "bigdata_infra_cs489_spark"
    offenders = []
    pat = re.compile(
        r"Window\.partitionBy\(\s*(F\.md5|F\.xxhash64|\"gram\"|'gram'|\"dig\"|'dig'"
        r"|\"k\"|'k'|\"cluster_id\"|'cluster_id'|\"new_id\"|'new_id')"
    )
    for py in root.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if pat.search(line):
                offenders.append(f"{py.name}:{i}: {line.strip()}")
    assert offenders == [], offenders
