"""Reference-shaped golden tests (VERDICT r3 item 6).

1. PPR top-10 in the reference's 5-decimal display format: assignment4's
   extractor renders each row as ``String.format("%.5f %d", exp(logmass),
   node)`` (ExtractTopPersonalizedPageRankNodes.java:165-166). The golden
   lists below were derived from an INDEPENDENT pure-Python power
   iteration over the fixture graph (FIXTURES.md §3: nodes 0..n-1, edges
   i -> {(i*k+1) % n : k in 1..i%5}, i%5==0 dangling, alpha 0.15,
   10 iterations, sources {0,7}) — the in-test simulator re-derives them
   so the literals can't drift from the derivation. Source 0 is dangling,
   so every iteration returns its full mass: the top-10 is the degenerate
   [1.00000 at 0, 0.00000 elsewhere] — exactly the missing-mass semantics
   the reference's phase-2 job implements (iteratePageRank :455-465).

2. Ensemble ordering (assignment6.md:3-15): the reference's published
   1-ROCA% figures order vote (15.43) < average (15.69) < worst single
   (17.64). The same strict ordering must hold for this engine's
   ensembles on the fixture corpus.
"""

from __future__ import annotations

import duckdb
import pytest

ALPHA, ITERATIONS, SOURCES, TOP_K = 0.15, 10, (0, 7), 10

# independently derived (see module docstring); re-checked by the
# simulator below before being asserted against the Spark output
GOLDEN = {
    0: [
        "1.00000 0",
        "0.00000 1",
        "0.00000 2",
        "0.00000 3",
        "0.00000 4",
        "0.00000 5",
        "0.00000 6",
        "0.00000 7",
        "0.00000 8",
        "0.00000 9",
    ],
    7: [
        "0.37760 7",
        "0.15916 8",
        "0.15916 15",
        "0.04577 9",
        "0.04577 17",
        "0.04577 25",
        "0.01907 35",
        "0.01893 18",
        "0.01511 37",
        "0.01510 19",
    ],
}


def _simulate(n: int) -> dict[int, list[str]]:
    adj = {
        i: ([] if i % 5 == 0 else sorted({(i * k + 1) % n for k in range(1, i % 5 + 1)}))
        for i in range(n)
    }
    out = {}
    for s in SOURCES:
        mass = [0.0] * n
        mass[s] = 1.0
        for _ in range(ITERATIONS):
            recv = [0.0] * n
            for i in range(n):
                if adj[i]:
                    share = mass[i] / len(adj[i])
                    for d in adj[i]:
                        recv[d] += share
            missing = max(0.0, 1.0 - sum(recv))
            mass = [
                (1 - ALPHA) * recv[i]
                + ((ALPHA + (1 - ALPHA) * missing) if i == s else 0.0)
                for i in range(n)
            ]
        top = sorted(range(n), key=lambda i: (-round(mass[i], 6), i))[:TOP_K]
        out[s] = ["%.5f %d" % (round(mass[i], 6), i) for i in top]
    return out


def _fmt(rows) -> dict[int, list[str]]:
    by: dict[int, list[str]] = {s: [] for s in SOURCES}
    for r in rows:
        by[r.source].append("%.5f %d" % (r.mass, r.node_id))
    return by


def test_ppr_top10_matches_reference_5dp_format(spark, sf_smoke):
    from bigdata_infra_cs489_spark.operators.graph import ppr_top_k

    n = (
        duckdb.connect()
        .execute(
            f"select count(*) from read_parquet('{sf_smoke}/documents.parquet')"
        )
        .fetchone()[0]
    )
    assert _simulate(n) == GOLDEN, "golden literals drifted from derivation"
    assert _fmt(ppr_top_k(spark, sf_smoke).collect()) == GOLDEN


def test_ensemble_ordering_matches_reference(spark, sf_smoke):
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators import ml as M

    scored = M._ensemble_scores(spark, sf_smoke)
    singles = [
        M.ranking_auc(
            scored.select("label", F.col(f"score_{i}").alias("score"))
        ).collect()[0].roca_pct
        for i in range(M.N_ENSEMBLE)
    ]
    avg = M.ranking_auc(M.apply_ensemble_average(spark, sf_smoke)).collect()[0].roca_pct
    vote = M.ranking_auc(M.apply_ensemble_vote(spark, sf_smoke)).collect()[0].roca_pct
    worst = max(singles)
    assert vote < avg < worst, (
        f"expected vote < avg < worst single (reference: 15.43 < 15.69 < "
        f"17.64); got vote={vote} avg={avg} singles={singles}"
    )
