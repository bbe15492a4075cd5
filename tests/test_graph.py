"""Personalized PageRank: NumPy replay oracle + invariants + edge oracle."""

from __future__ import annotations

import numpy as np
import pytest

from .oracle import assert_matches_oracle


def fixture_adj(n: int) -> dict[int, list[int]]:
    """FIXTURES.md §3: i -> {(i*k+1) % n : k in 1..i%5}."""
    return {i: sorted({(i * k + 1) % n for k in range(1, i % 5 + 1)}) for i in range(n)}


def numpy_ppr(n: int, sources, iterations: int, alpha: float = 0.15):
    """Replay of the reference algorithm in linear-space float64:
    phase1 mass/outdeg along edges, phase2 jump+missing only to sources."""
    adj = fixture_adj(n)
    mass = np.zeros((len(sources), n))
    for si, s in enumerate(sources):
        mass[si, s] = 1.0
    for _ in range(iterations):
        received = np.zeros_like(mass)
        for i, nbrs in adj.items():
            if not nbrs:
                continue
            share = mass[:, i] / len(nbrs)
            for j in nbrs:
                received[:, j] += share
        missing = np.maximum(0.0, 1.0 - received.sum(axis=1))
        new = (1 - alpha) * received
        for si, s in enumerate(sources):
            new[si, s] = alpha + (1 - alpha) * (received[si, s] + missing[si])
        mass = new
    return mass


def numpy_pagerank(n: int, iterations: int, alpha: float = 0.15):
    """Uniform-teleport replay: phase1 as numpy_ppr, phase2 spreads
    alpha/N plus the missing mass/N to every node."""
    adj = fixture_adj(n)
    mass = np.full(n, 1.0 / n)
    for _ in range(iterations):
        received = np.zeros_like(mass)
        for i, nbrs in adj.items():
            for j in nbrs:
                received[j] += mass[i] / len(nbrs)
        missing = max(0.0, 1.0 - received.sum())
        mass = alpha / n + (1 - alpha) * (received + missing / n)
    return mass


def test_edges_match_oracle(spark, sf_correct):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["ppr_graph_edges"]
    sql = entrymod.oracle_sql()["ppr_graph_edges"]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


def test_ppr_matches_numpy(spark, sf_smoke):
    from bigdata_infra_cs489_spark.operators.graph import (
        SOURCES,
        personalized_pagerank,
    )

    got = {
        r.id: list(r.mass)
        for r in personalized_pagerank(spark, sf_smoke, iterations=5).collect()
    }
    n = len(got)
    want = numpy_ppr(n, SOURCES, iterations=5)
    assert set(got) == set(range(n))
    for i in range(n):
        for si in range(len(SOURCES)):
            assert got[i][si] == pytest.approx(want[si, i], abs=1e-9)


def test_ppr_mass_sums_to_one(spark, sf_smoke):
    from bigdata_infra_cs489_spark.operators.graph import personalized_pagerank

    rows = personalized_pagerank(spark, sf_smoke, iterations=3).collect()
    for si in range(2):
        total = sum(r.mass[si] for r in rows)
        assert total == pytest.approx(1.0, abs=1e-9)


def test_ppr_topk_shape(spark, sf_smoke):
    from bigdata_infra_cs489_spark.operators.graph import ppr_top_k

    rows = ppr_top_k(spark, sf_smoke, iterations=3).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r.mass)
    assert set(by_source) == {0, 7}
    for masses in by_source.values():
        assert len(masses) == 10
        assert masses == sorted(masses, reverse=True)


def test_graph_stats_match_oracle(spark, sf_correct):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["ppr_graph_stats"]
    sql = entrymod.oracle_sql()["ppr_graph_stats"]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


def test_observed_stats_match_aggregate(spark, sf_smoke):
    """The Observation metrics (same pass as materializing the graph) agree
    with the standalone one-row aggregate."""
    from bigdata_infra_cs489_spark.operators.graph import (
        graph_stats,
        graph_with_observed_stats,
    )

    g, obs = graph_with_observed_stats(spark, sf_smoke)
    g.write.format("noop").mode("overwrite").save()  # one action, no sink
    want = graph_stats(spark, sf_smoke).collect()[0].asDict()
    assert obs.get == want


def test_partition_graph_layout_and_content(spark, sf_smoke):
    from bigdata_infra_cs489_spark.operators.graph import build_graph, partition_graph

    g = build_graph(spark, sf_smoke)
    p = partition_graph(g, 4)
    assert p.rdd.getNumPartitions() == 4
    assert sorted(r["id"] for r in p.collect()) == sorted(r["id"] for r in g.collect())


@pytest.mark.parametrize("name", ["degree_distribution", "triangle_count"])
def test_graph_analytics_match_oracle(spark, sf_correct, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


def test_triangle_count_known_graph(spark):
    """K4 minus one edge has exactly 2 triangles; direction and duplicate
    edges must not change the count."""
    from bigdata_infra_cs489_spark.operators import graph as G
    from bigdata_infra_cs489_spark.sources import tables

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 4), (2, 4)],
        "src long, dst long",
    )
    orig = G.graph_edges
    try:
        G.graph_edges = lambda s, d: edges
        n = G.triangle_count(spark, "unused").collect()[0]["n_triangles"]
    finally:
        G.graph_edges = orig
    assert n == 2


def test_global_pagerank_mass_conserved_and_uniform_teleport(spark, sf_smoke):
    """Global PageRank: total mass stays 1.0 after every jump phase, and
    with uniform teleport every node's mass is strictly positive (unlike
    the personalized loop, where non-reachable nodes stay at 0)."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.graph import global_pagerank

    ranks = global_pagerank(spark, sf_smoke, iterations=3)
    rows = ranks.collect()
    total = sum(r["mass"] for r in rows)
    assert abs(total - 1.0) < 1e-9
    assert all(r["mass"] > 0 for r in rows)


def test_global_pagerank_matches_numpy(spark, sf_smoke):
    from bigdata_infra_cs489_spark.operators.graph import global_pagerank

    rows = global_pagerank(spark, sf_smoke, iterations=5).collect()
    got = {r.id: r.mass for r in rows}
    n = len(got)
    want = numpy_pagerank(n, iterations=5)
    assert set(got) == set(range(n))
    for i in range(n):
        assert got[i] == pytest.approx(want[i], abs=1e-9)


def test_pagerank_over_empty_spine_is_empty(spark):
    """The node spine defines the graph: edges whose endpoints are not
    on an empty spine give zero rank rows, not a division by zero."""
    from bigdata_infra_cs489_spark.operators.graph import pagerank_over_edges

    nodes = spark.createDataFrame([], "id bigint")
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src bigint, dst bigint")
    ranks = pagerank_over_edges(nodes, edges, 3)
    assert ranks.columns == ["id", "mass"]
    assert ranks.collect() == []


def test_label_propagation_matches_oracle_and_shape(spark, sf_smoke):
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    name = "label_propagation_communities"
    assert_matches_oracle(
        entrymod.queries()[name](spark, sf_smoke),
        entrymod.oracle_sql()[name],
        sf_smoke,
    )

    from bigdata_infra_cs489_spark.operators.graph import label_propagation
    from bigdata_infra_cs489_spark.sources.tables import load

    rows = label_propagation(spark, sf_smoke).collect()
    n = load(spark, sf_smoke, "documents").count()
    assert len(rows) == n, "every node keeps exactly one label"
    ids = {r.id for r in rows}
    assert {r.community for r in rows} <= ids, "labels are node ids"
    assert 1 < len({r.community for r in rows}) < n, (
        "communities should be a nontrivial partition on the fixture graph"
    )


def test_concurrent_ppr_drivers_match_solo_runs(spark, sf_smoke):
    """ppr_topk, ppr_mass_conservation and pagerank_topk build the SAME
    node-record plan; each call pins its own copy with localCheckpoint(),
    so no driver can drop storage another driver is still iterating
    over. Run the drivers in parallel threads several times over; every
    thread must produce its solo-run answer."""
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = ["ppr_topk", "ppr_mass_conservation", "pagerank_topk"]
    solo = {n: sorted(tuple(r) for r in qs[n](spark, sf_smoke).collect()) for n in names}

    def run(name):
        return name, sorted(tuple(r) for r in qs[name](spark, sf_smoke).collect())

    with ThreadPoolExecutor(max_workers=3) as ex:
        for name, rows in ex.map(run, names * 2):
            assert rows == solo[name], f"concurrent {name} diverged from solo run"
