"""Multi-source personalized PageRank (assignment4), DataFrame-iterative.

Reference (java/.../assignment4/):
- BuildPersonalizedPageRankRecords.java:79-119 — adjacency text -> node
  records, initial mass 1.0 at each source for its own vector slot.
- RunPersonalizedPageRankBasic.java:77-119 (phase-1 map: each node sends
  mass/outdeg to every neighbor), :208-271 (reduce: sum messages), :300-356
  (phase-2 map: missing-mass + personalized jump go ONLY to the source),
  :442-468 (driver loop; missing[i] = 1 - sum(mass[i]), clamped at 0).
- ExtractTopPersonalizedPageRankNodes.java — per-source top-k.

Spark-first translation:
- The tagged-union shuffle (mass messages + structure records in one
  stream, PageRankNode.Type) becomes ranks ⋈ graph + explode(adj) +
  groupBy(dst) — one shuffle per iteration, the graph table reused as-is.
- Log-space float32 arithmetic (sumLogProbs, :617-629) is replaced by
  linear-space float64: fp64 holds ~15 significant digits, so underflow
  that motivated log-space float32 cannot occur at any realistic graph
  scale (SURVEY §4 risk note); the pytest NumPy oracle pins the numerics.
- Per-source vectors stay ArrayType(DoubleType) columns, summed per
  slot by k scalar F.sum aggregates, never a Python UDF.
- One iteration (_pagerank) serves personalized and uniform PageRank;
  only the phase-2 jump differs. Each call pins its node records once
  with localCheckpoint(): the pin belongs to the call, whereas cache()
  storage is shared by every frame with the same plan, so one caller's
  unpersist() would drop another's. A lazy localCheckpoint() each
  iteration truncates lineage (the reference's SequenceFile round-trip
  between jobs); on a cluster use checkpoint() to a reliable dir instead.

The fixture graph (FIXTURES.md §3): nodes = documents.doc_id (0..n-1),
edges i -> {(i*k+1) % n : k in 1..(i%5)}, so i%5==0 nodes are dangling and
exercise missing-mass redistribution. Sources {0, 7}.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load

ALPHA = 0.15  # RunPersonalizedPageRankBasic.java ALPHA
SOURCES = (0, 7)  # FIXTURES.md §3
DEFAULT_ITERATIONS = 10
TOP_K = 10


def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixture edge list (src, dst), distinct.

    Derivation rule from FIXTURES.md §3; built with sequence+explode so the
    generation itself is distributed (no driver-side loop).
    """
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("src"))
    n = docs.count()
    return (
        # i%5 == 0 nodes are dangling: filter BEFORE sequence() — Spark's
        # sequence(1, 0) would descend and fabricate edges.
        docs.where(F.col("src") % 5 >= 1)
        .withColumn("k", F.explode(F.sequence(F.lit(1), F.col("src") % 5)))
        .select("src", ((F.col("src") * F.col("k") + 1) % F.lit(n)).alias("dst"))
        .distinct()
    )


def _node_records(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, adj array<long>, outdeg) over an (id) spine and (src, dst)
    edges; nodes without out-edges keep an empty adj
    (BuildPersonalizedPageRankRecords.java:81-97). Parallel edges keep
    their multiplicity: outdeg counts edge rows."""
    adj = edges.groupBy(F.col("src").alias("id")).agg(
        F.sort_array(F.collect_list("dst")).alias("adj")
    )
    return (
        nodes.join(adj, "id", "left")
        .select(
            "id",
            F.coalesce("adj", F.array().cast("array<bigint>")).alias("adj"),
        )
        .withColumn("outdeg", F.size("adj"))
    )


def build_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node records of the fixture graph (documents spine, graph_edges)."""
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    return _node_records(docs, graph_edges(spark, sf_dir))


def partition_graph(graph: DataFrame, n_partitions: int) -> DataFrame:
    """Hash-repartition node records on id (SURVEY M4, PartitionGraph.java).

    The reference job is an identity MapReduce whose only effect is the
    default hash partitioner; its ``useRange`` flag is parsed but never
    wired (PartitionGraph.java:91) — deliberately not replicated. In this
    engine the iteration's groupBy already hash-partitions by id, so this
    exists for explicit layout control (e.g. matching a bucketed sink)."""
    return graph.repartition(n_partitions, "id")


def graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(num_nodes, num_edges, num_dangling) — the reference's counter
    side-aggregates (SURVEY A8: BuildPersonalizedPageRankRecords.java:99-104
    NODE_COUNT/EDGE_COUNT counters) as a one-row aggregate over the node
    records; no separate metric channel needed."""
    g = build_graph(spark, sf_dir)
    return g.agg(
        F.count(F.lit(1)).alias("num_nodes"),
        F.sum("outdeg").cast("bigint").alias("num_edges"),
        F.sum((F.col("outdeg") == 0).cast("bigint")).alias("num_dangling"),
    )


def graph_with_observed_stats(spark: SparkSession, sf_dir: str):
    """build_graph plus an attached ``Observation`` — the closer analogue of
    MapReduce counters when the node records themselves are the job output:
    metrics fall out of the SAME pass that materializes the graph, no
    second scan. Returns (DataFrame, Observation); read
    ``observation.get`` after an action on the DataFrame."""
    from pyspark.sql import Observation

    obs = Observation("graph_stats")
    g = build_graph(spark, sf_dir).observe(
        obs,
        F.count(F.lit(1)).alias("num_nodes"),
        F.sum("outdeg").cast("bigint").alias("num_edges"),
        F.sum((F.col("outdeg") == 0).cast("bigint")).alias("num_dangling"),
    )
    return g, obs


def _pagerank(
    graph: DataFrame,
    init: list[Column],
    iterations: int,
    jump: Callable[[int, Column, float], Column],
) -> DataFrame:
    """The two-phase iteration over pinned node records; returns
    (id, mass array<double>) with one slot per ``init`` column.

    Phase 1 sends mass/outdeg along every edge and sums it per node;
    phase 2 is ``jump(i, mass_i, missing_i)``, where ``missing_i`` is the
    slot's unreceived mass, 1 - total, clamped at 0 (iteratePageRank
    :455-465)."""
    k = len(init)
    ranks = graph.select("id", F.array(*init).alias("mass"))
    for _ in range(iterations):
        # phase 1: distribute mass along edges, sum per destination. The
        # per-slot contributions are k scalar columns, not an array fold
        # over collect_list: F.sum gets map-side partial aggregation, while
        # collect_list would buffer every incoming message per node (an
        # executor-memory hazard on high-in-degree nodes at scale).
        msgs = (
            ranks.join(graph, "id")
            .where(F.col("outdeg") > 0)
            .select(
                F.explode("adj").alias("id"),
                *[
                    (F.element_at("mass", i + 1) / F.col("outdeg")).alias(f"c{i}")
                    for i in range(k)
                ],
            )
            .groupBy("id")
            .agg(*[F.sum(f"c{i}").alias(f"m{i}") for i in range(k)])
        )

        # lazily checkpoint received mass (the reference's per-iteration
        # SequenceFile, RunPersonalizedPageRankBasic.java:513-514): the
        # missing-mass aggregate below is then the ONE action per iteration
        # that both computes the shuffle and pins its result, truncating
        # lineage without a second materialization pass. The spine is the
        # pinned graph's id column (same id set by construction — ranks is
        # always a narrow map over it), so no spine reads the previous
        # checkpoint. A persist() pin would keep more partitioning
        # metadata but truncates no plan: each iteration would embed the
        # previous one twice and analysis grows 2^iterations.
        received = (
            graph.select("id")
            .join(msgs, "id", "left")
            .select(
                "id",
                F.array(
                    *[F.coalesce(F.col(f"m{i}"), F.lit(0.0)) for i in range(k)]
                ).alias("mass"),
            )
            .localCheckpoint(eager=False)
        )
        totals = received.agg(
            *[F.sum(F.element_at("mass", i + 1)).alias(f"t{i}") for i in range(k)]
        ).collect()[0]

        # phase 2: a narrow map, left lazy to fuse into the next
        # iteration's join
        ranks = received.select(
            "id",
            F.array(
                *[
                    jump(i, F.element_at("mass", i + 1), max(0.0, 1.0 - totals[i]))
                    for i in range(k)
                ]
            ).alias("mass"),
        )
    return ranks


def personalized_pagerank(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[int, ...] = SOURCES,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
) -> DataFrame:
    """(id, mass array<double>) with one slot per source, each summing to
    ~1: initial mass 1.0 at each source for its own slot (M3), and the
    jump plus the missing mass go only to the slot's source."""
    graph = build_graph(spark, sf_dir).localCheckpoint()
    one_minus = 1.0 - alpha

    def jump(i: int, mass: Column, missing: float) -> Column:
        return F.when(
            F.col("id") == sources[i],
            F.lit(alpha) + F.lit(one_minus) * (mass + F.lit(missing)),
        ).otherwise(F.lit(one_minus) * mass)

    init = [F.when(F.col("id") == s, F.lit(1.0)).otherwise(F.lit(0.0)) for s in sources]
    return _pagerank(graph, init, iterations, jump)


def ppr_mass_conservation(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[int, ...] = SOURCES,
    iterations: int = DEFAULT_ITERATIONS,
) -> DataFrame:
    """(source, total_mass): each source's mass summed over every node
    after the final jump phase. The reference's phase-2 invariant
    (RunPersonalizedPageRankBasic.java:442-468: dangling mass reclaimed,
    jump mass re-injected at the source) makes each distribution a
    probability vector — total mass is exactly 1.0 per source at every
    iteration, so this pins the whole iterative pipeline against a
    constant oracle instead of a rows-only check. Rounded 6dp to absorb
    fp64 summation noise."""
    ranks = personalized_pagerank(spark, sf_dir, sources, iterations)
    agg = ranks.agg(
        *[
            F.sum(F.element_at("mass", i + 1)).alias(f"t{i}")
            for i in range(len(sources))
        ]
    )
    # k scalar sums -> k rows; the stack is over a single aggregated row
    pairs = ", ".join(
        f"CAST({s} AS BIGINT), round(t{i}, 6)" for i, s in enumerate(sources)
    )
    return agg.selectExpr(
        f"stack({len(sources)}, {pairs}) AS (source, total_mass)"
    )


def ppr_top_k(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[int, ...] = SOURCES,
    iterations: int = DEFAULT_ITERATIONS,
    k: int = TOP_K,
) -> DataFrame:
    """Per-source top-k nodes by mass (ExtractTopPersonalizedPageRankNodes)
    as a window rank — (source, node_id, mass). Ranked on the 6dp-ROUNDED
    mass with a node_id tie-break: ranking raw fp64 would make membership
    depend on summation order below the rounding the output carries (the
    reference's priority queues are tie-unstable anyway), while the rounded
    rank is reproducible across engines — which is what lets the unrolled
    DuckDB oracle (plans/catalog.py::_PPR_TOPK_SQL) hash-check this query."""
    ranks = personalized_pagerank(spark, sf_dir, sources, iterations)
    per_source = ranks.select(
        "id",
        F.posexplode(
            F.arrays_zip(
                F.array(*[F.lit(s).cast("bigint") for s in sources]).alias("source"),
                F.col("mass").alias("mass"),
            )
        ).alias("pos", "sm"),
    ).select(
        F.col("sm.source").alias("source"),
        F.col("id").alias("node_id"),
        F.round(F.col("sm.mass"), 6).alias("mass"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("mass"), F.asc("node_id"))
    return (
        per_source.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("source", "node_id", "mass")
    )


def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(degree, n_nodes): out-degree histogram over ALL nodes (dangling
    nodes count at degree 0 via a left join of nodes onto edge counts).
    Two partial-aggregatable shuffles; no node ever carries its edge list.
    """
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    deg = (
        graph_edges(spark, sf_dir)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        docs.join(deg, "id", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row (n_triangles) over the undirected fixture graph.

    Degree-ordered orientation: symmetrize + dedupe, then point every
    undirected edge from its lower-(degree, id) endpoint to the higher one.
    Every triangle appears exactly once as a rank-increasing path x→y→z
    closed by x→z, and — the point of ranking by degree rather than id —
    each node's out-degree in the oriented graph is bounded by O(√m)
    (arboricity), so a hub with millions of neighbors generates almost no
    two-paths: its edges all point INTO it. This is what keeps the two-hop
    join's fan-out bounded on power-law graphs at 100 TB scale; id-ordering
    would let a low-id hub explode the wedge count."""
    e = graph_edges(spark, sf_dir)
    und = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        und.join(deg.withColumnRenamed("id", "a"), "a")
        .withColumnRenamed("deg", "da")
        .join(
            deg.selectExpr("id AS b", "deg AS db"), "b"
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=False)
    two_hop = o.select(F.col("u").alias("x"), F.col("v").alias("y")).join(
        o.select(F.col("u").alias("y"), F.col("v").alias("z")), "y"
    )
    closed = two_hop.join(
        o.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"]
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


PAGERANK_TOP_K = 20


def global_pagerank(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
) -> DataFrame:
    """Classic (non-personalized) PageRank over the fixture graph — the
    uniform-teleport sibling of the reference's personalized loop."""
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    return pagerank_over_edges(docs, graph_edges(spark, sf_dir), iterations, alpha)


def pagerank_over_edges(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
) -> DataFrame:
    """(id, mass): uniform-teleport PageRank over an (id) node spine and
    a (src, dst) edge list, so harvested graphs (the crawl-link graph
    from html_link_edges) share the fixture graph's iteration. Init 1/N
    everywhere; each jump spreads teleport and missing mass UNIFORMLY
    (alpha/N + (1-alpha)(mass + missing/N) at every node). Parallel edges
    keep their multiplicity (a page linking twice sends twice the mass);
    nodes absent from src (e.g. uncrawled link targets) are dangling."""
    graph = _node_records(nodes, edges).localCheckpoint()
    n = graph.count()
    if n == 0:
        # an empty node spine has no mass to distribute — return the empty
        # rank frame instead of dividing by zero below
        return nodes.select("id", F.lit(0.0).alias("mass"))
    one_minus = 1.0 - alpha

    def jump(_i: int, mass: Column, missing: float) -> Column:
        return F.lit(alpha / n) + F.lit(one_minus) * (mass + F.lit(missing / n))

    ranks = _pagerank(graph, [F.lit(1.0 / n)], iterations, jump)
    return ranks.select("id", F.element_at("mass", 1).alias("mass"))


def pagerank_topk(
    spark: SparkSession,
    sf_dir: str,
    iterations: int = DEFAULT_ITERATIONS,
    k: int = PAGERANK_TOP_K,
) -> DataFrame:
    """(node_id, mass): global top-k by PageRank, ranked on the
    6dp-ROUNDED mass with node_id tie-break (the same fp-reproducible
    rank rule as ppr_top_k) — hash-checked against the unrolled SQL twin
    (plans/catalog.py::_pagerank_topk_sql)."""
    ranks = global_pagerank(spark, sf_dir, iterations)
    return (
        ranks.select(
            F.col("id").alias("node_id"), F.round("mass", 6).alias("mass")
        )
        .orderBy(F.desc("mass"), F.asc("node_id"))
        .limit(k)
    )


LPA_ROUNDS = 3


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, community): synchronous label propagation over the
    symmetrized fixture graph — LPA_ROUNDS rounds of "adopt the most
    frequent neighbor label, smallest label on ties, keep your own when
    isolated", starting from self-labels. Community detection
    complements the structural CC dedup clustering: LPA splits dense
    components into cohesive groups instead of merging everything
    reachable.

    Scale shape: a FIXED number of rounds composed as one declarative
    plan — per round one edge⋈labels shuffle join on the well-spread
    node key, one (node, label) count aggregate, and one per-node argmax
    (window partitioned by node id). No driver collects, no convergence
    loop: fixed-round LPA is the batch-windowed form the synchronous
    algorithm takes in Pregel systems, and what lets the DuckDB oracle
    unroll it exactly.
    """
    from pyspark.sql.window import Window

    e = graph_edges(spark, sf_dir)
    # pin the symmetrized edge set once (same lazy-checkpoint pattern as
    # the CC loop): every round's join re-references it, and without the
    # pin each reference re-executes the build+union+distinct subtree —
    # the audit showed 39 exchanges for 3 rounds vs ~5 pinned
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    labels = nodes.select("id", F.col("id").alias("lbl"))
    for _ in range(LPA_ROUNDS):
        counts = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax (c desc, lbl asc) as a partial-aggregatable struct-min
        # rather than a per-node window: a celebrity node's distinct
        # neighbor labels all land in one window task, while the agg
        # combines map-side and AQE can split the (already
        # degree-bounded) exchange
        picked = (
            counts.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl").alias("lbl"))
                ).alias("m")
            )
            .select("id", F.col("m.lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(picked, "id", "left")
            .select("id", F.coalesce("new_lbl", "lbl").alias("lbl"))
        )
    return labels.select("id", F.col("lbl").alias("community"))
