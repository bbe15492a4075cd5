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
- Per-source vectors stay ArrayType(DoubleType) columns; element-wise sum
  is a higher-order aggregate (zip_with), never a Python UDF.
- localCheckpoint() each iteration truncates lineage (the reference's
  SequenceFile round-trip between jobs); on a cluster use checkpoint() to
  a reliable dir instead.

The fixture graph (FIXTURES.md §3): nodes = documents.doc_id (0..n-1),
edges i -> {(i*k+1) % n : k in 1..(i%5)}, so i%5==0 nodes are dangling and
exercise missing-mass redistribution. Sources {0, 7}.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load

ALPHA = 0.15  # RunPersonalizedPageRankBasic.java ALPHA
SOURCES = (0, 7)  # FIXTURES.md §3
DEFAULT_ITERATIONS = 10
TOP_K = 10

# Spark's CacheManager keys cached data on the ANALYZED PLAN, not the
# DataFrame object: two drivers that each .cache() the same build_graph
# plan share ONE storage entry, and either driver's .unpersist() drops it
# for both — under concurrent execution one loop's cleanup yanks the
# other's cached graph mid-iteration (the round-14 sf1 parallel-sweep
# flake: ppr_topk and ppr_mass_conservation in the same batch). The
# shared entry itself is the right behavior at scale (the graph is
# cached once, not per driver); what was wrong is the unscoped
# unpersist. This registry refcounts the shared plan: acquisition caches
# on first use, release unpersists only when the LAST concurrent holder
# lets go. Keyed by (session, analyzed-plan text) — our graph builders
# are deterministic, so concurrent drivers over the same inputs produce
# byte-identical plan strings.
_SHARED_CACHE_LOCK = threading.Lock()
_SHARED_CACHE: dict[tuple[int, str], list] = {}  # key -> [cached_df, refcount]


def _acquire_cached(spark: SparkSession, df: DataFrame):
    """Cache ``df``'s plan shared + refcounted; returns (frame, key).

    Always pair with ``_release_cached(key)`` in a ``finally``."""
    key = (id(spark), df._jdf.queryExecution().analyzed().toString())
    with _SHARED_CACHE_LOCK:
        ent = _SHARED_CACHE.get(key)
        if ent is None:
            ent = [df.cache(), 0]
            _SHARED_CACHE[key] = ent
        ent[1] += 1
        return ent[0], key


def _release_cached(key) -> None:
    with _SHARED_CACHE_LOCK:
        ent = _SHARED_CACHE.get(key)
        if ent is None:
            return
        ent[1] -= 1
        if ent[1] <= 0:
            del _SHARED_CACHE[key]
            ent[0].unpersist()


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


def build_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, adj array<long>, outdeg) node records; dangling nodes keep an
    empty adj (BuildPersonalizedPageRankRecords.java:81-97)."""
    docs = load(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    adj = (
        graph_edges(spark, sf_dir)
        .groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_list("dst")).alias("adj"))
    )
    return (
        docs.join(adj, "id", "left")
        .select(
            "id",
            F.coalesce("adj", F.array().cast("array<bigint>")).alias("adj"),
        )
        .withColumn("outdeg", F.size("adj"))
    )


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


def _zero_array(k: int):
    return F.array_repeat(F.lit(0.0).cast("double"), k)


def personalized_pagerank(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[int, ...] = SOURCES,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
    log_space: bool = False,
) -> DataFrame:
    """Run the two-phase iteration; returns (id, mass array<double>) with
    one slot per source, each summing to ~1.

    ``log_space=True`` switches the mass arithmetic to the reference's
    log-domain ⊕ (sumLogProbs, RunPersonalizedPageRankBasic.java:617-629)
    as an underflow escape hatch for graphs large enough that linear fp64
    (~1e-308 floor) could round tiny masses to zero — see the module
    docstring for why that is out of reach at any realistic scale. The
    linear path stays the default: the log path's grouped log-sum-exp
    needs a max-then-sum pass, one extra co-partitioned join per iteration
    (no extra shuffle — messages are repartitioned on id once and every
    downstream agg/join reuses that partitioning)."""
    if log_space:
        return _personalized_pagerank_log(
            spark, sf_dir, sources, iterations, alpha
        )
    graph, ckey = _acquire_cached(spark, build_graph(spark, sf_dir))
    try:
        return _personalized_pagerank_linear(graph, sources, iterations, alpha)
    finally:
        # the final ranks read from the last checkpoint, not the graph —
        # release this holder's reference so long-lived sessions don't
        # accumulate pinned storage (the shared entry survives while any
        # concurrent PPR driver still iterates over it)
        _release_cached(ckey)


def _personalized_pagerank_linear(
    graph: DataFrame,
    sources: tuple[int, ...],
    iterations: int,
    alpha: float,
) -> DataFrame:
    k = len(sources)

    # initial mass: 1.0 at each source for its own slot (M3)
    ranks = graph.select(
        "id",
        F.array(
            *[
                F.when(F.col("id") == s, F.lit(1.0)).otherwise(F.lit(0.0))
                for s in sources
            ]
        ).alias("mass"),
    )

    for _ in range(iterations):
        # phase 1: distribute mass along edges, sum per destination. The
        # per-source contributions are k scalar columns, not an array fold
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
        # CACHED graph's id column, not ranks: ranks sits behind the
        # previous checkpoint whose RDD scan hides its partitioning, so a
        # ranks spine re-shuffles every round, while the cached graph
        # keeps hash(id) and joins the hash(id)-aggregated msgs
        # exchange-free (same id set by construction — ranks is always a
        # narrow map over this spine; guide §2.4). (A persist()-based pin
        # that would keep ranks' partitioning metadata was tried r16 and
        # hangs: without plan truncation each iteration embeds the
        # previous one twice and analysis grows 2^iterations.)
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

        # driver-side scalar: missing mass per source (1 - total received),
        # clamped at 0 (iteratePageRank :455-465)
        totals = received.agg(
            *[F.sum(F.element_at("mass", i + 1)).alias(f"t{i}") for i in range(k)]
        ).collect()[0]
        missing = [max(0.0, 1.0 - totals[i]) for i in range(k)]

        # phase 2: jump + dangling mass go only to each slot's source — a
        # narrow map, left lazy to fuse into the next iteration's join.
        one_minus = 1.0 - alpha
        new_mass = F.array(
            *[
                F.when(
                    F.col("id") == sources[i],
                    F.lit(alpha)
                    + F.lit(one_minus)
                    * (F.element_at("mass", i + 1) + F.lit(missing[i])),
                ).otherwise(F.lit(one_minus) * F.element_at("mass", i + 1))
                for i in range(k)
            ]
        )
        ranks = received.select("id", new_mass.alias("mass"))

    return ranks


def _personalized_pagerank_log(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[int, ...],
    iterations: int,
    alpha: float,
) -> DataFrame:
    """Log-domain twin of the linear loop (same two phases, same driver
    scalars). Masses live as log-mass columns; message aggregation is a
    grouped log-sum-exp: max per destination, then max + log(Σ exp(c−max))
    — the distributed form of the reference's pairwise sumLogProbs. The
    final select exponentiates back so downstream consumers see the same
    (id, mass array<double>) contract."""
    graph, ckey = _acquire_cached(spark, build_graph(spark, sf_dir))
    try:
        return _personalized_pagerank_log_loop(graph, sources, iterations, alpha)
    finally:
        _release_cached(ckey)


def _personalized_pagerank_log_loop(
    graph: DataFrame,
    sources: tuple[int, ...],
    iterations: int,
    alpha: float,
) -> DataFrame:
    import math

    k = len(sources)
    NEG_INF = float("-inf")

    # log initial mass: log(1)=0 at each source's own slot, -inf elsewhere
    ranks = graph.select(
        "id",
        *[
            F.when(F.col("id") == s, F.lit(0.0))
            .otherwise(F.lit(NEG_INF))
            .alias(f"lm{i}")
            for i, s in enumerate(sources)
        ],
    )

    for _ in range(iterations):
        contrib = (
            ranks.join(graph, "id")
            .where(F.col("outdeg") > 0)
            .select(
                F.explode("adj").alias("id"),
                *[
                    (F.col(f"lm{i}") - F.log("outdeg")).alias(f"c{i}")
                    for i in range(k)
                ],
            )
        )
        # one explicit shuffle; the max agg, the back-join, and the sum agg
        # below all key on id, so EnsureRequirements reuses this partitioning
        msgs = contrib.repartition("id")
        mx = msgs.groupBy("id").agg(
            *[F.max(f"c{i}").alias(f"x{i}") for i in range(k)]
        )
        summed = (
            msgs.join(mx, "id")
            .groupBy("id")
            .agg(
                *[F.max(f"x{i}").alias(f"x{i}") for i in range(k)],
                *[
                    F.sum(F.exp(F.col(f"c{i}") - F.col(f"x{i}"))).alias(f"s{i}")
                    for i in range(k)
                ],
            )
            .select(
                "id",
                *[
                    # all-(-inf) groups (slot unreachable so far): exp(c-x)
                    # is NaN there, guard back to log(0)
                    F.when(F.col(f"x{i}") == NEG_INF, F.lit(NEG_INF))
                    .otherwise(F.col(f"x{i}") + F.log(F.col(f"s{i}")))
                    .alias(f"r{i}")
                    for i in range(k)
                ],
            )
        )
        received = (
            ranks.select("id")
            .join(summed, "id", "left")
            .select(
                "id",
                *[
                    F.coalesce(F.col(f"r{i}"), F.lit(NEG_INF)).alias(f"lm{i}")
                    for i in range(k)
                ],
            )
            .localCheckpoint(eager=False)
        )

        # driver scalars: global log-sum-exp per slot -> linear totals.
        # Two tiny aggregates over the pinned frame (max pass, sum pass).
        gmax = received.agg(
            *[F.max(f"lm{i}").alias(f"x{i}") for i in range(k)]
        ).collect()[0]
        sums = received.agg(
            *[
                F.sum(
                    F.when(F.col(f"lm{i}") == NEG_INF, F.lit(0.0)).otherwise(
                        F.exp(F.col(f"lm{i}") - F.lit(float(gmax[i])))
                    )
                ).alias(f"s{i}")
                for i in range(k)
            ]
        ).collect()[0]
        totals = [
            0.0 if gmax[i] == NEG_INF else math.exp(gmax[i]) * sums[i]
            for i in range(k)
        ]
        missing = [max(0.0, 1.0 - t) for t in totals]

        one_minus = 1.0 - alpha
        ranks = received.select(
            "id",
            *[
                F.when(
                    F.col("id") == sources[i],
                    F.log(
                        F.lit(alpha)
                        + F.lit(one_minus)
                        * (F.exp(F.col(f"lm{i}")) + F.lit(missing[i]))
                    ),
                )
                .otherwise(F.lit(math.log(one_minus)) + F.col(f"lm{i}"))
                .alias(f"lm{i}")
                for i in range(k)
            ],
        )

    return ranks.select(
        "id",
        F.array(*[F.exp(F.col(f"lm{i}")) for i in range(k)]).alias("mass"),
    )


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
    uniform-teleport sibling of the reference's personalized loop: init
    1/N everywhere; each iteration distributes mass along edges, then
    dangling + teleport mass spreads UNIFORMLY (alpha/N + dangling/N to
    every node) instead of re-injecting at a source. Same scale shape as
    personalized_pagerank: one shuffle + one scalar collect per
    iteration, lazy localCheckpoint truncating lineage."""
    graph, ckey = _acquire_cached(spark, build_graph(spark, sf_dir))
    try:
        n = graph.count()
        one_minus = 1.0 - alpha
        ranks = graph.select("id", F.lit(1.0 / n).alias("mass"))
        for _ in range(iterations):
            msgs = (
                ranks.join(graph, "id")
                .where(F.col("outdeg") > 0)
                .select(
                    F.explode("adj").alias("id"),
                    (F.col("mass") / F.col("outdeg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("m"))
            )
            received = (
                graph.select("id")
                .join(msgs, "id", "left")
                .select("id", F.coalesce(F.col("m"), F.lit(0.0)).alias("mass"))
                .localCheckpoint(eager=False)
            )
            total = received.agg(F.sum("mass")).collect()[0][0]
            missing = max(0.0, 1.0 - (total or 0.0))
            ranks = received.select(
                "id",
                (
                    F.lit(alpha / n)
                    + F.lit(one_minus)
                    * (F.col("mass") + F.lit(missing / n))
                ).alias("mass"),
            )
        return ranks
    finally:
        _release_cached(ckey)


def pagerank_over_edges(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = DEFAULT_ITERATIONS,
    alpha: float = ALPHA,
) -> DataFrame:
    """Uniform-teleport PageRank over an EXPLICIT (src, dst) edge list
    and (id) node spine — the graph-agnostic core global_pagerank's loop
    follows, factored out so harvested graphs (the crawl-link graph from
    html_link_edges) compose with the same iteration machinery. Parallel
    edges keep their multiplicity (outdeg counts edge rows; a page
    linking twice sends twice the mass), nodes absent from src (e.g.
    uncrawled link targets) are dangling and their mass re-enters
    through the uniform reclaim. Same scale shape as the fixture loop:
    one shuffle + one scalar collect per iteration, lazy localCheckpoint
    truncating lineage."""
    adj = edges.groupBy("src").agg(
        F.collect_list("dst").alias("adj"),
        F.count(F.lit(1)).alias("outdeg"),
    )
    graph, ckey = _acquire_cached(
        nodes.sparkSession,
        nodes.join(adj, nodes["id"] == adj["src"], "left").select(
            "id", "adj", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
        ),
    )
    try:
        n = graph.count()
        if n == 0:
            # an empty node spine (no documents, no harvested links) has no
            # mass to distribute — return the empty rank frame instead of
            # dividing by zero below
            return nodes.select("id", F.lit(0.0).alias("mass"))
        one_minus = 1.0 - alpha
        ranks = graph.select("id", F.lit(1.0 / n).alias("mass"))
        for _ in range(iterations):
            msgs = (
                ranks.join(graph, "id")
                .where(F.col("outdeg") > 0)
                .select(
                    F.explode("adj").alias("id"),
                    (F.col("mass") / F.col("outdeg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("m"))
            )
            received = (
                graph.select("id")
                .join(msgs, "id", "left")
                .select("id", F.coalesce(F.col("m"), F.lit(0.0)).alias("mass"))
                .localCheckpoint(eager=False)
            )
            total = received.agg(F.sum("mass")).collect()[0][0]
            missing = max(0.0, 1.0 - (total or 0.0))
            ranks = received.select(
                "id",
                (
                    F.lit(alpha / n)
                    + F.lit(one_minus) * (F.col("mass") + F.lit(missing / n))
                ).alias("mass"),
            )
        return ranks
    finally:
        _release_cached(ckey)


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
