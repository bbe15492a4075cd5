"""Central registration of every (query, oracle) pair.

Kept in one file so SURVEY.md §2 coverage is auditable at a glance; the
callables live in the operator modules.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numerics import duck_floor_round, duck_ppm
from ..operators import relational as R
from ..operators import text_analytics as T
from .registry import _ORACLES, register

# DuckDB twin of the reference tokenizer (functions/text.py tokenize()):
# whitespace split -> lowercase -> strip leading/trailing non-[a-z] -> drop
# empties. The split class is the explicit Java-\s set shared with
# TOKEN_SPLIT_RE (RE2's \s omits \x0B, so a bare \s+ would diverge).
DUCK_TOKS = (
    "list_filter(list_transform("
    "string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), "
    "t -> regexp_replace(t, '(^[^a-z]+|[^a-z]+$)', '', 'g')), t -> len(t) > 0)"
)


def _registered_oracle(name: str) -> str:
    """The registered oracle SQL of ``name``: twins and derived cards
    (the stream twins, export_shards over corpus_curate) reuse it
    verbatim instead of pasting a copy."""
    return _ORACLES[name]


# --- assignment5 relational core (SURVEY §2.2-2.7, reference Q1..Q7) -------

register(
    "q1_count_shipped",
    lambda spark, sf: R.q1(spark, sf),
    f"""
    SELECT count(*) AS count_shipped
    FROM lineitem
    WHERE strftime(l_shipdate, '%Y-%m-%d') LIKE '{R.Q1_DATE}%'
    """,
)

register(
    "q2_orders_semijoin_topk",
    lambda spark, sf: R.q2(spark, sf),
    f"""
    SELECT o_orderpriority, o_orderkey
    FROM orders
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        WHERE strftime(l_shipdate, '%Y-%m-%d') LIKE '{R.Q2_DATE}%')
    ORDER BY o_orderkey
    LIMIT 20
    """,
)

register(
    "q3_lineitem_part_supplier",
    lambda spark, sf: R.q3(spark, sf),
    f"""
    SELECT l_orderkey, p_name, s_name
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE strftime(l_shipdate, '%Y-%m-%d') LIKE '{R.Q3_DATE}%'
    ORDER BY l_orderkey, p_name, s_name
    LIMIT 20
    """,
)

register(
    "q4_shipments_by_nation",
    lambda spark, sf: R.q4(spark, sf),
    f"""
    SELECT n_nationkey, n_name, count(*) AS count_shipped
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE strftime(l_shipdate, '%Y-%m-%d') LIKE '{R.Q4_DATE}%'
    GROUP BY n_nationkey, n_name
    ORDER BY n_nationkey
    """,
)

register(
    "q5_monthly_shipments_two_nations",
    lambda spark, sf: R.q5(spark, sf),
    f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, n_name,
           count(*) AS count_shipped
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_nationkey IN ({R.IN_NATIONS[0]}, {R.IN_NATIONS[1]})
    GROUP BY ship_month, n_name
    ORDER BY ship_month, n_name
    """,
)

register(
    "q6_pricing_summary",
    lambda spark, sf: R.q6(spark, sf),
    f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           {duck_floor_round("avg(l_quantity)", 4)} AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE strftime(l_shipdate, '%Y-%m-%d') LIKE '{R.Q6_DATE}%'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

register(
    "q7_top_revenue_orders",
    lambda spark, sf: R.q7(spark, sf),
    f"""
    SELECT c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority,
           CAST(round(sum(CAST(l_extendedprice AS {R.MONEY})
                          * (1 - CAST(l_discount AS {R.MONEY}))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE l_shipdate > TIMESTAMP '{R.Q7_DATE} 00:00:00'
      AND o_orderdate < TIMESTAMP '{R.Q7_DATE} 00:00:00'
    GROUP BY c_name, o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)

# --- text analytics (SURVEY §2.4/§2.8, assignments 0-2) ---------------------

register(
    "wordcount",
    lambda spark, sf: T.word_count(spark, sf),
    f"""
    WITH toks AS (SELECT {DUCK_TOKS} AS toks FROM documents)
    SELECT word, count(*) AS "count"
    FROM (SELECT unnest(toks) AS word FROM toks)
    GROUP BY word
    """,
)

register(
    "prefix_count",
    lambda spark, sf: T.prefix_count(spark, sf),
    f"""
    WITH toks AS (SELECT {DUCK_TOKS} AS toks FROM documents)
    SELECT substr(word, 1, 2) AS prefix, count(*) AS "count"
    FROM (SELECT unnest(toks) AS word FROM toks)
    GROUP BY prefix
    """,
)

register(
    "bigram_rel_freq",
    lambda spark, sf: T.bigram_relative_frequency(spark, sf),
    f"""
    WITH toks AS (SELECT {DUCK_TOKS} AS toks FROM documents),
    bg AS (
        SELECT unnest(toks[1:len(toks)-1]) AS lt, unnest(toks[2:len(toks)]) AS rt
        FROM toks WHERE len(toks) > 1
    ),
    counts AS (SELECT lt, rt, count(*) AS cnt FROM bg GROUP BY lt, rt)
    SELECT lt AS left_token, rt AS right_token,
           {duck_floor_round("cnt / sum(cnt) OVER (PARTITION BY lt)")} AS rel_freq
    FROM counts
    UNION ALL
    SELECT lt, '*', round(CAST(sum(cnt) AS DOUBLE), 6)
    FROM counts GROUP BY lt
    """,
)

register(
    "bigram_stripes",
    lambda spark, sf: T.bigram_stripes(spark, sf),
    f"""
    WITH toks AS (SELECT {DUCK_TOKS} AS toks FROM documents),
    bg AS (
        SELECT unnest(toks[1:len(toks)-1]) AS lt, unnest(toks[2:len(toks)]) AS rt
        FROM toks WHERE len(toks) > 1
    ),
    counts AS (SELECT lt, rt, count(*) AS cnt FROM bg GROUP BY lt, rt)
    SELECT lt AS left_token,
           '{{' || array_to_string(
               list_transform(
                   list_sort(list(struct_pack(rt := rt, cnt := cnt))),
                   s -> '"' || s.rt || '":' || s.cnt::VARCHAR),
               ',') || '}}' AS stripe
    FROM counts GROUP BY lt
    """,
)

register(
    "pmi_word_line_counts",
    lambda spark, sf: T.pmi_word_line_counts(spark, sf),
    f"""
    WITH toks AS (
        SELECT doc_id, list_distinct(({DUCK_TOKS})[1:{T.PMI_TOKEN_CAP}]) AS toks
        FROM documents
    )
    SELECT word, count(*) AS line_count
    FROM (SELECT unnest(toks) AS word FROM toks WHERE len(toks) > 0)
    GROUP BY word
    HAVING count(*) >= {T.MIN_COUNT}
    """,
)

# shared by pmi_pairs and the stripes re-layout below
_PMI_PAIRS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, list_distinct(({DUCK_TOKS})[1:{T.PMI_TOKEN_CAP}]) AS toks
        FROM documents
    ),
    lines AS (SELECT * FROM toks WHERE len(toks) > 0),
    n AS (SELECT count(*) AS n FROM lines),
    words AS (SELECT doc_id, unnest(toks) AS word FROM lines),
    wc AS (SELECT word, count(*) AS c FROM words GROUP BY word
           HAVING count(*) >= {T.MIN_COUNT}),
    pairs AS (
        SELECT a.word AS lt, b.word AS rt, count(*) AS pc
        FROM words a JOIN words b USING (doc_id)
        WHERE a.word <> b.word
        GROUP BY lt, rt
        HAVING count(*) >= {T.MIN_COUNT}
    )
    SELECT lt AS left_token, rt AS right_token,
           round(log10(pc / (wx.c * wy.c) * (SELECT n FROM n)), 6) AS pmi
    FROM pairs
    JOIN wc wx ON wx.word = lt
    JOIN wc wy ON wy.word = rt
"""

register(
    "pmi_pairs",
    lambda spark, sf: T.pmi_pairs(spark, sf),
    _PMI_PAIRS_SQL,
)

register(
    "pmi_stripes",
    lambda spark, sf: T.pmi_stripes(spark, sf),
    f"""
    WITH pmi AS ({_PMI_PAIRS_SQL})
    SELECT left_token AS word,
           '{{' || array_to_string(
               list_transform(
                   list_sort(list(struct_pack(rt := right_token, pmi := pmi))),
                   s -> '"' || s.rt || '":' || printf('%.6f', s.pmi)),
               ',') || '}}' AS stripe
    FROM pmi GROUP BY left_token
    """,
)

# --- inverted index + boolean retrieval (SURVEY §2.9 M10-M12, assignment3/7) -

from ..operators import index as I  # noqa: E402

register(
    "term_lookup",
    I.q_term_lookup,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents)
    SELECT term, doc_id, count(*) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
    WHERE term IN ({", ".join(repr(t) for t in I.LOOKUP_TERMS)})
    GROUP BY term, doc_id
    """,
)

register(
    "inverted_index_postings",
    lambda spark, sf: I.postings(spark, sf),
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents)
    SELECT term, doc_id, count(*) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
    GROUP BY term, doc_id
    """,
)

register(
    "inverted_index_df",
    lambda spark, sf: I.postings_df(spark, sf),
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    p AS (
        SELECT term, doc_id FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
        GROUP BY term, doc_id
    )
    SELECT term, count(*) AS df FROM p GROUP BY term
    """,
)

BOOLEAN_QUERY = "fast table AND slow OR"  # postfix: (fast ∩ table) ∪ slow

register(
    "boolean_retrieval",
    lambda spark, sf: I.boolean_retrieval(spark, sf, BOOLEAN_QUERY),
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    dt AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM toks),
    hits AS (
        (SELECT doc_id FROM dt WHERE term = 'fast'
         INTERSECT
         SELECT doc_id FROM dt WHERE term = 'table')
        UNION
        SELECT doc_id FROM dt WHERE term = 'slow'
    )
    SELECT h.doc_id, d.text FROM hits h JOIN documents d ON h.doc_id = d.doc_id
    """,
)

DUCK_POSITIONS = f"""
    toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS term,
                  unnest(range(1, len(toks) + 1)) AS pos
           FROM toks),
    pp AS (SELECT doc_id, term, list_sort(list(pos)) AS positions
           FROM ex GROUP BY doc_id, term)
"""

# positions rendered as a canonical comma-joined string on BOTH engines —
# the driver canonicalizer cannot hash array cells (bigram_stripes
# convention); the array-typed form stays available via I.positional_postings
register(
    "positional_postings",
    lambda spark, sf: I.positional_postings(spark, sf).select(
        "term",
        "doc_id",
        F.array_join(F.col("positions").cast("array<string>"), ",").alias(
            "positions"
        ),
    ),
    f"""
    WITH {DUCK_POSITIONS}
    SELECT term, doc_id, array_to_string(positions, ',') AS positions FROM pp
    """,
)


def _duck_phrase_sql(phrase: str) -> str:
    terms = phrase.split()
    joins = "pp t0"
    for i in range(1, len(terms)):
        joins += f" JOIN pp t{i} USING (doc_id)"
    preds = " AND ".join(f"t{i}.term = '{t}'" for i, t in enumerate(terms))
    inter = "t0.positions"
    for i in range(1, len(terms)):
        inter = (
            f"list_intersect({inter}, "
            f"list_transform(t{i}.positions, x -> x - {i}))"
        )
    return f"""
    WITH {DUCK_POSITIONS}
    SELECT t0.doc_id, CAST(len({inter}) AS INT) AS n_matches
    FROM {joins}
    WHERE {preds} AND len({inter}) > 0
    """


register(
    "phrase_retrieval",
    lambda spark, sf: I.phrase_retrieval(spark, sf),
    _duck_phrase_sql(I.PHRASE_QUERY),
)

RANKED_QUERY = "fast data table"

register(
    "tfidf_scores",
    I.tfidf_scores,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    p AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
        GROUP BY term, doc_id),
    dfs AS (SELECT term, count(*) AS df FROM p GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT p.term, p.doc_id,
           round(p.tf * ln((SELECT n FROM n)::DOUBLE / dfs.df), 6) AS tfidf
    FROM p JOIN dfs USING (term)
    """,
)

register(
    "doc_keywords",
    lambda spark, sf: I.doc_keywords(spark, sf),
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    p AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
        GROUP BY term, doc_id),
    dfs AS (SELECT term, count(*) AS df FROM p GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT p.term, p.doc_id,
               round(p.tf * ln((SELECT n FROM n)::DOUBLE / dfs.df), 6) AS tfidf
        FROM p JOIN dfs USING (term))
    SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rank
        FROM scored)
    WHERE rank <= {I.KEYWORDS_PER_DOC}
    """,
)

register(
    "ranked_retrieval",
    lambda spark, sf: I.ranked_retrieval(spark, sf, RANKED_QUERY),
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    p AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
        GROUP BY term, doc_id),
    dfs AS (SELECT term, count(*) AS df FROM p GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT p.term, p.doc_id,
               round(p.tf * ln((SELECT n FROM n)::DOUBLE / dfs.df), 6) AS tfidf
        FROM p JOIN dfs USING (term)
        WHERE p.term IN ({", ".join("'" + t + "'" for t in RANKED_QUERY.split())}))
    SELECT doc_id, round(sum(tfidf), 6) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)

register(
    "bm25_retrieval",
    lambda spark, sf: I.bm25_retrieval(spark, sf, RANKED_QUERY),
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    p AS (
        SELECT term, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
        GROUP BY term, doc_id),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM p GROUP BY doc_id),
    stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT sum(dl) FROM dl)::DOUBLE
                   / (SELECT count(*) FROM documents)::DOUBLE AS avgdl),
    dfs AS (SELECT term, count(*) AS df FROM p GROUP BY term),
    scored AS (
        -- grouping/typing mirrors the Spark side exactly: idf * ((tf*(k1+1))
        -- / denom) with all-DOUBLE literals (a DECIMAL literal would make
        -- tf*(k1+1) decimal-exact and shift the last ulp vs Spark)
        SELECT p.doc_id,
               round(ln((stats.n::DOUBLE - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0)
                     * ((p.tf * {I.BM25_K1 + 1!r}::DOUBLE)
                        / (p.tf + {I.BM25_K1!r}::DOUBLE * ({1 - I.BM25_B!r}::DOUBLE
                           + {I.BM25_B!r}::DOUBLE * dl.dl / stats.avgdl))), 6) AS s
        FROM p
        JOIN dfs USING (term)
        JOIN dl ON dl.doc_id = p.doc_id
        CROSS JOIN stats
        WHERE p.term IN ({", ".join("'" + t + "'" for t in RANKED_QUERY.split())}))
    SELECT doc_id, round(sum(s), 6) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
)

# --- personalized PageRank (SURVEY §2.9 M1-M5, assignment4) ------------------

from ..operators import graph as G  # noqa: E402

register(
    "ppr_graph_edges",
    lambda spark, sf: G.graph_edges(spark, sf),
    """
    WITH n AS (SELECT count(*) AS c FROM documents)
    SELECT DISTINCT doc_id AS src,
           (doc_id * k + 1) % (SELECT c FROM n) AS dst
    FROM documents, unnest(range(1, (doc_id % 5) + 1)) AS t(k)
    """,
)

register(
    "ppr_graph_stats",
    G.graph_stats,
    """
    WITH n AS (SELECT count(*) AS c FROM documents),
    e AS (
        SELECT DISTINCT doc_id AS src,
               (doc_id * k + 1) % (SELECT c FROM n) AS dst
        FROM documents, unnest(range(1, (doc_id % 5) + 1)) AS t(k)
    )
    SELECT (SELECT c FROM n) AS num_nodes,
           (SELECT count(*) FROM e) AS num_edges,
           (SELECT c FROM n) - (SELECT count(DISTINCT src) FROM e) AS num_dangling
    """,
)

def _ppr_topk_sql(
    sources: tuple[int, ...] = G.SOURCES,
    iterations: int = G.DEFAULT_ITERATIONS,
    k: int = G.TOP_K,
    alpha: float = G.ALPHA,
) -> str:
    """Fully-unrolled DuckDB twin of the 10-iteration PPR loop.

    The loop has a FIXED iteration count, so it is SQL-expressible after
    all: each iteration is 4 CTEs (messages, received-with-zeros, missing
    mass, jump phase) and the generator unrolls them. Every CTE is
    MATERIALIZED — rec{i} is referenced twice (by mis{i} and r{i}), so
    inlining would double the plan per iteration (2^10 blowup), and
    repeated `documents` references would otherwise re-open the parquet
    per scan. Derived from the data, never from pinned fixture values, so
    it survives fixture regeneration. Constants render via repr() so both
    engines parse the identical double.
    """
    om, al = repr(1.0 - alpha), repr(alpha)
    cols = range(len(sources))
    ctes = [
        "n AS MATERIALIZED (SELECT count(*) AS c FROM documents)",
        "nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents)",
        "edges AS MATERIALIZED (SELECT DISTINCT doc_id AS src,"
        " (doc_id * k + 1) % (SELECT c FROM n) AS dst"
        " FROM documents, unnest(range(1, (doc_id % 5) + 1)) AS t(k))",
        "outdeg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg"
        " FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT id, "
        + ", ".join(
            f"CAST(CASE WHEN id = {s} THEN 1.0 ELSE 0.0 END AS DOUBLE) AS m{i}"
            for i, s in enumerate(sources)
        )
        + " FROM nodes)",
    ]
    for it in range(1, iterations + 1):
        p = it - 1
        msgs = ", ".join(f"sum(r.m{i} / o.outdeg) AS c{i}" for i in cols)
        ctes.append(
            f"msg{it} AS MATERIALIZED (SELECT e.dst AS id, {msgs} FROM r{p} r"
            f" JOIN outdeg o ON o.id = r.id JOIN edges e ON e.src = r.id"
            f" GROUP BY e.dst)"
        )
        recs = ", ".join(
            f"coalesce(m.c{i}, CAST(0.0 AS DOUBLE)) AS m{i}" for i in cols
        )
        ctes.append(
            f"rec{it} AS MATERIALIZED (SELECT nd.id, {recs}"
            f" FROM nodes nd LEFT JOIN msg{it} m ON m.id = nd.id)"
        )
        mis = ", ".join(
            f"greatest(CAST(0.0 AS DOUBLE), 1.0 - sum(m{i})) AS x{i}"
            for i in cols
        )
        ctes.append(f"mis{it} AS MATERIALIZED (SELECT {mis} FROM rec{it})")
        newm = ", ".join(
            f"CASE WHEN id = {s} THEN {al} + {om} * (m{i} +"
            f" (SELECT x{i} FROM mis{it})) ELSE {om} * m{i} END AS m{i}"
            for i, s in enumerate(sources)
        )
        ctes.append(f"r{it} AS MATERIALIZED (SELECT id, {newm} FROM rec{it})")
    union = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS source, id AS node_id,"
        f" m{i} AS mass FROM r{iterations}"
        for i, s in enumerate(sources)
    )
    ctes.append(f"ps AS ({union})")
    ctes.append(
        "ranked AS (SELECT source, node_id, round(mass, 6) AS mass,"
        " row_number() OVER (PARTITION BY source"
        " ORDER BY round(mass, 6) DESC, node_id) AS rn FROM ps)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT source, node_id, mass FROM ranked WHERE rn <= {k}"
    )


# The fixed-iteration-count loop unrolls into straight-line SQL, so the
# headline iterative operator gets a full value oracle (both sides rank on
# the 6dp-rounded mass, making top-k membership fp-reproducible).
register(
    "ppr_topk",
    lambda spark, sf: G.ppr_top_k(spark, sf),
    _ppr_topk_sql(),
)


def _uniform_pr_ctes(iterations: int, alpha: float) -> list[str]:
    """The unrolled uniform-teleport PageRank loop over CTEs named
    ``edges`` (src, dst), ``nodes`` (id) and ``n`` (c): outdeg, r0, then
    msg/rec/mis/r per iteration — the single-mass-column simplification
    of _ppr_topk_sql. The final ranks are ``r{iterations}`` (id, m)."""
    om, al = repr(1.0 - alpha), repr(alpha)
    nn = "(SELECT c FROM n)"
    ctes = [
        "outdeg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg"
        " FROM edges GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT id,"
        f" CAST(1.0 AS DOUBLE) / {nn} AS m FROM nodes)",
    ]
    for it in range(1, iterations + 1):
        p = it - 1
        ctes.append(
            f"msg{it} AS MATERIALIZED (SELECT e.dst AS id,"
            f" sum(r.m / o.outdeg) AS c FROM r{p} r"
            f" JOIN outdeg o ON o.id = r.id JOIN edges e ON e.src = r.id"
            f" GROUP BY e.dst)"
        )
        ctes.append(
            f"rec{it} AS MATERIALIZED (SELECT nd.id,"
            f" coalesce(m.c, CAST(0.0 AS DOUBLE)) AS m"
            f" FROM nodes nd LEFT JOIN msg{it} m ON m.id = nd.id)"
        )
        ctes.append(
            f"mis{it} AS MATERIALIZED (SELECT"
            f" greatest(CAST(0.0 AS DOUBLE), 1.0 - sum(m)) AS x FROM rec{it})"
        )
        ctes.append(
            f"r{it} AS MATERIALIZED (SELECT id,"
            f" {al} / {nn} + {om} * (m + (SELECT x FROM mis{it}) / {nn}) AS m"
            f" FROM rec{it})"
        )
    return ctes


def _pagerank_topk_sql(
    iterations: int = G.DEFAULT_ITERATIONS,
    k: int = G.PAGERANK_TOP_K,
    alpha: float = G.ALPHA,
) -> str:
    """Unrolled DuckDB twin of the global (uniform-teleport) PageRank."""
    ctes = [
        "n AS MATERIALIZED (SELECT count(*) AS c FROM documents)",
        "nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents)",
        "edges AS MATERIALIZED (SELECT DISTINCT doc_id AS src,"
        " (doc_id * k + 1) % (SELECT c FROM n) AS dst"
        " FROM documents, unnest(range(1, (doc_id % 5) + 1)) AS t(k))",
        *_uniform_pr_ctes(iterations, alpha),
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT node_id, mass FROM (
        SELECT id AS node_id, round(m, 6) AS mass,
               row_number() OVER (ORDER BY round(m, 6) DESC, id) AS rn
        FROM r{iterations})
    WHERE rn <= {k}"""
    )


register(
    "pagerank_topk",
    lambda spark, sf: G.pagerank_topk(spark, sf),
    _pagerank_topk_sql(),
)

# The conservation invariant IS SQL-expressible (a constant): after every
# jump phase each source's distribution sums to exactly 1, so the full
# 10-iteration pipeline hash-checks against a literal table — a real
# driver-green gate on the iterative operator ppr_topk exercises.
register(
    "ppr_mass_conservation",
    lambda spark, sf: G.ppr_mass_conservation(spark, sf),
    "SELECT CAST(s AS BIGINT) AS source, CAST(m AS DOUBLE) AS total_mass "
    "FROM (VALUES "
    + ", ".join(f"({s}, 1.0)" for s in G.SOURCES)
    + ") AS t(s, m)",
)

# --- spam classifier (SURVEY §2.9 M6-M9, assignment6) ------------------------

from ..functions.hashing import DUCK_H8  # noqa: E402  (single hash owner)
from ..operators import ml as M  # noqa: E402

# features rendered as a canonical comma-joined string on BOTH engines
# (driver canonicalizer cannot hash array cells); the array-typed training
# set the SGD fold consumes stays available via M.spam_training_set
register(
    "spam_training_set",
    lambda spark, sf: M.spam_training_set(spark, sf).select(
        "docid",
        "label",
        F.array_join(F.col("features").cast("array<string>"), ",").alias(
            "features"
        ),
        "source",
    ),
    f"""
    SELECT doc_id AS docid,
           CASE WHEN doc_id % 3 = 0 THEN 'spam' ELSE 'ham' END AS label,
           array_to_string(list_transform({DUCK_TOKS},
               t -> CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                         % {M.FEATURE_MOD} AS INT)), ',') AS features,
           source
    FROM documents
    """,
)

# Sequential SGD: the fold is order-sensitive, but the visit order is a
# *total, engine-portable* order (docid, or the h8 shuffle key), so the
# whole trainer IS SQL-expressible as a DuckDB recursive CTE that replays
# the identical update sequence step by step — the same unrolling idea as
# the k-means / PPR oracles, except the "loop" here is over training rows,
# which WITH RECURSIVE expresses directly without generating 500 CTEs.
# Weights are carried as a dense LIST over the (materialized) global
# vocabulary; each recursive step scores one document in token order and
# applies the per-occurrence update, exactly like the Python fold
# (operators/ml.py _sgd_fold, TrainSpamClassifier.scala:68-85). The
# fp drift between the two engines (list_sum vs left-fold) is orders of
# magnitude below the 6-decimal output rounding.

_SGD_FEAT = (
    f"list_transform({DUCK_TOKS}, "
    f"t -> CAST({DUCK_H8.format(x='t')} % {M.FEATURE_MOD} AS INT))"
)
_SGD_SHUF_ORDER = (
    DUCK_H8.format(
        x=f"(CAST(d.docid AS VARCHAR) || ':{M.SHUFFLE_SEED}')"
    )
    + ", d.docid"
)


# The spam training-set CTE body (the default); _sgd_with also accepts a
# different labeled ds (same column contract: docid, is_spam, label,
# src_g, feats) so other families can reuse the recursive trainer — the
# quality-distillation classifier (operators/qualitymodel.py) passes a
# text_quality-threshold-labeled body.
_SGD_SPAM_DS = f"""
      SELECT doc_id AS docid,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS is_spam,
             CASE WHEN doc_id % 3 = 0 THEN 'spam' ELSE 'ham' END AS label,
             TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INT)
                 % {{n_ensemble}} AS src_g,
             {{feats}} AS feats
      FROM documents
"""


def _sgd_with(models: list[tuple[str, str, str]], ds_sql: str | None = None) -> str:
    """WITH RECURSIVE prelude computing sgd_weights_<tag> for each
    (tag, subset_predicate_sql, order_sql) — shared doc/vocab prep plus one
    recursive trainer per model. ``ds_sql`` overrides the labeled
    training-set CTE body (default: the spam set)."""
    if ds_sql is None:
        ds_sql = _SGD_SPAM_DS.format(n_ensemble=M.N_ENSEMBLE, feats=_SGD_FEAT)
    prelude = f"""
    WITH RECURSIVE
    sgd_ds AS MATERIALIZED (
      {ds_sql}
    ),
    sgd_vocab AS MATERIALIZED (
      SELECT feature, CAST(row_number() OVER (ORDER BY feature) AS INT) AS idx
      FROM (SELECT DISTINCT unnest(feats) AS feature FROM sgd_ds)
    ),
    sgd_nv AS (SELECT CAST(count(*) AS INT) AS n FROM sgd_vocab),
    sgd_occ AS MATERIALIZED (
      SELECT docid, unnest(feats) AS feature,
             generate_subscripts(feats, 1) AS pos
      FROM sgd_ds
    ),
    sgd_doc_idxs AS (
      SELECT o.docid, list(v.idx ORDER BY o.pos) AS idxs
      FROM sgd_occ o JOIN sgd_vocab v USING (feature)
      GROUP BY o.docid
    ),
    sgd_docs AS MATERIALIZED (
      SELECT d.docid, d.is_spam, d.label, d.src_g,
             coalesce(di.idxs, []) AS idxs,
             list_transform(range(1, nv.n + 1),
                 i -> CAST(len(list_filter(coalesce(di.idxs, []), x -> x = i))
                           AS DOUBLE)) AS cnts
      FROM sgd_ds d LEFT JOIN sgd_doc_idxs di USING (docid), sgd_nv nv
    )"""
    blocks = []
    for tag, pred, order_sql in models:
        blocks.append(f"""
    sgd_sub_{tag} AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY {order_sql}) AS BIGINT) AS rn,
             d.*
      FROM sgd_docs d WHERE {pred}
    ),
    sgd_nd_{tag} AS (SELECT count(*) AS n FROM sgd_sub_{tag}),
    sgd_steps_{tag} AS (
      SELECT CAST(0 AS BIGINT) AS step,
             list_transform(range(1, nv.n + 1), i -> CAST(0.0 AS DOUBLE)) AS w
      FROM sgd_nv nv
      UNION ALL
      SELECT step + 1,
             list_transform(w, (x, i) -> CAST(x + upd * cnts[i] AS DOUBLE))
      FROM (
        SELECT s.step, s.w, d.cnts,
               (d.is_spam - 1.0 / (1.0 + exp(-CAST(coalesce(
                   list_sum(list_transform(d.idxs, j -> s.w[j])), 0.0)
                   AS DOUBLE)))) * {M.DELTA} AS upd
        FROM sgd_steps_{tag} s JOIN sgd_sub_{tag} d ON d.rn = s.step + 1
      )
    ),
    sgd_weights_{tag} AS MATERIALIZED (
      SELECT v.feature, f.w[v.idx] AS weight
      FROM (SELECT w FROM sgd_steps_{tag}
            WHERE step = (SELECT n FROM sgd_nd_{tag})) f, sgd_vocab v
      WHERE v.feature IN (SELECT o.feature FROM sgd_occ o
                          JOIN sgd_sub_{tag} s ON o.docid = s.docid)
    )""")
    return prelude + "," + ",".join(blocks)


_SGD_ENSEMBLE_MODELS = [
    (f"g{i}", f"d.src_g = {i}", "d.docid") for i in range(M.N_ENSEMBLE)
]

# scoring tail shared by apply/ensemble oracles: explode ⋈ weights ⋈ sum,
# empty/unknown-feature docs score 0 via the LEFT JOIN back to sgd_ds —
# mirrors operators/ml.py _score / _ensemble_scores.
_SGD_APPLY_TAIL = """
    , sgd_scores AS (
      SELECT o.docid, coalesce(sum(w.weight), 0.0) AS score
      FROM sgd_occ o LEFT JOIN sgd_weights_m w USING (feature)
      GROUP BY o.docid
    ),
    sgd_scored AS (
      SELECT d.docid, d.label,
             round(coalesce(s.score, 0.0), 6) AS score,
             CASE WHEN coalesce(s.score, 0.0) > 0 THEN 'spam' ELSE 'ham' END
                 AS pred
      FROM sgd_ds d LEFT JOIN sgd_scores s USING (docid)
    )"""

register(
    "spam_train",
    lambda spark, sf: M.train_spam_classifier(spark, sf).select(
        "feature", F.round("weight", 6).alias("weight")
    ),
    _sgd_with([("m", "TRUE", "d.docid")])
    + "\n    SELECT feature, round(weight, 6) AS weight FROM sgd_weights_m",
)
register(
    "spam_train_shuffled",
    lambda spark, sf: M.train_spam_classifier(spark, sf, shuffle=True).select(
        "feature", F.round("weight", 6).alias("weight")
    ),
    _sgd_with([("m", "TRUE", _SGD_SHUF_ORDER)])
    + "\n    SELECT feature, round(weight, 6) AS weight FROM sgd_weights_m",
)
register(
    "spam_apply",
    lambda spark, sf: M.apply_spam_classifier(spark, sf),
    _sgd_with([("m", "TRUE", "d.docid")])
    + _SGD_APPLY_TAIL
    + "\n    SELECT * FROM sgd_scored",
)


def _sgd_ensemble_oracle(select_body: str) -> str:
    """Three per-source-group recursive trainers + one-pass scoring with
    per-model conditional sums (the SQL twin of the Spark pivot)."""
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS model_id, feature, weight FROM sgd_weights_g{i}"
        for i in range(M.N_ENSEMBLE)
    )
    scores = ",\n             ".join(
        f"coalesce(sum(CASE WHEN w.model_id = {i} THEN w.weight END), 0.0)"
        f" AS s{i}"
        for i in range(M.N_ENSEMBLE)
    )
    return (
        _sgd_with(_SGD_ENSEMBLE_MODELS)
        + f"""
    , sgd_weights_all AS ({union}),
    sgd_pivot AS (
      SELECT o.docid,
             {scores}
      FROM sgd_occ o LEFT JOIN sgd_weights_all w USING (feature)
      GROUP BY o.docid
    ),
    sgd_ens AS (
      SELECT d.docid, d.label,
             coalesce(p.s0, 0.0) AS s0,
             coalesce(p.s1, 0.0) AS s1,
             coalesce(p.s2, 0.0) AS s2
      FROM sgd_ds d LEFT JOIN sgd_pivot p USING (docid)
    )
    {select_body}"""
    )


register(
    "spam_ensemble_average",
    lambda spark, sf: M.apply_ensemble_average(spark, sf),
    _sgd_ensemble_oracle(f"""
    SELECT docid, label,
           round((s0 + s1 + s2) / {M.N_ENSEMBLE}, 6) AS score,
           CASE WHEN (s0 + s1 + s2) / {M.N_ENSEMBLE} > 0
                THEN 'spam' ELSE 'ham' END AS pred
    FROM sgd_ens"""),
)
register(
    "spam_ensemble_vote",
    lambda spark, sf: M.apply_ensemble_vote(spark, sf),
    _sgd_ensemble_oracle(f"""
    SELECT docid, label,
           CAST(2 * votes - {M.N_ENSEMBLE} AS DOUBLE) AS score,
           CASE WHEN 2 * votes > {M.N_ENSEMBLE} THEN 'spam' ELSE 'ham' END
               AS pred
    FROM (SELECT docid, label,
                 (CASE WHEN s0 > 0 THEN 1 ELSE 0 END
                  + CASE WHEN s1 > 0 THEN 1 ELSE 0 END
                  + CASE WHEN s2 > 0 THEN 1 ELSE 0 END) AS votes
          FROM sgd_ens)"""),
)
# AUC over the single trained model's scores: Mann-Whitney with average
# ranks over distinct (rounded) scores — the SQL twin of
# operators/ml.py ranking_auc's prefix-sum formulation.
register(
    "spam_model_auc",
    lambda spark, sf: M.spam_model_auc(spark, sf),
    _sgd_with([("m", "TRUE", "d.docid")])
    + _SGD_APPLY_TAIL
    + f"""
    , auc_g AS (
      SELECT score, count(*) AS cnt,
             sum(CASE WHEN label = 'spam' THEN 1 ELSE 0 END) AS pos
      FROM sgd_scored GROUP BY score
    ),
    auc_r AS (
      SELECT pos, cnt, sum(cnt) OVER (ORDER BY score) AS cum FROM auc_g
    ),
    auc_a AS (
      SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
             sum(pos * (cum - cnt + (cnt + 1) / 2.0)) AS prs
      FROM auc_r
    )
    SELECT n_pos, n_neg,
           {duck_floor_round(
               "CASE WHEN n_pos * n_neg > 0"
               " THEN (prs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)"
               " END"
           )} AS auc,
           {duck_floor_round(
               "(1 - CASE WHEN n_pos * n_neg > 0"
               " THEN (prs - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)"
               " END) * 100",
               4,
           )} AS roca_pct
    FROM auc_a
    """,
)

# --- deduplication (north-star extensions, BASELINE.json) --------------------

from ..operators import dedup as D  # noqa: E402

# DuckDB twins of the dedup building blocks (operators/dedup.py):
# h8 = first 8 md5 hex digits as bigint; SHINGLE_N-gram shingles over the
# tokenizer. Derived constants are interpolated from the SAME Python names
# the Spark side uses, so changing SHINGLE_N/NUM_HASHES/NUM_BANDS moves
# both engines together instead of silently desyncing the oracle.
DUCK_SHINGLES = f"""
    toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= {D.SHINGLE_N}
                   THEN list_transform(range(1, len(toks) - {D.SHINGLE_N - 2}),
                        i -> array_to_string(toks[i:i+{D.SHINGLE_N - 1}], ' '))
                   ELSE [array_to_string(toks, ' ')] END) AS sh
        FROM toks)
"""

register(
    "dedup_exact",
    D.q_exact_dedup,
    """
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
    FROM documents
    """,
)

# Universal-hash MinHash twin: sig[i] = min over shingles of
# (a_i * h8(s) + b_i) mod P with the same (a_i, b_i, P) constants as
# operators/dedup.py minhash_params().
DUCK_MINHASH_SIG = f"""list_transform(range(0, {D.NUM_HASHES}),
               i -> list_min(list_transform(sh,
                    s -> ((2*i + 1) * {DUCK_H8.format(x='s')}
                          + ((2654435769 * (i + 1)) % {D.MINHASH_PRIME}))
                         % {D.MINHASH_PRIME})))"""

# sig rendered as a canonical comma-joined string on BOTH engines (driver
# canonicalizer cannot hash array cells); LSH banding keeps consuming the
# array form via D.minhash_signatures
register(
    "minhash_signatures",
    lambda spark, sf: D.q_minhash_signatures(spark, sf).select(
        "doc_id",
        F.array_join(F.col("sig").cast("array<string>"), ",").alias("sig"),
    ),
    f"""
    WITH {DUCK_SHINGLES}
    SELECT doc_id, array_to_string({DUCK_MINHASH_SIG}, ',') AS sig
    FROM sh
    """,
)

# Shared CTE chain ending in `pairs` = (doc_a, doc_b, jaccard) for every
# LSH candidate pair; the near-dup closure fragments below cluster it.
# tools/sf1_pair_oracle.py slices this text verbatim, so every oracle that
# uses it must contain it unchanged.
_SET_JACCARD_SQL = duck_floor_round(
    "len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(list_concat(sa.sh, sb.sh)))"
)
DUCK_MINHASH_PAIR_CTES = f"""{DUCK_SHINGLES},
    sigs AS (
        SELECT doc_id, {DUCK_MINHASH_SIG} AS sig
        FROM sh),
    bands AS (
        SELECT doc_id, b,
               array_to_string(list_transform(
                   sig[b*{D.NUM_HASHES // D.NUM_BANDS}+1
                       : b*{D.NUM_HASHES // D.NUM_BANDS}+{D.NUM_HASHES // D.NUM_BANDS}],
                   v -> v::VARCHAR), ':') AS band_key
        FROM sigs, unnest(range(0, {D.NUM_BANDS})) t(b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id),
    pairs AS (
        SELECT doc_a, doc_b,
               {_SET_JACCARD_SQL} AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = doc_a
        JOIN sh sb ON sb.doc_id = doc_b)"""


# The near-dup closure over `pairs` (twin of dedup.connected_components):
# undirected edges above the Jaccard threshold, `reach` pairs every seed
# doc with each doc it reaches, and a doc's cluster is the smallest id it
# reaches. A non-empty `scope` (`_OLD`) keeps only the edges and seed docs
# on that side of the batch split. Needs WITH RECURSIVE.
def _near_dup_reach(scope: str = "") -> str:
    edge_scope = f" AND doc_a {scope} AND doc_b {scope}" if scope else ""
    seed_scope = f" WHERE doc_id {scope}" if scope else ""
    return f"""
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        WHERE jaccard >= {D.JACCARD_THRESHOLD}{edge_scope}
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
        WHERE jaccard >= {D.JACCARD_THRESHOLD}{edge_scope}),
    reach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents{seed_scope}
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""


_REACH_MIN = "SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src"

# Full corpus: `cl` = (doc_id, cluster_id) for every document.
DUCK_NEAR_DUP_CTES = f"""{_near_dup_reach()},
    cl AS ({_REACH_MIN})"""

# The batch split of the incremental dedup family: the last residue class
# of doc_id % NEW_BATCH_MOD is the new batch, the rest the standing corpus.
_OLD = f"% {D.NEW_BATCH_MOD} != {D.NEW_BATCH_MOD - 1}"
_NEW = f"% {D.NEW_BATCH_MOD} = {D.NEW_BATCH_MOD - 1}"

# Old corpus only: `oldcl` clusters the standing corpus and `best` holds
# each matched new doc's most similar old doc (ties to the lowest id),
# twin of dedup.incremental_dedup_assign's probe.
DUCK_OLD_NEAR_DUP_CTES = f"""{_near_dup_reach(_OLD)},
    oldcl AS ({_REACH_MIN}),
    newold AS (
        SELECT CASE WHEN doc_a {_NEW} THEN doc_a ELSE doc_b END AS new_id,
               CASE WHEN doc_a {_NEW} THEN doc_b ELSE doc_a END AS old_id,
               jaccard
        FROM pairs
        WHERE jaccard >= {D.JACCARD_THRESHOLD}
          AND (doc_a {_NEW}) <> (doc_b {_NEW})),
    best AS (
        SELECT new_id, old_id FROM (
          SELECT *, row_number() OVER (PARTITION BY new_id
                     ORDER BY jaccard DESC, old_id ASC) AS rn
          FROM newold) WHERE rn = 1)"""

register(
    "minhash_near_duplicates",
    D.q_minhash_near_duplicates,
    f"""
    WITH {DUCK_MINHASH_PAIR_CTES}
    SELECT doc_a, doc_b, jaccard
    FROM pairs
    WHERE jaccard >= {D.JACCARD_THRESHOLD}
    """,
)

register(
    "near_duplicate_clusters",
    D.q_near_duplicate_clusters,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{_near_dup_reach()}
    {_REACH_MIN}
    """,
)

register(
    "ngram_jaccard_pairs",
    D.q_ngram_jaccard,
    f"""
    WITH {DUCK_SHINGLES},
    ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS na, b.n_sh AS nb, count(*) AS c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b, na, nb)
    SELECT doc_a, doc_b, {duck_floor_round("c / (na + nb - c)")} AS jaccard
    FROM common
    WHERE {duck_floor_round("c / (na + nb - c)")} >= 0.5
    """,
)

register(
    "simhash_fingerprints",
    D.q_simhash_fingerprints,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
           GROUP BY doc_id, tok),
    h AS (SELECT doc_id, tf, {DUCK_H8.format(x='tok')} AS h FROM tf),
    votes AS (
        SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1)) AS v
        FROM h, unnest(range(0, {D.SIMHASH_BITS})) t(j)
        GROUP BY doc_id, j)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)

register(
    "simhash_near_duplicates",
    D.q_simhash_near_duplicates,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
           GROUP BY doc_id, tok),
    h AS (SELECT doc_id, tf, {DUCK_H8.format(x='tok')} AS h FROM tf),
    votes AS (
        SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1)) AS v
        FROM h, unnest(range(0, {D.SIMHASH_BITS})) t(j)
        GROUP BY doc_id, j),
    fps AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {D.HAMMING_THRESHOLD}
    """,
)

# --- similarity search (north-star extensions) -------------------------------

from ..operators import similarity as S  # noqa: E402

DUCK_EMB = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

register(
    "cosine_topk",
    lambda spark, sf: S.cosine_topk(spark, sf),
    f"""
    WITH e AS ({DUCK_EMB}),
    q AS (SELECT v AS q FROM e WHERE vec_id = {S.QUERY_VEC_ID})
    SELECT vec_id,
           round(list_cosine_similarity(v, (SELECT q FROM q)), 6) AS cosine
    FROM e
    ORDER BY cosine DESC, vec_id
    LIMIT {S.TOP_K}
    """,
)

register(
    "ivf_assignments",
    lambda spark, sf: S.ivf_assignments(spark, sf),
    f"""
    WITH e AS ({DUCK_EMB}),
    cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
             WHERE vec_id < {S.N_CENTROIDS}),
    scored AS (
        SELECT e.vec_id, c.centroid_id,
               list_cosine_similarity(e.v, c.cvec) AS cos
        FROM e, cent c)
    SELECT vec_id, centroid_id
    FROM (SELECT vec_id, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos DESC, centroid_id ASC) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)

register(
    # equal-mass rebalancing across embedding clusters; same assignment
    # CTEs as ivf_assignments, int64 keep rates, portable-hash membership
    "cluster_balanced_sample",
    lambda spark, sf: S.cluster_balanced_sample(spark, sf),
    f"""
    WITH e AS ({DUCK_EMB}),
    cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
             WHERE vec_id < {S.N_CENTROIDS}),
    scored AS (
        SELECT e.vec_id, c.centroid_id,
               list_cosine_similarity(e.v, c.cvec) AS cos
        FROM e, cent c),
    best AS (
        SELECT vec_id, centroid_id
        FROM (SELECT vec_id, centroid_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY cos DESC, centroid_id ASC) AS rn
              FROM scored)
        WHERE rn = 1),
    counts AS (SELECT centroid_id, count(*) AS n FROM best
               GROUP BY centroid_id),
    m AS (SELECT min(n) AS mn FROM counts),
    rates AS (SELECT centroid_id, CAST(mn * {S._CB_PPM} // n AS BIGINT)
                  AS keep_ppm
              FROM counts, m)
    SELECT b.vec_id, b.centroid_id
    FROM best b JOIN rates r USING (centroid_id)
    WHERE {DUCK_H8.format(x=f"CAST(b.vec_id AS VARCHAR) || '{S.CB_SAMPLE_SALT}'")}
          % {S._CB_PPM} < r.keep_ppm
    """,
)

_IVF_TOPK_SQL = f"""
    WITH e AS ({DUCK_EMB}),
    q AS (SELECT v AS q FROM e WHERE vec_id = {S.QUERY_VEC_ID}),
    cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
             WHERE vec_id < {S.N_CENTROIDS}),
    scored AS (
        SELECT e.vec_id, c.centroid_id,
               list_cosine_similarity(e.v, c.cvec) AS cos
        FROM e, cent c),
    best AS (
        SELECT vec_id, centroid_id
        FROM (SELECT vec_id, centroid_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY cos DESC, centroid_id ASC) AS rn
              FROM scored)
        WHERE rn = 1),
    probed AS (
        SELECT centroid_id FROM cent, q
        ORDER BY list_cosine_similarity(cvec, q) DESC, centroid_id
        LIMIT {S.N_PROBE})
    SELECT e.vec_id,
           round(list_cosine_similarity(e.v, (SELECT q FROM q)), 6) AS cosine
    FROM e JOIN best USING (vec_id) JOIN probed USING (centroid_id)
    ORDER BY cosine DESC, vec_id
    LIMIT {S.TOP_K}
    """

register(
    "ivf_topk",
    lambda spark, sf: S.ivf_topk(spark, sf),
    _IVF_TOPK_SQL,
)

# Materialized (write-once / probe-many) variant: same probe rule and the
# same oracle as ivf_topk, but the probe reads the partition-pruned
# bucketed index (operators/vector_index.py) instead of re-assigning the
# corpus per query — the reference's build-once index lifecycle
# (BooleanRetrievalCompressed.java:31-37) applied to vectors.
from ..operators import vector_index as VI  # noqa: E402

register(
    "ivf_topk_indexed",
    lambda spark, sf: VI.ivf_topk_indexed(spark, sf),
    _IVF_TOPK_SQL,
)

# The registered plan is the centroid-SCOPED pair stage
# (SemDeDup's within-cluster candidate discipline): pair compute is
# Σ_c n_c², never n² in corpus size. The exact block grid
# (cosine_near_duplicate_pairs) stays as the fixture-scale recall
# oracle, pinned by the embedding_dedup_recall audit card.
# Both queries register at REGISTERED_PAIR_THRESHOLD (0.4) instead of
# the 0.9 operator default: at 0.9 the fixtures hold zero qualifying
# pairs at every SF, so the driver rows would be vacuously green — see
# the SEMANTIC CHANGE note at similarity.py's constant.
_EMB_SCOPE_CTES = f"""
    cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
             WHERE vec_id < {S.N_CENTROIDS}),
    scoredc AS (SELECT e.vec_id, c.centroid_id,
                       list_cosine_similarity(e.v, c.cvec) AS cos
                FROM e, cent c),
    best AS (SELECT vec_id, centroid_id, cos FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cos DESC, centroid_id) AS rn
               FROM scoredc) WHERE rn = 1)"""

_EMB_SCOPED_PAIRS_SQL = f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    JOIN best ba ON ba.vec_id = a.vec_id
    JOIN best bb ON bb.vec_id = b.vec_id
    WHERE ba.centroid_id = bb.centroid_id
      AND round(list_cosine_similarity(a.v, b.v), 6)
          >= {S.REGISTERED_PAIR_THRESHOLD}"""

register(
    "embedding_near_duplicates",
    lambda spark, sf: S.embedding_near_duplicates_scoped(
        spark, sf, threshold=S.REGISTERED_PAIR_THRESHOLD
    ),
    f"""
    WITH e AS ({DUCK_EMB}),{_EMB_SCOPE_CTES}
    {_EMB_SCOPED_PAIRS_SQL}
    """,
)

register(
    # SemDeDup: centroid-SCOPED cosine-pair closure (the paper's
    # within-cluster candidate discipline — the operator's default pair
    # stage) -> keep the member farthest from its IVF centroid
    # (6dp-rounded ordering on both engines). The exact unscoped pair
    # scan stays as the pytest-pinned correctness twin
    # (pair_mode='exact'; tests/test_similarity.py).
    "semantic_dedup_keep_best",
    lambda spark, sf: S.semantic_dedup_keep_best(
        spark, sf, threshold=S.REGISTERED_PAIR_THRESHOLD
    ),
    f"""
    WITH RECURSIVE e AS ({DUCK_EMB}),
    cent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
             WHERE vec_id < {S.N_CENTROIDS}),
    scored AS (SELECT e.vec_id, c.centroid_id,
                      list_cosine_similarity(e.v, c.cvec) AS cos
               FROM e, cent c),
    best AS (SELECT vec_id, centroid_id, cos FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                          ORDER BY cos DESC, centroid_id) AS rn
               FROM scored) WHERE rn = 1),
    prs AS (SELECT a.vec_id AS src, b.vec_id AS dst
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            JOIN best ba ON ba.vec_id = a.vec_id
            JOIN best bb ON bb.vec_id = b.vec_id
            WHERE ba.centroid_id = bb.centroid_id
              AND round(list_cosine_similarity(a.v, b.v), 6)
                  >= {S.REGISTERED_PAIR_THRESHOLD}),
    edges AS (SELECT src, dst FROM prs UNION ALL SELECT dst, src FROM prs),
    reach AS (SELECT vec_id AS src, vec_id AS dst FROM e
              UNION
              SELECT r.src, ed.dst FROM reach r JOIN edges ed ON r.dst = ed.src),
    cl AS (SELECT src AS vec_id, min(dst) AS cluster_id
           FROM reach GROUP BY src),
    r AS (SELECT cl.cluster_id, cl.vec_id, b.centroid_id,
                 round(b.cos, 6) AS centroid_cos,
                 row_number() OVER (PARTITION BY cl.cluster_id
                     ORDER BY round(b.cos, 6) ASC, cl.vec_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cl.cluster_id) AS group_size
          FROM cl JOIN best b USING (vec_id))
    SELECT cluster_id, vec_id, centroid_id, centroid_cos,
           CAST(group_size AS BIGINT) AS group_size
    FROM r WHERE rn = 1
    """,
)


def _kmeans_ctes(
    n_centroids: int = S.N_CENTROIDS, iterations: int = S.KMEANS_ITERATIONS
) -> tuple[str, str]:
    """Fully-unrolled DuckDB twin of the spherical k-means trainer
    (operators/similarity.py::kmeans_centroids) — same trick as the PPR
    oracle (_ppr_topk_sql): the loop has a FIXED iteration count, so each
    Lloyd step unrolls into 3 materialized CTEs (argmax assignment via a
    ranked cross join, element-wise mean via per-dimension unnest+sum,
    renormalize with empty-cluster fallback). Returns (cte_block,
    final_centroid_cte_name); callers append their own projection."""
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings)",
        "unit AS MATERIALIZED (SELECT vec_id,"
        " list_transform(v, x -> x / nrm) AS u"
        " FROM (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm"
        " FROM e))",
        f"c0 AS MATERIALIZED (SELECT vec_id AS centroid_id, u AS cvec"
        f" FROM unit WHERE vec_id < {n_centroids})",
    ]
    for it in range(1, iterations + 1):
        p = it - 1
        ctes.append(
            f"asg{it} AS MATERIALIZED ("
            f"SELECT vec_id, centroid_id, u FROM ("
            f" SELECT un.vec_id, c.centroid_id, un.u,"
            f" row_number() OVER (PARTITION BY un.vec_id"
            f"  ORDER BY list_inner_product(un.u, c.cvec) DESC, c.centroid_id)"
            f" AS rn FROM unit un, c{p} c) WHERE rn = 1)"
        )
        ctes.append(
            f"m{it} AS MATERIALIZED ("
            f"SELECT centroid_id, list(s ORDER BY j) AS mvec FROM ("
            f" SELECT a.centroid_id, j, sum(a.u[j]) / count(*) AS s"
            f" FROM asg{it} a, unnest(range(1, len(a.u) + 1)) t(j)"
            f" GROUP BY a.centroid_id, j) GROUP BY centroid_id)"
        )
        ctes.append(
            f"c{it} AS MATERIALIZED ("
            f"SELECT p.centroid_id,"
            f" CASE WHEN mm.centroid_id IS NULL OR mm.nrm = 0 THEN p.cvec"
            f" ELSE list_transform(mm.mvec, x -> x / mm.nrm) END AS cvec"
            f" FROM c{p} p LEFT JOIN ("
            f"  SELECT centroid_id, mvec,"
            f"  sqrt(list_inner_product(mvec, mvec)) AS nrm"
            f"  FROM m{it}) mm USING (centroid_id))"
        )
    return ",\n".join(ctes), f"c{iterations}"


_KMEANS_CTES, _KMEANS_FINAL = _kmeans_ctes()

# The fixed-iteration Lloyd's loop unrolls into straight-line SQL (same
# pattern as ppr_topk), so the trained-quantizer family hash-checks too;
# cvec renders as a fixed-format comma-joined string (the canonicalizer
# cannot hash array cells). NumPy replay + recall tests still pin the
# numerics in tests/test_similarity.py.
register(
    "ivf_train_centroids",
    lambda spark, sf: S.kmeans_centroids(spark, sf).select(
        "centroid_id",
        F.array_join(
            F.transform("cvec", lambda x: F.format_string("%.6f", x)), ","
        ).alias("cvec"),
    ),
    f"""
    WITH {_KMEANS_CTES}
    SELECT centroid_id,
           list_aggregate(list_transform(cvec, x -> printf('%.6f', x)),
                          'string_agg', ',') AS cvec
    FROM {_KMEANS_FINAL}
    """,
)

# Spherical k-means invariant, PPR-mass-conservation-style: every trained
# centroid is unit-normalized (init = normalized vectors; each Lloyd update
# renormalizes; empty clusters keep the previous unit vector), so the full
# iterative trainer hash-checks against a constant table of C ones. Reads
# the STANDING trained-quantizer asset (ivf_train_centroids above stays
# the inline trainer) — the invariant it certifies is a property of the
# persisted model table a deployment would audit.
register(
    "ivf_centroid_norms",
    lambda spark, sf: S.standing_kmeans_centroids(spark, sf).select(
        "centroid_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    "cvec",
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            ),
            6,
        ).alias("l2_norm"),
    ),
    "SELECT CAST(range AS INT) AS centroid_id, CAST(1.0 AS DOUBLE) AS l2_norm "
    f"FROM range({S.N_CENTROIDS})",
)

# trained quantizer feeding the probe: the same unrolled-k-means CTEs
# extend to the full train -> assign -> probe -> rank lifecycle
register(
    "ivf_topk_trained",
    lambda spark, sf: S.ivf_topk_trained(spark, sf),
    f"""
    WITH {_KMEANS_CTES},
    q AS (SELECT v AS q FROM e WHERE vec_id = {S.QUERY_VEC_ID}),
    best AS (
        SELECT vec_id, centroid_id
        FROM (SELECT e.vec_id, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cvec) DESC,
                                  c.centroid_id) AS rn
              FROM e, {_KMEANS_FINAL} c)
        WHERE rn = 1),
    probed AS (
        SELECT centroid_id FROM {_KMEANS_FINAL}, q
        ORDER BY list_cosine_similarity(cvec, q) DESC, centroid_id
        LIMIT {S.N_PROBE})
    SELECT e.vec_id,
           round(list_cosine_similarity(e.v, (SELECT q FROM q)), 6) AS cosine
    FROM e JOIN best USING (vec_id) JOIN probed USING (centroid_id)
    ORDER BY cosine DESC, vec_id
    LIMIT {S.TOP_K}
    """,
)

# Product quantization: sub-centroids = subvectors of the first K
# vectors (deterministic, data-derived), distances as LEFT-TO-RIGHT
# elementwise folds on both engines (bit-identical, so argmin codes
# match exactly). Slicing derives from len(v) — dim-independent, no
# fixture constant pinned into the SQL.
_PQ_COMMON = f"""
    e AS ({DUCK_EMB}),
    sub AS (
        SELECT vec_id, j,
               v[j * (len(v) // {S.PQ_M}) + 1 : (j + 1) * (len(v) // {S.PQ_M})]
                   AS sv
        FROM e, unnest(range(0, {S.PQ_M})) t(j)),
    cent AS (SELECT vec_id AS cid, j, sv AS cv FROM sub
             WHERE vec_id < {S.PQ_K}),
    d AS (
        SELECT s.vec_id, s.j, c.cid,
               list_sum(list_transform(range(1, len(s.sv) + 1),
                        i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))
                   AS dist
        FROM sub s JOIN cent c USING (j)),
    codes AS (
        SELECT vec_id, j, cid AS code
        FROM (SELECT vec_id, j, cid,
                     row_number() OVER (PARTITION BY vec_id, j
                                        ORDER BY dist ASC, cid ASC) AS rn
              FROM d)
        WHERE rn = 1)
"""

register(
    "pq_codes",
    lambda spark, sf: S.pq_codes(spark, sf),
    f"""
    WITH {_PQ_COMMON}
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), ',' ORDER BY j) AS codes
    FROM codes GROUP BY vec_id
    """,
)

register(
    "pq_topk",
    lambda spark, sf: S.pq_topk(spark, sf),
    f"""
    WITH {_PQ_COMMON},
    q AS (SELECT j, sv AS qv FROM sub WHERE vec_id = {S.QUERY_VEC_ID}),
    dt AS (
        SELECT c.j, c.cid,
               list_sum(list_transform(range(1, len(c.cv) + 1),
                        i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                   AS qd
        FROM cent c JOIN q USING (j)),
    approx AS (
        SELECT cd.vec_id, list_sum(list(dt.qd ORDER BY cd.j)) AS ad
        FROM codes cd JOIN dt ON dt.j = cd.j AND dt.cid = cd.code
        GROUP BY cd.vec_id)
    SELECT vec_id, round(ad, 6) AS approx_dist
    FROM approx
    ORDER BY approx_dist ASC, vec_id ASC
    LIMIT {S.TOP_K}
    """,
)

_IVFPQ_SQL = f"""
    WITH {_PQ_COMMON},
    qv AS (SELECT v AS qq FROM e WHERE vec_id = {S.QUERY_VEC_ID}),
    icent AS (SELECT vec_id AS centroid_id, v AS cvec FROM e
              WHERE vec_id < {S.N_CENTROIDS}),
    ibest AS (
        SELECT vec_id, centroid_id
        FROM (SELECT e.vec_id, c.centroid_id,
                     row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cvec) DESC,
                                  c.centroid_id) AS rn
              FROM e, icent c)
        WHERE rn = 1),
    probed AS (
        SELECT centroid_id FROM icent, qv
        ORDER BY list_cosine_similarity(cvec, qq) DESC, centroid_id
        LIMIT {S.N_PROBE}),
    q AS (SELECT j, sv AS qv FROM sub WHERE vec_id = {S.QUERY_VEC_ID}),
    dt AS (
        SELECT c.j, c.cid,
               list_sum(list_transform(range(1, len(c.cv) + 1),
                        i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i])))
                   AS qd
        FROM cent c JOIN q USING (j)),
    approx AS (
        SELECT cd.vec_id, list_sum(list(dt.qd ORDER BY cd.j)) AS ad
        FROM codes cd JOIN dt ON dt.j = cd.j AND dt.cid = cd.code
        GROUP BY cd.vec_id)
    SELECT a.vec_id, round(a.ad, 6) AS approx_dist
    FROM approx a JOIN ibest USING (vec_id) JOIN probed USING (centroid_id)
    ORDER BY approx_dist ASC, vec_id ASC
    LIMIT {S.TOP_K}
    """

register(
    "ivfpq_topk",
    lambda spark, sf: S.ivfpq_topk(spark, sf),
    _IVFPQ_SQL,
)

# The materialized-index composition of the same read path: pruned IVF
# buckets x ADC scoring, identical results -> identical oracle.
register(
    "ivfpq_topk_indexed",
    lambda spark, sf: VI.ivfpq_topk_indexed(spark, sf),
    _IVFPQ_SQL,
)

register(
    "semantic_search",
    lambda spark, sf: S.semantic_search(spark, sf),
    f"""
    WITH e AS ({DUCK_EMB}),
    q AS (SELECT v AS q FROM e WHERE vec_id = {S.QUERY_VEC_ID}),
    top AS (
        SELECT vec_id,
               round(list_cosine_similarity(v, (SELECT q FROM q)), 6) AS cosine
        FROM e
        ORDER BY cosine DESC, vec_id
        LIMIT {S.TOP_K})
    SELECT d.doc_id, top.cosine, d.text
    FROM top JOIN documents d ON top.vec_id = d.doc_id
    """,
)

# Sign-LSH codes + banded ANN (deterministic hyperplanes = first N vectors,
# so DuckDB reproduces the full computation).
DUCK_LSH_CODES = f"""
    hp AS (SELECT vec_id AS h, v AS hv FROM e WHERE vec_id < {S.N_HYPERPLANES}),
    codes AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_inner_product(e.v, hp.hv) > 0
                             THEN (CAST(1 AS BIGINT) << hp.h) ELSE 0 END)
                    AS BIGINT) AS code
        FROM e, hp GROUP BY e.vec_id)
"""

register(
    "lsh_codes",
    lambda spark, sf: S.lsh_codes(spark, sf),
    f"""
    WITH e AS ({DUCK_EMB}),
    {DUCK_LSH_CODES}
    SELECT vec_id, code FROM codes
    """,
)

_LSH_TOPK_SQL = f"""
    WITH e AS ({DUCK_EMB}),
    {DUCK_LSH_CODES},
    bands AS (
        SELECT vec_id, b,
               (code >> (b * {S.LSH_BAND_BITS})) & {(1 << S.LSH_BAND_BITS) - 1}
                   AS bv
        FROM codes, unnest(range(0, {S.LSH_N_BANDS})) t(b)),
    qb AS (SELECT b, bv FROM bands WHERE vec_id = {S.QUERY_VEC_ID}),
    cand AS (SELECT DISTINCT bands.vec_id FROM bands JOIN qb USING (b, bv)),
    q AS (SELECT v AS q FROM e WHERE vec_id = {S.QUERY_VEC_ID})
    SELECT e.vec_id,
           round(list_cosine_similarity(e.v, (SELECT q FROM q)), 6) AS cosine
    FROM e JOIN cand ON e.vec_id = cand.vec_id
    ORDER BY cosine DESC, e.vec_id
    LIMIT {S.TOP_K}
    """

register(
    "lsh_topk",
    lambda spark, sf: S.lsh_topk(spark, sf),
    _LSH_TOPK_SQL,
)

# Materialized banded-LSH probe (hash-table-per-band layout): same
# candidate rule and oracle as lsh_topk against the pruned bucketed index.
register(
    "lsh_topk_indexed",
    lambda spark, sf: VI.lsh_topk_indexed(spark, sf),
    _LSH_TOPK_SQL,
)

# --- text analysis (north-star extensions) ----------------------------------

from ..operators import textstats as TS  # noqa: E402

_LANGS = list(TS.LANG_STOPWORDS)
_SCORES_SQL = ",\n           ".join(
    "len(list_filter(toks, t -> list_contains({lst}, t)))"
    " / greatest(len(toks), 1) AS s_{lang}".format(
        lst="[" + ", ".join(f"'{w}'" for w in ws) + "]", lang=lang
    )
    for lang, ws in TS.LANG_STOPWORDS.items()
)
_BEST_SQL = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"
_PRED_SQL = "CASE " + " ".join(
    f"WHEN s_{lang} = best AND best >= {TS.LANG_MIN_SCORE} THEN '{lang}'"
    for lang in _LANGS
) + " ELSE 'und' END"

register(
    "language_id",
    lambda spark, sf: TS.language_id(spark, sf),
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    scored AS (
        SELECT doc_id,
           {_SCORES_SQL}
        FROM toks),
    best AS (SELECT *, {_BEST_SQL} AS best FROM scored)
    SELECT doc_id, {_PRED_SQL} AS lang_pred, {duck_floor_round("best")} AS lang_score
    FROM best
    """,
)

_EN_SQL = "[" + ", ".join(f"'{w}'" for w in TS.LANG_STOPWORDS["en"]) + "]"

_QUALITY_SCORE_SQL = duck_floor_round(
    "greatest(0.0, least(1.0, 0.5 + stop_hits / greatest(n_tokens, 1)"
    " - (n_chars - ls) / greatest(n_chars, 1) * 5))"
)
_TEXT_QUALITY_SQL = f"""
    WITH t AS (SELECT doc_id, text, {DUCK_TOKS} AS toks FROM documents),
    m AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(toks) AS n_tokens,
               length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS ls,
               len(list_filter(toks, t -> list_contains({_EN_SQL}, t))) AS stop_hits
        FROM t)
    SELECT doc_id, n_chars, n_tokens,
           -- floor-round, not round(x, 6): all four are exact integer
           -- ratios (tie class, see functions/numerics.py)
           {duck_floor_round(
               "CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END"
           )} AS avg_token_len,
           {duck_floor_round("stop_hits / greatest(n_tokens, 1)")} AS stopword_ratio,
           {duck_floor_round("(n_chars - ls) / greatest(n_chars, 1)")} AS punct_ratio,
           {_QUALITY_SCORE_SQL} AS quality_score
    FROM m
"""

register(
    "text_quality",
    lambda spark, sf: TS.text_quality(spark, sf),
    _TEXT_QUALITY_SQL,
)

register(
    "sequence_pack",
    lambda spark, sf: TS.sequence_pack(spark, sf),
    f"""
    WITH tq AS ({_TEXT_QUALITY_SQL}),
    o AS (
        SELECT doc_id, n_tokens,
               {DUCK_H8.format(x=f"(CAST(doc_id AS VARCHAR) || '{TS.PACK_SALT}')")}
                   AS ok
        FROM tq),
    c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY ok, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM o)
    SELECT doc_id, n_tokens,
           CAST((cum - n_tokens) // {TS.SEQ_LEN} AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % {TS.SEQ_LEN} AS BIGINT) AS seq_offset
    FROM c
    """,
)

register(
    "token_budget_pack",
    lambda spark, sf: TS.token_budget_pack(spark, sf),
    f"""
    WITH tq AS ({_TEXT_QUALITY_SQL}),
    c AS (
        SELECT doc_id, n_tokens, quality_score,
               sum(n_tokens) OVER (
                   ORDER BY quality_score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tokens
        FROM tq)
    SELECT doc_id, n_tokens, quality_score,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {TS.TOKEN_BUDGET}
    """,
)

register(
    "token_counts",
    lambda spark, sf: TS.token_counts(spark, sf),
    f"""
    SELECT doc_id,
           len({DUCK_TOKS}) AS n_words,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
               AS n_bpe_pieces,
           CAST(ceil(length(text) / 4) AS BIGINT) AS n_tokens_est
    FROM documents
    """,
)

register(
    "doc_fingerprints",
    lambda spark, sf: TS.doc_fingerprints(spark, sf),
    f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    fp AS (
        SELECT doc_id,
               list_reduce(
                   list_prepend(0::BIGINT,
                       list_transform(toks, s -> {DUCK_H8.format(x='s')})),
                   (a, b) -> (a * 31 + b) % {TS.FINGERPRINT_MOD}) AS fingerprint
        FROM t)
    SELECT doc_id, fingerprint, fingerprint % {TS.FINGERPRINT_BANDS} AS band
    FROM fp
    """,
)

register(
    "repetition_stats",
    lambda spark, sf: TS.repetition_stats(spark, sf),
    f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    tc AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        GROUP BY doc_id, tok),
    tagg AS (
        SELECT doc_id, sum(c) AS n_tok, count(*) AS n_distinct,
               max(c) AS max_tok
        FROM tc GROUP BY doc_id),
    bc AS (
        SELECT doc_id, b, count(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(toks[1:len(toks)-1]) || ' ' || unnest(toks[2:len(toks)])
                       AS b
            FROM t WHERE len(toks) > 1)
        GROUP BY doc_id, b),
    bagg AS (SELECT doc_id, sum(c) AS n_bg, max(c) AS max_bg
             FROM bc GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(n_tok, 0) AS BIGINT) AS n_tokens,
           {duck_floor_round("coalesce(n_distinct / n_tok, 0)")} AS distinct_token_ratio,
           {duck_floor_round("coalesce(max_tok / n_tok, 0)")} AS top_token_frac,
           {duck_floor_round("coalesce(max_bg / n_bg, 0)")} AS top_bigram_frac
    FROM documents d
    LEFT JOIN tagg USING (doc_id)
    LEFT JOIN bagg ON bagg.doc_id = d.doc_id
    """,
)

# --- events analytics (batch; streaming twins in streaming/) -----------------

from ..operators import events as E  # noqa: E402

register(
    "events_tumbling_counts",
    lambda spark, sf: E.tumbling_counts(spark, sf),
    f"""
    -- exact-cents accounting (events.py::value_cents): avg of a plain
    -- double sum rounded 4dp flipped on 52 sf1 windows
    WITH w AS (
      SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / {E.TUMBLE_SEC})
                 * {E.TUMBLE_SEC} * 1000000 AS BIGINT)),
             '%Y-%m-%d %H:%M:%S') AS window_start,
             event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events),
    a AS (SELECT window_start, event_type,
                 count(*) AS n_events,
                 CAST(sum(vc) AS BIGINT) AS sum_vc
          FROM w GROUP BY window_start, event_type)
    SELECT window_start, event_type, n_events,
           sum_vc / 100.0 AS sum_value,
           CAST(floor(sum_vc * 100.0 / n_events + 0.5) AS BIGINT) / 10000.0
               AS avg_value
    FROM a
    """,
)

register(
    "events_sliding_counts",
    lambda spark, sf: E.sliding_counts(spark, sf),
    f"""
    SELECT strftime(make_timestamp(CAST(
               (floor((epoch(ts) - off) / {E.SLIDE_WINDOW_SEC})
                * {E.SLIDE_WINDOW_SEC} + off) * 1000000 AS BIGINT)),
            '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events
    FROM events,
         unnest({list(range(0, E.SLIDE_WINDOW_SEC, E.SLIDE_STEP_SEC))}) AS t(off)
    GROUP BY window_start, event_type
    """,
)

register(
    "events_sessionize",
    lambda spark, sf: E.sessionize(spark, sf),
    f"""
    WITH e AS (SELECT user_id, ts, value,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    g AS (SELECT *,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR sec - lag(sec) OVER w > {E.SESSION_GAP_SEC}
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)),
    s AS (SELECT *, CAST(sum(new_session) OVER (
                     PARTITION BY user_id ORDER BY ts, value
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)
    SELECT user_id, session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           max(sec) - min(sec) AS duration_sec,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)

register(
    "events_json_stats",
    lambda spark, sf: E.json_props_stats(spark, sf),
    f"""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(json_extract_string(props, '$.k')::INT) AS BIGINT) AS sum_k,
           {duck_floor_round("avg(json_extract_string(props, '$.k')::INT)", 4)} AS avg_k,
           min(json_extract_string(props, '$.k')::INT) AS min_k,
           max(json_extract_string(props, '$.k')::INT) AS max_k
    FROM events GROUP BY event_type
    """,
)

register(
    "events_gap_filled_counts",
    lambda spark, sf: E.gap_filled_counts(spark, sf),
    f"""
    WITH bounds AS (
        SELECT CAST(floor(min(epoch(ts)) / {E.TUMBLE_SEC}) * {E.TUMBLE_SEC} AS BIGINT) AS lo,
               CAST(floor(max(epoch(ts)) / {E.TUMBLE_SEC}) * {E.TUMBLE_SEC} AS BIGINT) AS hi
        FROM events),
    spine AS (
        SELECT strftime(make_timestamp(s * 1000000), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type
        FROM bounds,
             unnest(range(lo, hi + {E.TUMBLE_SEC}, {E.TUMBLE_SEC})) t(s),
             (SELECT DISTINCT event_type FROM events) ty),
    actual AS (
        SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / {E.TUMBLE_SEC})
                    * {E.TUMBLE_SEC} * 1000000 AS BIGINT)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n
        FROM events GROUP BY window_start, event_type)
    SELECT spine.window_start, spine.event_type,
           coalesce(actual.n, 0) AS n_events
    FROM spine LEFT JOIN actual USING (window_start, event_type)
    """,
)

register(
    "degree_distribution",
    lambda spark, sf: G.degree_distribution(spark, sf),
    """
    WITH n AS (SELECT count(*) AS c FROM documents),
    e AS (
        SELECT DISTINCT doc_id AS src,
               (doc_id * k + 1) % (SELECT c FROM n) AS dst
        FROM documents, unnest(range(1, (doc_id % 5) + 1)) AS t(k)),
    deg AS (SELECT src, count(*) AS degree FROM e GROUP BY src)
    SELECT coalesce(deg.degree, 0) AS degree, count(*) AS n_nodes
    FROM documents LEFT JOIN deg ON documents.doc_id = deg.src
    GROUP BY coalesce(deg.degree, 0)
    """,
)

register(
    "triangle_count",
    lambda spark, sf: G.triangle_count(spark, sf),
    """
    WITH n AS (SELECT count(*) AS c FROM documents),
    e AS (
        SELECT DISTINCT doc_id AS src,
               (doc_id * k + 1) % (SELECT c FROM n) AS dst
        FROM documents, unnest(range(1, (doc_id % 5) + 1)) AS t(k)),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e WHERE src <> dst)
    SELECT count(*) AS n_triangles
    FROM und ab
    JOIN und bc ON ab.b = bc.a
    JOIN und ac ON ac.a = ab.a AND ac.b = bc.b
    """,
)

register(
    "user_funnel",
    lambda spark, sf: E.user_funnel(spark, sf),
    f"""
    WITH t1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = '{E.FUNNEL_STAGES[0]}' GROUP BY user_id),
    t2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN t1 ON e.user_id = t1.user_id
        WHERE e.event_type = '{E.FUNNEL_STAGES[1]}' AND e.ts > t1.t1
        GROUP BY e.user_id),
    t3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN t2 ON e.user_id = t2.user_id
        WHERE e.event_type = '{E.FUNNEL_STAGES[2]}' AND e.ts > t2.t2
        GROUP BY e.user_id)
    SELECT u.user_id,
           strftime(t1.t1, '%Y-%m-%d %H:%M:%S') AS signup_ts,
           strftime(t2.t2, '%Y-%m-%d %H:%M:%S') AS first_click_ts,
           strftime(t3.t3, '%Y-%m-%d %H:%M:%S') AS first_purchase_ts,
           CAST((t1.t1 IS NOT NULL)::INT + (t2.t2 IS NOT NULL)::INT
                + (t3.t3 IS NOT NULL)::INT AS INT) AS stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN t1 ON u.user_id = t1.user_id
    LEFT JOIN t2 ON u.user_id = t2.user_id
    LEFT JOIN t3 ON u.user_id = t3.user_id
    """,
)

register(
    "top_users_by_type",
    lambda spark, sf: E.top_users_by_type(spark, sf),
    f"""
    WITH totals AS (
        SELECT event_type, user_id, round(sum(value), 2) AS total_value
        FROM events GROUP BY event_type, user_id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                     ORDER BY total_value DESC, user_id ASC) AS rank
        FROM totals)
    SELECT event_type, user_id, total_value, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {E.TOPK_USERS}
    """,
)

# --- multimodal columns (north-star extensions) ------------------------------

from ..operators import multimodal as MM  # noqa: E402

# The oracle CONSTRUCTS the same media bytes (real PNG/WAV/JPEG headers
# + repeated-digest payload, operators/multimodal.py::attach_media) and
# then PARSES the header back out of hex(media) exactly like the Spark
# side — magic dispatch, SOF0 marker scan, little-endian WAV fields — so
# the check covers the byte-level decode, not a doc_id formula.
_MEDIA_HEX_SQL = """
    WITH params AS (
        SELECT doc_id,
               16 + doc_id % 112 AS w,
               16 + (doc_id * 7) % 112 AS hh,
               1 + doc_id % 2 AS ch,
               8000 * (1 + doc_id % 5) AS sr,
               16 * (doc_id % 4 + 1) AS datalen,
               repeat(md5(text), CAST(doc_id % 4 + 1 AS INT)) AS payload
        FROM documents),
    built AS (
        SELECT doc_id,
               CASE doc_id % 3
               WHEN 0 THEN
                   '89504E470D0A1A0A' || '0000000D' || '49484452'
                   || printf('%08X', w) || printf('%08X', hh)
                   || '0802000000' || '00000000'
               WHEN 1 THEN
                   '52494646'
                   || printf('%02X', (36 + datalen) & 255)
                   || printf('%02X', ((36 + datalen) >> 8) & 255)
                   || printf('%02X', ((36 + datalen) >> 16) & 255)
                   || printf('%02X', ((36 + datalen) >> 24) & 255)
                   || '57415645' || '666D7420' || '10000000' || '0100'
                   || printf('%02X', ch & 255) || printf('%02X', (ch >> 8) & 255)
                   || printf('%02X', sr & 255) || printf('%02X', (sr >> 8) & 255)
                   || printf('%02X', (sr >> 16) & 255) || printf('%02X', (sr >> 24) & 255)
                   || printf('%02X', (sr * ch * 2) & 255)
                   || printf('%02X', ((sr * ch * 2) >> 8) & 255)
                   || printf('%02X', ((sr * ch * 2) >> 16) & 255)
                   || printf('%02X', ((sr * ch * 2) >> 24) & 255)
                   || printf('%02X', (ch * 2) & 255) || printf('%02X', ((ch * 2) >> 8) & 255)
                   || '1000' || '64617461'
                   || printf('%02X', datalen & 255) || printf('%02X', (datalen >> 8) & 255)
                   || printf('%02X', (datalen >> 16) & 255) || printf('%02X', (datalen >> 24) & 255)
               ELSE
                   'FFD8' || 'FFC0' || '000B' || '08'
                   || printf('%04X', hh) || printf('%04X', w)
                   || '01' || '011100'
               END ||
               -- JPEG filler is 0xFF-free by construction (see
               -- attach_media): translate in lockstep with Spark
               CASE WHEN doc_id % 3 = 2
                    THEN translate(payload, 'f', 'e') ELSE payload
               END AS media_hex
        FROM params)
    SELECT doc_id, hex(unhex(media_hex)) AS h FROM built
"""

register(
    "media_meta",
    MM.q_media_meta,
    f"""
    WITH m AS ({_MEDIA_HEX_SQL})
    SELECT doc_id,
           CASE WHEN substring(h, 1, 8) = '89504E47' THEN 'image'
                WHEN substring(h, 1, 8) = '52494646' THEN 'audio'
                WHEN substring(h, 1, 4) = 'FFD8' THEN 'video'
           END AS media_type,
           CAST(len(h) // 2 AS BIGINT) AS n_bytes,
           CASE WHEN substring(h, 1, 8) = '89504E47'
                THEN ('0x' || substring(h, 33, 8))::INT
                WHEN substring(h, 1, 4) = 'FFD8' AND position('FFC0' IN h) > 0
                THEN ('0x' || substring(h, position('FFC0' IN h) + 14, 4))::INT
           END AS width,
           CASE WHEN substring(h, 1, 8) = '89504E47'
                THEN ('0x' || substring(h, 41, 8))::INT
                WHEN substring(h, 1, 4) = 'FFD8' AND position('FFC0' IN h) > 0
                THEN ('0x' || substring(h, position('FFC0' IN h) + 10, 4))::INT
           END AS height,
           CASE WHEN substring(h, 1, 8) = '52494646'
                THEN ('0x' || substring(h, 47, 2) || substring(h, 45, 2))::INT
           END AS channels,
           CASE WHEN substring(h, 1, 8) = '52494646'
                THEN ('0x' || substring(h, 55, 2) || substring(h, 53, 2)
                           || substring(h, 51, 2) || substring(h, 49, 2))::INT
           END AS sample_rate
    FROM m
    """,
)

# The Arrow feature stage hashes the uppercase-hex rendering of the media
# bytes, which DuckDB can reproduce with md5(VARCHAR) over the same
# constructed hex — so even the mapInPandas stage hash-checks. Features
# render as %.8f strings (k/256 has exactly 8 fractional digits: exact,
# no cross-engine rounding-mode hazard; the canonicalizer can't hash
# array cells anyway, same pattern as spam_training_set).
register(
    "media_features",
    lambda spark, sf: MM.q_media_features(spark, sf).select(
        "doc_id",
        F.array_join(
            F.transform(
                "features",
                lambda x: F.format_string("%.8f", x.cast("double")),
            ),
            ",",
        ).alias("features"),
    ),
    f"""
    WITH m AS ({_MEDIA_HEX_SQL}),
    d AS (SELECT doc_id, md5(h) AS dg FROM m)
    SELECT doc_id,
           list_aggregate(
               [printf('%.8f',
                       ('0x' || substring(dg, 2 * i + 1, 2))::INT / 256.0)
                FOR i IN range({MM.N_FEATURES})],
               'string_agg', ',') AS features
    FROM d
    """,
)

# Frame sampling: FRAME_BYTES blocks of the payload, every 2nd frame —
# byte slicing maps 1:1 onto 2*FRAME_BYTES-char slices of the hex twin.
register(
    "video_frames",
    MM.q_video_frames,
    f"""
    WITH m AS ({_MEDIA_HEX_SQL})
    SELECT doc_id,
           CAST(j AS INT) AS frame_idx,
           substring(h, 1 + {2 * MM.FRAME_BYTES} * j, {2 * MM.FRAME_BYTES})
               AS frame_hex
    FROM m, unnest(range(0, len(h) // {2 * MM.FRAME_BYTES})) t(j)
    WHERE doc_id % 3 = 2 AND j % 2 = 0
    """,
)

# --- reference-native format connectors (SURVEY §2.1 S1/S2/S8) ---------------

from ..sources import formats as FMT  # noqa: E402

register(
    "tbl_scan_nation",
    FMT.q_tbl_scan_nation,
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)

register(
    "orc_roundtrip_customer",
    FMT.q_orc_roundtrip_customer,
    """
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)

# --- co-located bucketed join (SURVEY §4 custom-partitioner equivalent) ------

from ..operators import colocated as CO  # noqa: E402

register(
    "bucketed_customer_orders",
    lambda spark, sf: CO.bucketed_customer_orders(spark, sf),
    f"""
    SELECT c_custkey, c_name,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_price DESC, c_custkey
    LIMIT {CO.TOP_CUSTOMERS}
    """,
)

# --- relational vocabulary beyond the reference (SURVEY §2.3/2.4/2.5 notes) --

from ..operators import relational_ext as RX  # noqa: E402

register(
    "customers_without_orders",
    RX.customers_without_orders,
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)

register(
    "events_rollup_counts",
    RX.events_rollup_counts,
    """
    SELECT event_type, strftime(ts, '%Y-%m') AS month,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP (event_type, month)
    """,
)

register(
    "events_cube_counts",
    RX.events_cube_counts,
    """
    SELECT event_type, strftime(ts, '%Y-%m') AS month,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY CUBE (event_type, month)
    """,
)

register(
    "events_value_percentiles",
    RX.events_value_percentiles,
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)

register(
    "events_distinct_users",
    RX.events_distinct_users,
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)

register(
    "user_event_gaps",
    RX.user_event_gaps,
    """
    SELECT event_id, user_id,
           date_diff('second',
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     ts) AS gap_sec
    FROM events
    """,
)

register(
    "user_type_pivot",
    RX.user_type_pivot,
    f"""
    SELECT user_id,
           {", ".join(
               f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
               for t in RX.PIVOT_TYPES
           )}
    FROM events GROUP BY user_id
    """,
)

register(
    "order_quartiles",
    RX.order_quartiles,
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
                AS INT) AS quartile
    FROM orders
    """,
)

register(
    "user_rolling_value",
    RX.user_rolling_value,
    f"""
    SELECT event_id, user_id,
           round(sum(value) OVER w, 2) AS rolling_sum_1h,
           count(*) OVER w AS rolling_cnt_1h
    FROM (SELECT event_id, user_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN {RX.ROLLING_WINDOW_SEC} PRECEDING
                           AND CURRENT ROW)
    """,
)

register(
    "events_sketch_check",
    RX.events_sketch_check,
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users,
           TRUE AS hll_ok, TRUE AS p50_ok
    FROM events GROUP BY event_type
    """,
)

# --- deterministic sampling / dataset splits (training-pipeline ops) ---------

from ..operators import sampling as SA  # noqa: E402


def _duck_split(key_sql: str, salt: str) -> str:
    """Twin of sampling.split_col: h8(key || salt) % 100 into
    train/val/test."""
    h = DUCK_H8.format(x=f"CAST({key_sql} AS VARCHAR) || '{salt}'")
    return f"""CASE WHEN {h} % 100 < {SA.TRAIN_PCT} THEN 'train'
                WHEN {h} % 100 < {SA.TRAIN_PCT + SA.VAL_PCT} THEN 'val'
                ELSE 'test' END"""

register(
    "events_hash_sample",
    lambda spark, sf: SA.events_hash_sample(spark, sf),
    f"""
    SELECT event_id, user_id, event_type
    FROM events
    WHERE {DUCK_H8.format(x='CAST(event_id AS VARCHAR)')} % 100 < {SA.SAMPLE_PCT}
    """,
)

register(
    "dataset_split",
    SA.dataset_split,
    f"""
    SELECT doc_id,
           CASE WHEN b < {SA.TRAIN_PCT} THEN 'train'
                WHEN b < {SA.TRAIN_PCT + SA.VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 {DUCK_H8.format(x=f"(CAST(doc_id AS VARCHAR) || '{SA.SPLIT_SALT}')")}
                     % 100 AS b
          FROM documents)
    """,
)

register(
    "quality_stratified_sample",
    lambda spark, sf: SA.quality_stratified_sample(spark, sf),
    f"""
    WITH tq AS ({_TEXT_QUALITY_SQL}),
    strat AS (
        SELECT doc_id,
               ntile(4) OVER (ORDER BY quality_score DESC, doc_id) AS quartile
        FROM tq)
    SELECT doc_id, quartile
    FROM strat
    WHERE {DUCK_H8.format(x=f"(CAST(doc_id AS VARCHAR) || '{SA.STRATA_SALT}')")}
              % 100
          < CASE quartile WHEN 1 THEN {SA.STRATA_RATES[0]}
                          WHEN 2 THEN {SA.STRATA_RATES[1]}
                          WHEN 3 THEN {SA.STRATA_RATES[2]}
                          ELSE {SA.STRATA_RATES[3]} END
    """,
)

_MIX_RATES_SQL = f"""
    WITH tq AS ({_TEXT_QUALITY_SQL}),
    tl AS (
        SELECT d.lang, CAST(sum(tq.n_tokens) AS BIGINT) AS total_tokens
        FROM tq JOIN documents d USING (doc_id)
        GROUP BY d.lang),
    m AS (SELECT min(total_tokens) AS mn FROM tl WHERE total_tokens > 0)
    SELECT lang, total_tokens,
           CAST(CASE WHEN total_tokens = 0 THEN 0
                ELSE (SELECT mn FROM m) * 1000000 // total_tokens
           END AS BIGINT) AS keep_ppm
    FROM tl
"""

register(
    "lang_mixture_rates",
    lambda spark, sf: SA.lang_mixture_rates(spark, sf),
    _MIX_RATES_SQL,
)

_TEMP_RATES_SQL = f"""
    WITH tq AS ({_TEXT_QUALITY_SQL}),
    tl AS (
        SELECT d.lang, CAST(sum(tq.n_tokens) AS BIGINT) AS total_tokens
        FROM tq JOIN documents d USING (doc_id)
        GROUP BY d.lang),
    -- each pow term rounds half-up to a scaled int64 BEFORE the
    -- normalizing sum, so the sum is exact integer arithmetic and
    -- independent of accumulation order (a float sum() aggregates in
    -- scan order here but lang order on the Spark driver — last-ulp
    -- divergence could flip the 6dp rounding of p_temp)
    tw AS (SELECT lang, total_tokens,
                  CASE WHEN total_tokens > 0
                       THEN CAST(floor(pow(total_tokens, {SA.MIX_ALPHA})
                                       * 1000000 + 0.5) AS BIGINT)
                       ELSE 0 END AS wi
           FROM tl),
    g AS (SELECT CAST(sum(total_tokens) AS BIGINT) AS grand,
                 CAST(sum(wi) AS BIGINT) AS s
          FROM tw),
    r AS (SELECT lang, total_tokens,
                 CASE WHEN total_tokens = 0 THEN 0.0
                      ELSE {duck_floor_round("total_tokens / CAST(g.grand AS DOUBLE)")}
                 END AS p_raw,
                 CASE WHEN total_tokens = 0 THEN 0.0
                      ELSE {duck_floor_round("wi / CAST(g.s AS DOUBLE)")}
                 END AS p_temp
          FROM tw, g),
    w AS (SELECT *, CASE WHEN p_raw = 0 THEN 0.0 ELSE p_temp / p_raw END AS wgt
          FROM r),
    mx AS (SELECT max(wgt) AS mw FROM w)
    SELECT lang, total_tokens, p_raw, p_temp,
           CAST(CASE WHEN mx.mw = 0 THEN 0
                ELSE floor(1000000 * wgt / mx.mw + 0.5) END AS BIGINT)
               AS keep_ppm
    FROM w, mx
"""

register(
    # temperature mixing: keep_ppm derives from the 6dp-ROUNDED shares on
    # both engines, so only p_raw/p_temp carry libm pow/sum arithmetic
    "lang_temperature_rates",
    lambda spark, sf: SA.lang_temperature_rates(spark, sf),
    _TEMP_RATES_SQL,
)

register(
    "lang_temperature_sample",
    lambda spark, sf: SA.lang_temperature_sample(spark, sf),
    f"""
    WITH r AS ({_TEMP_RATES_SQL})
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE {DUCK_H8.format(x=f"(CAST(doc_id AS VARCHAR) || '{SA.TEMP_MIX_SALT}')")}
              % 1000000
          < r.keep_ppm
    """,
)

register(
    "lang_mixture_sample",
    lambda spark, sf: SA.lang_mixture_sample(spark, sf),
    f"""
    WITH r AS ({_MIX_RATES_SQL})
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE {DUCK_H8.format(x=f"(CAST(doc_id AS VARCHAR) || '{SA.MIX_SALT}')")}
              % 1000000
          < r.keep_ppm
    """,
)

register(
    "source_capped_sample",
    lambda spark, sf: SA.source_capped_sample(spark, sf),
    f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {DUCK_H8.format(x=f"(CAST(doc_id AS VARCHAR) || '{SA.CAP_SALT}')")},
                            doc_id) AS rn
        FROM documents)
    SELECT doc_id, source FROM ranked WHERE rn <= {SA.CAP_PER_SOURCE}
    """,
)

# --- temporal joins (as-of + binned interval join; no reference counterpart) -

from ..operators import temporal as TJ  # noqa: E402

register(
    "events_asof_last_click",
    lambda spark, sf: TJ.asof_last_event(spark, sf),
    f"""
    SELECT a.event_id, a.user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           count(b.event_id) AS prior_click_cnt,
           strftime(max(b.ts), '%Y-%m-%d %H:%M:%S') AS last_click_ts
    FROM events a
    LEFT JOIN events b
      ON b.user_id = a.user_id
     AND b.event_type = '{TJ.ASOF_RIGHT_TYPE}'
     AND b.ts < a.ts
    WHERE a.event_type = '{TJ.ASOF_LEFT_TYPE}'
    GROUP BY a.event_id, a.user_id, a.ts
    """,
)

register(
    "error_click_window_counts",
    TJ.error_click_window_counts,
    f"""
    SELECT e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
           count(c.event_id) AS click_cnt
    FROM events e
    LEFT JOIN events c
      ON c.event_type = 'click'
     AND c.ts >= e.ts
     AND c.ts < e.ts + INTERVAL {TJ.ERR_WINDOW_SEC} SECOND
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.ts
    """,
)

# --- whole-table utilities: profiling + snapshot diff ------------------------

from ..operators import table_ops as TO  # noqa: E402

_PROFILE_UNION = "\n    UNION ALL\n".join(
    f"""    SELECT '{c}' AS "column", count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           min({c})::VARCHAR AS min_value, max({c})::VARCHAR AS max_value
    FROM {TO.PROFILE_TABLE}"""
    for c in TO.PROFILE_COLS
)

register(
    "profile_lineitem",
    TO.q_profile_lineitem,
    _PROFILE_UNION,
)

register(
    "events_snapshot_diff",
    TO.q_events_snapshot_diff,
    """
    WITH old AS (
        SELECT event_id, user_id, event_type, value FROM events
        WHERE event_id % 10 <> 0),
    new AS (
        SELECT event_id, user_id, event_type,
               CASE WHEN event_id % 3 = 0 THEN value + 1 ELSE value END AS value
        FROM events WHERE event_id % 7 <> 0)
    SELECT coalesce(old.event_id, new.event_id) AS event_id,
           CASE WHEN old.event_id IS NULL THEN 'added'
                WHEN new.event_id IS NULL THEN 'removed'
                WHEN old.user_id IS DISTINCT FROM new.user_id
                     OR old.event_type IS DISTINCT FROM new.event_type
                     OR old.value IS DISTINCT FROM new.value THEN 'changed'
           END AS change_type
    FROM old FULL OUTER JOIN new USING (event_id)
    WHERE CASE WHEN old.event_id IS NULL THEN 'added'
               WHEN new.event_id IS NULL THEN 'removed'
               WHEN old.user_id IS DISTINCT FROM new.user_id
                    OR old.event_type IS DISTINCT FROM new.event_type
                    OR old.value IS DISTINCT FROM new.value THEN 'changed'
          END IS NOT NULL
    """,
)

# the oracle computes the NEW snapshot directly — hash-matching it proves
# replaying the change feed onto the old snapshot reproduces it exactly
register(
    "events_apply_changes",
    TO.q_events_apply_changes,
    """
    SELECT event_id, user_id, event_type,
           round(CASE WHEN event_id % 3 = 0 THEN value + 1 ELSE value END, 2)
               AS value
    FROM events WHERE event_id % 7 <> 0
    """,
)

# --- end-to-end training-data cleaning pipeline ------------------------------

register(
    "clean_corpus",
    TS.clean_corpus,
    f"""
    WITH t AS (SELECT doc_id, text, {DUCK_TOKS} AS toks FROM documents),
    canon AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
            FROM documents)
        WHERE keep),
    scored AS (
        SELECT doc_id,
           {_SCORES_SQL}
        FROM t),
    lang AS (
        SELECT doc_id, {duck_floor_round("best")} AS lang_score
        FROM (SELECT *, {_BEST_SQL} AS best FROM scored)
        WHERE {_PRED_SQL} = '{TS.CLEAN_LANG}'),
    m AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(toks) AS n_tokens,
               length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS ls,
               len(list_filter(toks, t -> list_contains({_EN_SQL}, t))) AS stop_hits
        FROM t),
    qual AS (
        SELECT doc_id, n_tokens,
               {_QUALITY_SCORE_SQL} AS quality_score
        FROM m
        WHERE {_QUALITY_SCORE_SQL} >= {TS.CLEAN_MIN_QUALITY}
          AND n_tokens BETWEEN {TS.CLEAN_MIN_TOKENS} AND {TS.CLEAN_MAX_TOKENS}
    )
    SELECT canon.doc_id, qual.n_tokens, qual.quality_score, lang.lang_score
    FROM canon JOIN lang USING (doc_id) JOIN qual USING (doc_id)
    """,
)

# --- LLM-pipeline additions: decontamination + perplexity quality signal ----

register(
    "contamination_flags",
    D.q_contamination_flags,
    f"""
    WITH {DUCK_SHINGLES},
    corpus AS (SELECT doc_id, unnest(sh) AS s FROM sh
               WHERE doc_id >= {D.CONTAM_EVAL_MAX_ID}),
    ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh
           WHERE doc_id < {D.CONTAM_EVAL_MAX_ID}),
    hits AS (
        SELECT doc_id, count(*) AS n_hits
        FROM corpus JOIN ev USING (s) GROUP BY doc_id)
    SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits,
           coalesce(n_hits, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents
          WHERE doc_id >= {D.CONTAM_EVAL_MAX_ID}) d
    LEFT JOIN hits USING (doc_id)
    """,
)

# CCNet-style cross-document boilerplate: corpus-frequent n-grams and the
# per-doc fraction of them (the "page is mostly template text" signal).
register(
    "boilerplate_ngrams",
    D.q_boilerplate_ngrams,
    f"""
    WITH {DUCK_SHINGLES},
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh)
    SELECT s, count(*) AS n_docs
    FROM ex GROUP BY s
    HAVING count(*) >= {D.BOILERPLATE_MIN_DOCS}
    """,
)

register(
    "boilerplate_fraction",
    D.q_boilerplate_fraction,
    f"""
    WITH {DUCK_SHINGLES},
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    b AS (SELECT s FROM ex GROUP BY s
          HAVING count(*) >= {D.BOILERPLATE_MIN_DOCS}),
    per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM ex GROUP BY doc_id),
    hits AS (SELECT doc_id, count(*) AS n_boiler
             FROM ex JOIN b USING (s) GROUP BY doc_id)
    SELECT p.doc_id, p.n_shingles,
           coalesce(h.n_boiler, 0) AS n_boiler,
           {duck_floor_round("CAST(coalesce(h.n_boiler, 0) AS DOUBLE) / p.n_shingles")}
               AS boiler_frac
    FROM per_doc p LEFT JOIN hits h USING (doc_id)
    """,
)

# named CTE block so downstream oracles (ccnet perplexity buckets) can
# compose the same LM; `lm_scored` is the per-doc (n_bigrams, avg_nll)
DUCK_BIGRAM_LM_CTES = f"""
    toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    bg AS (
        SELECT doc_id, unnest(toks[1:len(toks)-1]) AS lt,
               unnest(toks[2:len(toks)]) AS rt
        FROM toks WHERE len(toks) > 1),
    counts AS (SELECT lt, rt, count(*) AS cnt FROM bg GROUP BY lt, rt),
    marg AS (SELECT lt, sum(cnt) AS lcnt FROM counts GROUP BY lt),
    v AS (SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(toks) AS t FROM toks)),
    scored AS (
        SELECT b.doc_id,
               (coalesce(c.cnt, 0) + {T.LM_K})
                   / (coalesce(m.lcnt, 0) + {T.LM_K} * (SELECT v FROM v)) AS p
        FROM bg b
        LEFT JOIN counts c ON b.lt = c.lt AND b.rt = c.rt
        LEFT JOIN marg m ON b.lt = m.lt),
    lm_scored AS (
        SELECT doc_id, count(*) AS n_bigrams,
               round(avg(-log10(p)), 6) AS avg_nll
        FROM scored GROUP BY doc_id)
"""

register(
    "bigram_lm_perplexity",
    lambda spark, sf: T.bigram_lm_perplexity(spark, sf),
    f"""
    WITH {DUCK_BIGRAM_LM_CTES}
    SELECT doc_id, n_bigrams, avg_nll FROM lm_scored
    """,
)

# --- streaming queries in the driver contract -------------------------------
# The streams run to completion (availableNow) inside the callable and the
# memory-sink result is hash-checked like any batch query; a stream with a
# batch twin checks against the batch twin's oracle.

from ..streaming import events_stream as STR  # noqa: E402

register(
    "stream_tumbling_counts",
    STR.q_stream_tumbling_counts,
    _registered_oracle("events_tumbling_counts"),
)

register(
    "stream_sliding_counts",
    STR.q_stream_sliding_counts,
    _registered_oracle("events_sliding_counts"),
)

register(
    "stream_session_windows",
    STR.q_stream_session_windows,
    f"""
    WITH m AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w)
                         >= {E.SESSION_GAP_SEC}
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM m
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)

register(
    "stream_running_counts",
    STR.q_stream_running_counts,
    """
    SELECT user_id, count(*) AS n_events,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen_sec
    FROM events GROUP BY user_id
    """,
)

register(
    "stream_dedup",
    STR.q_stream_dedup,
    """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           user_id, event_type, value
    FROM events
    """,
)

register(
    "stream_enriched",
    STR.q_stream_enriched,
    """
    SELECT event_id, user_id, event_type, value,
           CASE WHEN user_id < 10000
                THEN 's' || CAST(user_id % 4 AS VARCHAR) END AS segment
    FROM events
    """,
)

register(
    "stream_partitioned_sink",
    STR.q_stream_partitioned_sink,
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)

register(
    "stream_error_click_join",
    STR.q_stream_error_click_join,
    f"""
    SELECT e.event_id AS error_id, c.event_id AS click_id
    FROM events e
    JOIN events c
      ON e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts >= e.ts
     AND c.ts < e.ts + INTERVAL {TJ.ERR_WINDOW_SEC} SECOND
    """,
)

register(
    "partitioned_day_scan",
    TO.q_partitioned_day_scan,
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') = '{TO.PARTITION_PROBE_DAY}'
    GROUP BY 1, 2
    """,
)

# --- warehouse analytics / sketches / chunking -------------------------------

from ..operators import analytics as AN  # noqa: E402
from ..operators import sketch as SK  # noqa: E402

register(
    "user_retention_cohorts",
    AN.user_retention_cohorts,
    """
    WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    f AS (SELECT user_id, min(d) AS cohort_d FROM ev GROUP BY user_id)
    SELECT strftime(f.cohort_d, '%Y-%m-%d') AS cohort_date,
           CAST(date_diff('day', f.cohort_d, ev.d) AS INT) AS day_offset,
           count(*) AS n_users
    FROM ev JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)

register(
    "customer_rfm",
    AN.customer_rfm,
    f"""
    WITH base AS (
      SELECT o_custkey AS custkey,
             max(CAST(o_orderdate AS DATE)) AS last_order,
             count(*) AS frequency,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    g AS (SELECT max(CAST(o_orderdate AS DATE)) AS gmax FROM orders),
    r AS (
      SELECT custkey,
             CAST(date_diff('day', last_order, g.gmax) AS INT) AS recency_days,
             frequency, monetary
      FROM base, g
    ),
    s AS (
      SELECT *,
             ntile({AN.RFM_TILES}) OVER (ORDER BY recency_days ASC, custkey ASC)
                 AS r_score,
             ntile({AN.RFM_TILES}) OVER (ORDER BY frequency DESC, custkey ASC)
                 AS f_score,
             ntile({AN.RFM_TILES}) OVER (ORDER BY monetary DESC, custkey ASC)
                 AS m_score
      FROM r
    )
    SELECT custkey, recency_days, frequency, monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
               || CAST(m_score AS VARCHAR) AS segment
    FROM s
    """,
)

register(
    "weekly_active_users",
    AN.weekly_active_users,
    f"""
    WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    b AS (SELECT min(d) AS dmin, max(d) AS dmax FROM ev),
    fanned AS (
      SELECT DISTINCT user_id, d + to_days(CAST(o AS INT)) AS day
      FROM ev, range(0, {AN.WAU_WINDOW_DAYS}) t(o)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, count(*) AS wau
    FROM fanned, b
    WHERE day >= b.dmin + to_days({AN.WAU_WINDOW_DAYS - 1}) AND day <= b.dmax
    GROUP BY 1
    """,
)

register(
    "user_value_anomalies",
    AN.user_value_anomalies,
    f"""
    WITH stats AS (
      SELECT user_id, count(*) AS n, avg(value) AS mu,
             stddev_pop(value) AS sigma
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.value,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s USING (user_id)
    WHERE s.n >= 2 AND s.sigma > 0
      AND abs((e.value - s.mu) / s.sigma) > {AN.ZSCORE_THRESHOLD}
    """,
)

_HIST_W = (AN.HIST_HI - AN.HIST_LO) / AN.HIST_BUCKETS
register(
    "events_value_histogram",
    AN.events_value_histogram,
    f"""
    SELECT bucket,
           CAST(bucket * {_HIST_W} + {AN.HIST_LO} AS DOUBLE) AS lo,
           CAST((bucket + 1) * {_HIST_W} + {AN.HIST_LO} AS DOUBLE) AS hi,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM (
      SELECT CAST(least({AN.HIST_BUCKETS - 1},
                 greatest(0, floor((value - {AN.HIST_LO}) / {_HIST_W})))
                 AS INT) AS bucket
           , value
      FROM events
    )
    GROUP BY bucket
    """,
)

register(
    "doc_chunks",
    lambda spark, sf: TS.doc_chunks(spark, sf),
    f"""
    WITH toks AS (
      SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
    ),
    t AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
    st AS (
      SELECT doc_id, toks,
             CAST(generate_subscripts(range(0, len(toks), {TS.CHUNK_STRIDE}), 1)
                  - 1 AS INT) AS chunk_id,
             unnest(range(0, len(toks), {TS.CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id, chunk_id,
           len(toks[start + 1 : start + {TS.CHUNK_SIZE}]) AS n_chunk_tokens,
           array_to_string(toks[start + 1 : start + {TS.CHUNK_SIZE}], ' ')
               AS chunk_text
    FROM st
    """,
)

register(
    "token_zipf_stats",
    TS.token_zipf_stats,
    f"""
    WITH wc AS (
      SELECT token, count(*) AS cnt
      FROM (SELECT unnest({DUCK_TOKS}) AS token FROM documents)
      GROUP BY token
    ),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
      FROM wc
    )
    SELECT count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rank)), 6) AS zipf_r2
    FROM ranked
    """,
)

_EDIT_SIM_SQL = duck_floor_round(
    "1.0 - levenshtein(da.text, db.text) / greatest(len(da.text), len(db.text), 1)"
)

register(
    "editdist_near_duplicates",
    D.q_edit_distance_near_duplicates,
    f"""
    WITH {DUCK_MINHASH_PAIR_CTES}
    SELECT doc_a, doc_b,
           levenshtein(da.text, db.text) AS edit_dist,
           {_EDIT_SIM_SQL} AS edit_sim
    FROM cand
    JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    WHERE {_EDIT_SIM_SQL} >= {D.EDIT_SIM_MIN}
    """,
)

_BLOOM_POS = (
    "CAST("
    + DUCK_H8.format(x="('b' || CAST(i AS VARCHAR) || ':' || CAST({key} AS VARCHAR))")
    + f" % {SK.BLOOM_BITS} AS INT)"
)
register(
    "bloom_prefilter_check",
    SK.bloom_prefilter_check,
    f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey AS key FROM customer
      WHERE c_acctbal > {SK.BLOOM_ACCTBAL_MIN} AND c_custkey IS NOT NULL
    ),
    bits AS (
      SELECT DISTINCT {_BLOOM_POS.format(key="key")} AS pos
      FROM keys, range(0, {SK.BLOOM_HASHES}) t(i)
    ),
    probe AS (
      SELECT o_orderkey, o_custkey AS key,
             {_BLOOM_POS.format(key="o_custkey")} AS pos
      FROM orders, range(0, {SK.BLOOM_HASHES}) t(i)
      WHERE o_custkey IS NOT NULL
    ),
    passed AS (
      SELECT o_orderkey FROM probe JOIN bits USING (pos)
      GROUP BY o_orderkey, key
      HAVING count(*) = {SK.BLOOM_HASHES}
    ),
    true_hits AS (
      SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT key FROM keys)
    )
    SELECT (SELECT count(*) FROM keys) AS n_keys,
           (SELECT count(*) FROM bits) AS n_bits_set,
           (SELECT count(*) FROM passed) AS n_pass_bloom,
           (SELECT count(*) FROM true_hits) AS n_true,
           (SELECT count(*) FROM passed) - (SELECT count(*) FROM true_hits)
               AS n_false_pos
    """,
)

_CMS_BUCKET = (
    "CAST(" + DUCK_H8.format(x="(CAST(d AS VARCHAR) || ':' || token)")
    + f" % {SK.CMS_WIDTH} AS INT)"
)
register(
    "cms_heavy_hitters",
    SK.cms_heavy_hitters,
    f"""
    WITH toks AS (
      SELECT unnest({DUCK_TOKS}) AS token FROM documents
    ),
    tot AS (SELECT count(*) AS n FROM toks),
    cells AS (
      SELECT d, {_CMS_BUCKET} AS bucket, count(*) AS cell_n
      FROM toks, range(0, {SK.CMS_DEPTH}) t(d)
      GROUP BY 1, 2
    ),
    exact AS (SELECT token, count(*) AS exact_n FROM toks GROUP BY token),
    probes AS (
      SELECT token, exact_n, d, {_CMS_BUCKET} AS bucket
      FROM exact, range(0, {SK.CMS_DEPTH}) t(d)
    ),
    est AS (
      SELECT p.token, p.exact_n, min(c.cell_n) AS cms_est
      FROM probes p JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
      GROUP BY p.token, p.exact_n
    )
    SELECT token, exact_n, cms_est, cms_est - exact_n AS overcount
    FROM est, tot
    WHERE cms_est * 1000000 >= {SK.CMS_HH_PPM} * tot.n
    """,
)

register(
    "corpus_report",
    AN.corpus_report,
    f"""
    WITH t AS (
      SELECT lang, text, length(text) AS n_chars,
             len({DUCK_TOKS}) AS n_tokens
      FROM documents
    )
    SELECT count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT md5(text)) AS n_unique_texts,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           {duck_floor_round("avg(n_chars)", 4)} AS avg_chars,
           {duck_floor_round("avg(n_tokens)", 4)} AS avg_tokens,
           {duck_floor_round("avg(CASE WHEN n_tokens < 10 THEN 1.0 ELSE 0.0 END)")}
               AS short_doc_frac
    FROM t
    """,
)

register(
    "heavy_key_report",
    AN.heavy_key_report,
    f"""
    WITH c AS (
      SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    ),
    tot AS (SELECT count(*) AS n FROM events)
    SELECT CAST(row_number() OVER (ORDER BY n_events DESC, user_id ASC)
                AS INT) AS rank,
           user_id, n_events,
           n_events * 1000000 // tot.n AS share_ppm
    FROM c, tot
    ORDER BY n_events DESC, user_id ASC
    LIMIT {AN.HEAVY_KEY_TOP}
    """,
)

# --- BPE tokenizer training (iterative-trainer family) -----------------------

from ..operators import bpe as BP  # noqa: E402

# Unrolled DuckDB twin of the BPE loop: per merge k, a pair-count CTE, a
# 1-row argmax CTE (same n DESC, a, b tie-break as the Spark collect),
# and a recursive position-fold applying the merge left-to-right
# non-overlapping — the same unroll pattern as the k-means/PPR oracles,
# with WITH RECURSIVE expressing the per-word fold the Spark side does
# via `aggregate`. Pure integer counts + lexicographic tie-breaks: no fp
# anywhere, so the replay is exact.


def _bpe_with(n_merges: int) -> str:
    parts = [f"""
    WITH RECURSIVE
    bpe_w0 AS MATERIALIZED (
      SELECT word, count(*) AS cnt, string_split(word, '') AS syms
      FROM (SELECT unnest({DUCK_TOKS}) AS word FROM documents) GROUP BY word
    )"""]
    for k in range(n_merges):
        parts.append(f""",
    bpe_pairs_{k} AS MATERIALIZED (
      SELECT s.syms[i] AS a, s.syms[i + 1] AS b, sum(s.cnt) AS n
      FROM bpe_w{k} s, unnest(range(1, len(s.syms))) t(i)
      GROUP BY 1, 2
    ),
    bpe_top_{k} AS MATERIALIZED (
      SELECT a, b, n FROM bpe_pairs_{k} ORDER BY n DESC, a, b LIMIT 1
    ),
    bpe_m_{k} AS (
      SELECT word, cnt, syms, 0 AS pos, CAST([] AS VARCHAR[]) AS out
      FROM bpe_w{k}
      UNION ALL
      SELECT word, cnt, syms, pos + 1,
        CASE WHEN len(out) > 0 AND out[-1] = (SELECT a FROM bpe_top_{k})
                  AND syms[pos + 1] = (SELECT b FROM bpe_top_{k})
        THEN list_append(out[1:len(out) - 1],
                         (SELECT a FROM bpe_top_{k})
                         || (SELECT b FROM bpe_top_{k}))
        ELSE list_append(out, syms[pos + 1]) END
      FROM bpe_m_{k} WHERE pos < len(syms)
    ),
    bpe_w{k + 1} AS MATERIALIZED (
      SELECT word, cnt, out AS syms FROM bpe_m_{k} WHERE pos = len(syms)
    )""")
    return "".join(parts)


register(
    "bpe_merges",
    BP.bpe_merges,
    _bpe_with(BP.N_MERGES)
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, CAST(n AS BIGINT) AS pair_count FROM bpe_top_{k}"
        for k in range(BP.N_MERGES)
    ),
)

register(
    "bpe_token_counts",
    BP.bpe_token_counts,
    _bpe_with(BP.N_MERGES)
    + f"""
    SELECT t.tok AS token, CAST(sum(s.cnt) AS BIGINT) AS n
    FROM bpe_w{BP.N_MERGES} s, unnest(s.syms) AS t(tok)
    GROUP BY 1
    """,
)

# label-aware neighbor analytics: same rounded-cosine-then-rank rule on
# both engines (vec_id tie-break), so window order is hash-stable. The
# anchor panel is the FIXED-SIZE salted-hash top-N (bounded broadcast at
# any corpus scale — see similarity._anchor_neighbor_scores).
_KNN_SCORED = f"""
    e AS ({DUCK_EMB.replace("v FROM", "v, label FROM")}),
    anchors AS (
      SELECT vec_id AS anchor_id, v AS avec, label AS a_label FROM e
      ORDER BY {DUCK_H8.format(
          x=f"CAST(vec_id AS VARCHAR) || '{S.KNN_ANCHOR_SALT}'"
      )}, vec_id
      LIMIT {S.KNN_N_ANCHORS}
    ),
    scored AS (
      SELECT a.anchor_id, a.a_label, e.vec_id, e.label,
             round(list_cosine_similarity(e.v, a.avec), 6) AS cosine
      FROM e, anchors a WHERE e.vec_id <> a.anchor_id
    )"""

register(
    "knn_label_accuracy",
    S.knn_label_accuracy,
    f"""
    WITH {_KNN_SCORED},
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= {S.KNN_K}
    ),
    votes AS (
      SELECT anchor_id, a_label, label, count(*) AS v
      FROM topk GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                   ORDER BY v DESC, label ASC) AS vr
        FROM votes
      ) WHERE vr = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_anchors,
           {S.KNN_K} AS k,
           CAST(sum(CASE WHEN label = a_label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           {duck_floor_round(
               "sum(CASE WHEN label = a_label THEN 1 ELSE 0 END)"
               " / CAST(count(*) AS DOUBLE)"
           )} AS accuracy
    FROM pred
    """,
)

register(
    "hard_negative_pairs",
    S.hard_negative_pairs,
    f"""
    WITH {_KNN_SCORED}
    SELECT anchor_id, vec_id AS negative_id, label AS negative_label,
           cosine, CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                 ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored WHERE label <> a_label
    ) WHERE rank <= {S.HARD_NEG_N}
    """,
)

# --- warehouse feature-store family (SCD2 / decay / attribution) -------------
# The dimension-history, freshness-weighting and attribution operators a
# telemetry warehouse feeds a training pipeline with. All pure
# window/join SQL on both engines.

# Registered as the O(users) summary (interval count + order-insensitive
# h8 fingerprint of every rendered interval): the full history is
# O(attribute changes), the one output-bound outlier at scale, so the
# driver-side collect is bounded here while the full-history builder (AN.user_scd2_history) stays pytest-covered.
register(
    "user_scd2_history",
    AN.user_scd2_summary,
    f"""
    WITH ev AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS INT) AS attr
      FROM events
    ),
    ch AS (
      SELECT user_id, attr, ts, event_id FROM (
        SELECT user_id, attr, ts, event_id,
               lag(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev
        FROM ev
      ) WHERE prev IS NULL OR prev <> attr
    ),
    iv AS (
      SELECT user_id, attr, ts, event_id,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS end_ts
      FROM ch
    ),
    hist AS (
      SELECT user_id, attr,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
             coalesce(strftime(end_ts, '%Y-%m-%d %H:%M:%S.%f'),
                      '{AN.SCD2_OPEN_END}') AS valid_to,
             CAST(end_ts IS NULL AS INT) AS is_current
      FROM iv
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(sum(is_current) AS BIGINT) AS n_current,
           min(valid_from) AS first_from,
           max(valid_to) AS last_to,
           CAST(sum({DUCK_H8.format(
               x="(coalesce(CAST(attr AS VARCHAR), 'null') || '|' "
                 "|| valid_from || '|' "
                 "|| valid_to || '|' || CAST(is_current AS VARCHAR))"
           )}) AS BIGINT) AS interval_hash
    FROM hist GROUP BY user_id
    """,
)

register(
    "user_decayed_value",
    AN.user_decayed_value,
    f"""
    WITH g AS (SELECT max(ts) AS gmax FROM events),
    p AS (SELECT user_id, value, ts FROM events
          WHERE event_type = 'purchase')
    SELECT user_id, count(*) AS n_purchases,
           round(sum(value), 2) AS raw_value,
           round(sum(value * pow(0.5,
               ((epoch_us(g.gmax) - epoch_us(p.ts)) / 86400000000.0)
               / {AN.DECAY_HALF_LIFE_DAYS})), 4) AS decayed_value
    FROM p, g GROUP BY user_id
    """,
)

register(
    "conversion_attribution",
    AN.conversion_attribution,
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id AS touch_id, user_id, ts AS t_ts,
             event_type AS touch_type
      FROM events WHERE event_type IN {AN.ATTRIB_TOUCH_TYPES}
    ),
    j AS (
      SELECT p.purchase_id, t.touch_id, t.touch_type, p.value
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.t_ts < p.p_ts
        AND t.t_ts >= p.p_ts - INTERVAL {AN.ATTRIB_WINDOW_MIN} MINUTE
    )
    SELECT purchase_id, touch_id, touch_type,
           count(*) OVER (PARTITION BY purchase_id) AS n_touches,
           round(value / count(*) OVER (PARTITION BY purchase_id), 4)
               AS credit
    FROM j
    """,
)

register(
    "dedup_keep_best",
    D.dedup_keep_best,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_NEAR_DUP_CTES},
    q AS (SELECT doc_id, CAST(len(text) AS INT) AS n_chars FROM documents),
    r AS (
        SELECT cl.cluster_id, cl.doc_id, q.n_chars,
               row_number() OVER (PARTITION BY cl.cluster_id
                   ORDER BY q.n_chars DESC, cl.doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY cl.cluster_id) AS cluster_size
        FROM cl JOIN q USING (doc_id)
    )
    SELECT cluster_id, doc_id, n_chars, cluster_size FROM r WHERE rn = 1
    """,
)

register(
    "source_quality_percentiles",
    AN.source_quality_percentiles,
    f"""
    SELECT doc_id, source, CAST(len(text) AS INT) AS n_chars,
           {duck_floor_round(
               "percent_rank() OVER (PARTITION BY source ORDER BY len(text), doc_id)"
           )} AS pct_rank
    FROM documents
    """,
)

register(
    "user_churn_flags",
    AN.user_churn_flags,
    f"""
    WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    g AS (SELECT max(d) AS gmax FROM ev),
    u AS (SELECT user_id, max(d) AS last_d FROM ev GROUP BY user_id)
    SELECT user_id, strftime(last_d, '%Y-%m-%d') AS last_seen,
           CAST(date_diff('day', last_d, g.gmax) AS INT) AS days_inactive,
           CAST(date_diff('day', last_d, g.gmax) > {AN.CHURN_DAYS} AS INT)
               AS churned
    FROM u, g
    """,
)

register(
    "leakage_safe_split",
    SA.leakage_safe_split,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_NEAR_DUP_CTES}
    SELECT doc_id, cluster_id,
           {_duck_split("cluster_id", SA.CLUSTER_SPLIT_SALT)} AS split
    FROM cl
    """,
)

register(
    "jsonl_roundtrip_events",
    FMT.q_jsonl_roundtrip_events,
    """
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
    FROM events GROUP BY event_type
    """,
)

register(
    "events_value_median_by_type",
    RX.events_value_median_by_type,
    f"""
    SELECT event_type, count(*) AS n,
           round(quantile_cont(value, {RX.MEDIAN_PCTS[0]}), 4) AS median_value,
           round(quantile_cont(value, {RX.MEDIAN_PCTS[1]}), 4) AS p90_value
    FROM events GROUP BY event_type
    """,
)

register(
    "stream_upsert_user_state",
    STR.q_stream_upsert_user_state,
    """
    WITH ranked AS (
      SELECT user_id, value, ts,
             row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
    )
    SELECT user_id, n_events, round(value, 2) AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
    FROM ranked WHERE rn = 1
    """,
)

register(
    "cross_source_overlap",
    AN.cross_source_overlap,
    """
    WITH pd AS (
      SELECT md5(text) AS digest, source, count(*) AS n
      FROM documents GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared
    FROM pd a JOIN pd b ON a.digest = b.digest
    WHERE a.source < b.source OR (a.source = b.source AND a.n >= 2)
    GROUP BY 1, 2
    """,
)

register(
    "event_type_transitions",
    AN.event_type_transitions,
    f"""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    trans AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, sum(n) AS tot FROM trans GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n, {duck_floor_round("t.n / tt.tot")} AS prob
    FROM trans t JOIN tot tt USING (from_type)
    """,
)

_WS_U = DUCK_H8.format(
    x=f"CAST(doc_id AS VARCHAR) || '{SA.WEIGHTED_SAMPLE_SALT}'"
)
register(
    "weighted_sample_topn",
    SA.weighted_sample_topn,
    f"""
    WITH d AS (
      SELECT doc_id, CAST(len(text) AS INT) AS n_chars,
             round(pow(({_WS_U} + 0.5) / 4294967296.0,
                       1.0 / len(text)), 6) AS key
      FROM documents
    ),
    top AS (SELECT * FROM d ORDER BY key DESC, doc_id ASC
            LIMIT {SA.WEIGHTED_SAMPLE_N})
    SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id ASC) AS INT)
               AS rank,
           doc_id, n_chars, key
    FROM top
    """,
)


def _lpa_sql(rounds: int) -> str:
    parts = ["""
    WITH n AS (SELECT count(*) AS c FROM documents),
    e0 AS (SELECT DISTINCT doc_id AS src,
                  (doc_id * k + 1) % (SELECT c FROM n) AS dst
           FROM documents, unnest(range(1, (doc_id % 5) + 1)) AS t(k)),
    edges AS (SELECT DISTINCT src, dst FROM
              (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
    l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    c{r} AS (SELECT e.dst AS id, l.lbl, count(*) AS c
             FROM edges e JOIN l{r - 1} l ON l.id = e.src GROUP BY 1, 2),
    p{r} AS (SELECT id, lbl FROM (
               SELECT id, lbl, row_number() OVER (PARTITION BY id
                   ORDER BY c DESC, lbl ASC) AS rn FROM c{r}) WHERE rn = 1),
    l{r} AS (SELECT l.id, coalesce(p.lbl, l.lbl) AS lbl
             FROM l{r - 1} l LEFT JOIN p{r} p USING (id))""")
    parts.append(f"""
    SELECT id, lbl AS community FROM l{rounds}""")
    return "".join(parts)


register(
    "label_propagation_communities",
    G.label_propagation,
    _lpa_sql(G.LPA_ROUNDS),
)

register(
    "schema_evolution_events",
    TO.q_schema_evolution_events,
    f"""
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '{TO.EVOLUTION_SPLIT_DAY}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_props
    FROM events GROUP BY event_type
    """,
)

register(
    "session_cooccurrence",
    E.session_cooccurrence,
    f"""
    WITH e AS (SELECT user_id, ts, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    g AS (SELECT *,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR sec - lag(sec) OVER w > {E.SESSION_GAP_SEC}
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT DISTINCT user_id, event_type,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id FROM g),
    tot AS (SELECT count(*) AS n_total FROM
            (SELECT DISTINCT user_id, session_id FROM s)),
    singles AS (SELECT event_type, count(*) AS sup FROM s GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_sessions
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_sessions,
           p.n_sessions * 1000000 // t.n_total AS support_ppm,
           {duck_floor_round(
               "(p.n_sessions * t.n_total) / (CAST(sa.sup AS DOUBLE) * sb.sup)",
               4,
           )} AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b, tot t
    """,
)

register(
    "funnel_latency",
    E.funnel_latency,
    """
    WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'signup' GROUP BY user_id),
    t2 AS (SELECT e.user_id, min(e.ts) AS t2, min(t1.t1) AS t1
           FROM events e JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND e.ts > t1.t1
           GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, min(e.ts) AS t3, min(t2.t1) AS t1,
                  min(t2.t2) AS t2
           FROM events e JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2
           GROUP BY e.user_id),
    d AS (SELECT (epoch_us(t2) - epoch_us(t1)) / 1000000.0 AS d12,
                 (epoch_us(t3) - epoch_us(t2)) / 1000000.0 AS d23
          FROM t3)
    SELECT count(*) AS n_converted,
           round(quantile_cont(d12, 0.5), 4) AS median_signup_to_click_sec,
           round(quantile_cont(d12, 0.9), 4) AS p90_signup_to_click_sec,
           round(quantile_cont(d23, 0.5), 4) AS median_click_to_purchase_sec,
           round(quantile_cont(d23, 0.9), 4) AS p90_click_to_purchase_sec
    FROM d
    """,
)

register(
    "daily_value_ewma",
    AN.daily_value_ewma,
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n_events,
             round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1
    )
    SELECT strftime(a.d, '%Y-%m-%d') AS day,
           a.n_events, a.sum_value,
           round(sum(pow({1.0 - AN.EWMA_ALPHA},
                         date_diff('day', b.d, a.d)) * b.sum_value)
                 / sum(pow({1.0 - AN.EWMA_ALPHA},
                           date_diff('day', b.d, a.d))), 4) AS ewma
    FROM daily a JOIN daily b ON b.d <= a.d
    GROUP BY a.d, a.n_events, a.sum_value
    """,
)

register(
    "events_exact_median_global",
    RX.events_exact_median_global,
    """
    SELECT count(*) AS n_rows,
           round(median(value), 4) AS median_value
    FROM events
    """,
)

register(
    "incremental_dedup_assign",
    D.incremental_dedup_assign,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_OLD_NEAR_DUP_CTES}
    SELECT n.doc_id,
           coalesce(c.cluster_id, n.doc_id) AS cluster_id,
           CAST(b.new_id IS NOT NULL AS INT) AS matched
    FROM (SELECT doc_id FROM documents WHERE doc_id {_NEW}) n
    LEFT JOIN best b ON b.new_id = n.doc_id
    LEFT JOIN oldcl c ON c.doc_id = b.old_id
    """,
)

register(
    "spam_calibration_bins",
    M.spam_calibration_bins,
    _sgd_with([("m", "TRUE", "d.docid")])
    + _SGD_APPLY_TAIL
    + f"""
    , calib AS (
      SELECT least({M.CALIB_BINS - 1},
                   CAST(floor((1.0 / (1.0 + exp(-score))) * {M.CALIB_BINS})
                        AS INT)) AS bin,
             1.0 / (1.0 + exp(-score)) AS p,
             CASE WHEN label = 'spam' THEN 1 ELSE 0 END AS y
      FROM sgd_scored
    )
    SELECT bin, count(*) AS n_docs,
           round(avg(p), 4) AS avg_pred_prob,
           {duck_floor_round("avg(y)", 4)} AS spam_rate
    FROM calib GROUP BY bin
    """,
)

register(
    "nation_market_share",
    R.nation_market_share,
    f"""
    WITH j AS (
      SELECT year(CAST(o.o_orderdate AS DATE)) AS o_year,
             o.o_totalprice, n.n_name
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    a AS (
      SELECT o_year,
             round(sum(o_totalprice), 2) AS total_revenue,
             round(sum(CASE WHEN n_name = '{R.MARKET_SHARE_NATION}'
                            THEN o_totalprice ELSE 0 END), 2)
                 AS nation_revenue
      FROM j GROUP BY o_year
    )
    SELECT o_year, total_revenue, nation_revenue,
           round(nation_revenue / total_revenue, 6) AS mkt_share
    FROM a
    """,
)

register(
    "top_terms_per_lang",
    T.top_terms_per_lang,
    f"""
    WITH counts AS (
      SELECT lang, t.tok AS token, count(*) AS n
      FROM (SELECT lang, {DUCK_TOKS} AS toks FROM documents),
           unnest(toks) AS t(tok)
      GROUP BY 1, 2
    )
    SELECT lang, CAST(rank AS INT) AS rank, token, n FROM (
      SELECT lang, token, n,
             row_number() OVER (PARTITION BY lang
                 ORDER BY n DESC, token ASC) AS rank
      FROM counts
    ) WHERE rank <= {T.TOP_TERMS_K}
    """,
)

register(
    "promo_revenue_share",
    R.promo_revenue_share,
    f"""
    WITH j AS (
      -- exact integer ten-thousandth-dollar accounting (price 2dp x
      -- whole-percent discount), mirroring the Spark side: a float sum
      -- rounded 2dp flipped a cent on one sf1 month
      SELECT strftime(CAST(l.l_shipdate AS DATE), '%Y-%m') AS ship_month,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_dm,
             p.p_type
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    a AS (
      SELECT ship_month,
             CAST((sum(CASE WHEN p_type = '{R.PROMO_TYPE}'
                            THEN rev_dm ELSE 0 END) + 50) // 100 AS BIGINT)
                 AS promo_cents,
             CAST((sum(rev_dm) + 50) // 100 AS BIGINT) AS total_cents
      FROM j GROUP BY ship_month
    )
    SELECT ship_month,
           promo_cents / 100.0 AS promo_revenue,
           total_cents / 100.0 AS total_revenue,
           CAST(floor(100.0 * promo_cents / total_cents * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS promo_share_pct
    FROM a
    """,
)

register(
    "user_feature_matrix",
    AN.user_feature_matrix,
    f"""
    WITH g AS (SELECT max(ts) AS gmax, max(CAST(ts AS DATE)) AS gd
               FROM events),
    totals AS (SELECT user_id, count(*) AS n_events
               FROM events GROUP BY user_id),
    spend AS (
      SELECT user_id, count(*) AS n_purchases,
             round(sum(value), 2) AS raw_value,
             round(sum(value * pow(0.5,
                 ((epoch_us(g.gmax) - epoch_us(ts)) / 86400000000.0)
                 / {AN.DECAY_HALF_LIFE_DAYS})), 4) AS decayed_value
      FROM events, g WHERE event_type = 'purchase' GROUP BY user_id
    ),
    churn AS (
      SELECT user_id,
             CAST(date_diff('day', max(CAST(ts AS DATE)),
                            any_value(g.gd)) AS INT) AS days_inactive,
             CAST(date_diff('day', max(CAST(ts AS DATE)),
                            any_value(g.gd)) > {AN.CHURN_DAYS} AS INT)
                 AS churned
      FROM events, g GROUP BY user_id
    ),
    bt AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS n_click,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS n_error
      FROM events GROUP BY user_id
    )
    SELECT t.user_id, t.n_events,
           coalesce(s.n_purchases, 0) AS n_purchases,
           coalesce(s.raw_value, 0.0) AS raw_value,
           coalesce(s.decayed_value, 0.0) AS decayed_value,
           c.days_inactive, c.churned,
           CAST(coalesce(b.n_click, 0) AS BIGINT) AS n_click,
           CAST(coalesce(b.n_view, 0) AS BIGINT) AS n_view,
           CAST(coalesce(b.n_error, 0) AS BIGINT) AS n_error
    FROM totals t
    LEFT JOIN spend s USING (user_id)
    LEFT JOIN churn c USING (user_id)
    LEFT JOIN bt b USING (user_id)
    """,
)

_AB_ARM = DUCK_H8.format(x=f"CAST(user_id AS VARCHAR) || '{AN.AB_SALT}'")
register(
    "ab_test_zscore",
    AN.ab_test_zscore,
    f"""
    WITH p AS (
      SELECT {_AB_ARM} % 2 AS arm, value FROM events
      WHERE event_type = 'purchase'
    ),
    s AS (
      SELECT arm, count(*) AS n, avg(value) AS mu, stddev_samp(value) AS sd
      FROM p GROUP BY arm
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(a.mu, 4) AS mean_a, round(b.mu, 4) AS mean_b,
           round((a.mu - b.mu) /
                 sqrt(a.sd * a.sd / a.n + b.sd * b.sd / b.n), 4) AS zscore
    FROM (SELECT * FROM s WHERE arm = 0) a, (SELECT * FROM s WHERE arm = 1) b
    """,
)

register(
    "source_lang_entropy",
    AN.source_lang_entropy,
    """
    WITH c AS (SELECT source, lang, count(*) AS c
               FROM documents GROUP BY 1, 2),
    t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
          count(*) AS n_langs
          FROM c GROUP BY source)
    SELECT c.source, t.n_docs, t.n_langs,
           round(-sum((c.c / CAST(t.n_docs AS DOUBLE))
                      * ln(c.c / CAST(t.n_docs AS DOUBLE))), 6) AS entropy
    FROM c JOIN t USING (source)
    GROUP BY c.source, t.n_docs, t.n_langs
    """,
)

register(
    "events_quality_gate",
    AN.events_quality_gate,
    f"""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_user,
           CAST(sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonpos_value,
           CAST(sum(CASE WHEN event_type NOT IN {AN.KNOWN_EVENT_TYPES}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_type,
           CAST(sum(CASE WHEN ts < TIMESTAMP '{AN.QUALITY_TS_LO}'
                      OR ts >= TIMESTAMP '{AN.QUALITY_TS_HI}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_out_of_range,
           CAST(sum(CASE WHEN value > {AN.QUALITY_VALUE_CAP}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_value_over_cap
    FROM events
    """,
)

register(
    "embedding_drift",
    S.embedding_drift,
    f"""
    WITH e AS ({DUCK_EMB.replace("v FROM", "v, label FROM")}),
    dims AS (
      SELECT label,
             CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS half,
             generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x
      FROM e
    ),
    cent AS (
      SELECT label, half, dim, avg(x) AS m, count(*) AS n
      FROM dims GROUP BY 1, 2, 3
    )
    SELECT r.label, any_value(r.n) AS n_ref, any_value(c.n) AS n_cur,
           round(sqrt(sum((r.m - c.m) * (r.m - c.m))), 6) AS centroid_dist
    FROM (SELECT * FROM cent WHERE half = 'ref') r
    JOIN (SELECT * FROM cent WHERE half = 'cur') c USING (label, dim)
    GROUP BY r.label
    """,
)

register(
    "top_suppliers_by_revenue",
    R.top_suppliers_by_revenue,
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name, r.revenue
    FROM rev r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY r.revenue DESC, s.s_suppkey ASC
    LIMIT {R.TOP_SUPPLIERS_K}
    """,
)

register(
    "top_return_customers",
    R.top_return_customers,
    f"""
    WITH pc AS (
      SELECT o.o_custkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                 AS return_revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
      GROUP BY o.o_custkey
    )
    SELECT c.c_custkey, c.c_name, n.n_name, pc.return_revenue
    FROM pc
    JOIN customer c ON pc.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY pc.return_revenue DESC, c.c_custkey ASC
    LIMIT {R.TOP_RETURN_CUSTOMERS_K}
    """,
)

# PPJoin prefix filter: output is IDENTICAL to ngram_jaccard_pairs by
# the lossless-prefix theorem, so it verifies against the same SQL —
# output equality across the two candidate generators is the proof the
# pruning drops nothing.
register(
    "jaccard_prefix_join",
    D.jaccard_prefix_join,
    _registered_oracle("ngram_jaccard_pairs"),
)

register(
    "user_erasure_audit",
    TO.user_erasure_audit,
    f"""
    SELECT 'events' AS table_name, count(*) AS n_rows_affected,
           count(DISTINCT user_id) AS n_keys_affected
    FROM events WHERE user_id % {TO.ERASURE_USER_MOD} = 0
    UNION ALL
    SELECT 'customer', count(*), count(DISTINCT c_custkey)
    FROM customer WHERE c_custkey % {TO.ERASURE_USER_MOD} = 0
    UNION ALL
    SELECT 'orders', count(*), count(DISTINCT o_custkey)
    FROM orders WHERE o_custkey % {TO.ERASURE_USER_MOD} = 0
    """,
)

register(
    "events_throttled",
    RX.events_throttled,
    f"""
    WITH e AS (SELECT event_id, user_id, event_type, ts,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
    SELECT event_id, user_id, event_type,
           CASE WHEN lag(sec) OVER w IS NULL
                     OR sec - lag(sec) OVER w > {RX.THROTTLE_SEC}
                THEN 1 ELSE 0 END AS kept
    FROM e WINDOW w AS (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id)
    """,
)

register(
    "user_rolling_anomalies",
    RX.user_rolling_anomalies,
    f"""
    WITH e AS (SELECT event_id, user_id, value,
                      CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    s AS (
      SELECT event_id, user_id, value,
             avg(value) OVER w AS mu,
             stddev_pop(value) OVER w AS sd,
             count(*) OVER w AS n
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec
                          RANGE BETWEEN {RX.ROLLING_WINDOW_SEC} PRECEDING
                          AND CURRENT ROW)
    )
    SELECT event_id, user_id, value,
           round(mu, 4) AS window_mu,
           round((value - mu) / sd, 4) AS zscore
    FROM s
    WHERE n >= {RX.ROLLING_ANOM_MIN_N} AND sd > 0
      AND abs((value - mu) / sd) > {RX.ROLLING_ANOM_Z}
    """,
)

# IVM identity: the Spark side refreshes the OLD aggregate with CDC
# deltas; the oracle aggregates the NEW snapshot directly. Hash equality
# IS the refresh(old, delta) == recompute(new) proof.
register(
    "incremental_agg_refresh",
    TO.incremental_agg_refresh,
    """
    WITH new AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 3 = 0 THEN value + 1 ELSE value END
                 AS value
      FROM events WHERE event_id % 7 != 0
    )
    SELECT event_type, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM new GROUP BY event_type
    """,
)

register(
    "events_debounced",
    RX.events_debounced,
    f"""
    WITH RECURSIVE e AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS rn
      FROM events
    ),
    fold AS (
      SELECT user_id, event_type, rn, event_id, sec,
             sec AS last_kept, 1 AS kept
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_type, e.rn, e.event_id, e.sec,
             CASE WHEN e.sec - f.last_kept > {RX.THROTTLE_SEC}
                  THEN e.sec ELSE f.last_kept END,
             CASE WHEN e.sec - f.last_kept > {RX.THROTTLE_SEC}
                  THEN 1 ELSE 0 END
      FROM fold f JOIN e ON e.user_id = f.user_id
        AND e.event_type = f.event_type AND e.rn = f.rn + 1
    )
    SELECT event_id, user_id, event_type, kept FROM fold
    """,
)

register(
    "events_seasonality",
    AN.events_seasonality,
    """
    SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
           count(*) AS n_events, round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)

register(
    "source_dedup_rates",
    AN.source_dedup_rates,
    """
    SELECT source, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           (count(*) - count(DISTINCT md5(text))) * 1000000 // count(*)
               AS dup_ppm
    FROM documents GROUP BY source
    """,
)

register(
    "minhash_estimate_error",
    D.minhash_estimate_error,
    f"""
    WITH {DUCK_MINHASH_PAIR_CTES},
    verified AS (
      SELECT doc_a, doc_b, jaccard FROM pairs
      WHERE jaccard >= {D.JACCARD_THRESHOLD}
    ),
    est AS (
      SELECT v.jaccard,
             {duck_floor_round(
                 f"len(list_filter(range(1, {D.NUM_HASHES} + 1),"
                 " i -> sa.sig[i] = sb.sig[i]))"
                 f" / {D.NUM_HASHES}.0"
             )} AS agree
      FROM verified v
      JOIN sigs sa ON sa.doc_id = v.doc_a
      JOIN sigs sb ON sb.doc_id = v.doc_b
    )
    SELECT count(*) AS n_pairs,
           round(avg(abs(agree - jaccard)), 6) AS mean_abs_err,
           round(max(abs(agree - jaccard)), 6) AS max_abs_err
    FROM est
    """,
)

register(
    "user_value_deciles",
    AN.user_value_deciles,
    f"""
    WITH spend AS (
      SELECT user_id, round(sum(value), 2) AS user_value
      FROM events GROUP BY user_id
    ),
    tiled AS (
      SELECT *, ntile({AN.LTV_TILES}) OVER (
                 ORDER BY user_value DESC, user_id ASC) AS decile
      FROM spend
    ),
    g AS (SELECT sum(user_value) AS grand FROM spend)
    SELECT CAST(decile AS INT) AS decile, count(*) AS n_users,
           round(sum(user_value), 2) AS total_value,
           CAST(round(sum(user_value) * 100) AS BIGINT) * 1000000
               // CAST(round(g.grand * 100) AS BIGINT) AS value_share_ppm
    FROM tiled, g
    GROUP BY decile, g.grand
    """,
)

# --- exact-substring (repeated-span) dedup (north-star: Lee et al. 2021
# span-level dedup, re-expressed as k-gram fingerprints; operators/spans.py)

from ..operators import spans as SP  # noqa: E402

# Shared CTE chain: k-gram windows -> corpus-wide count -> dup hits
# -> per-doc interval merge into maximal spans. Mirrors the Spark plan
# stage for stage so the hash check pins the full pipeline. The tail is
# split out (without the `toks` head) so corpus_curate can compose it
# with the MinHash CTEs, which define the identical `toks` themselves.
# gram expansion (from an in-scope `toks` CTE) and the interval-merge
# chain (from an in-scope `hits` CTE) are separate fragments so the
# corpus-wide and incremental variants share both around different hit
# definitions.
DUCK_SPAN_GRAM_CTES = f"""
    poss AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks,
                    unnest(range(1, len(toks) - {SP.SPAN_K} + 2)) AS pos
             FROM toks WHERE len(toks) >= {SP.SPAN_K}),
    grams AS (SELECT doc_id, n_tokens, pos,
                     array_to_string(toks[pos:pos+{SP.SPAN_K}-1], ' ') AS gram
              FROM poss)"""

DUCK_SPAN_MERGE_CTES = f"""
    runs AS (SELECT doc_id, n_tokens, pos,
                    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                              IS NULL
                           OR pos > lag(pos) OVER (PARTITION BY doc_id
                                                   ORDER BY pos) + {SP.SPAN_K}
                         THEN 1 ELSE 0 END AS is_new
             FROM hits),
    runid AS (SELECT doc_id, n_tokens, pos,
                     sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS run
              FROM runs),
    spans AS (SELECT doc_id,
                     CAST(min(pos) AS BIGINT) AS span_start,
                     CAST(max(pos) + {SP.SPAN_K} - 1 AS BIGINT) AS span_end,
                     CAST(max(pos) + {SP.SPAN_K} - min(pos) AS BIGINT)
                         AS span_len
              FROM runid GROUP BY doc_id, run)
"""

DUCK_SPAN_TAIL_CTES = (
    DUCK_SPAN_GRAM_CTES
    + f""",
    hits AS (SELECT doc_id, n_tokens, pos FROM (
                 SELECT *, count(*) OVER (PARTITION BY gram) AS c FROM grams)
             WHERE c >= {SP.SPAN_MIN_COUNT}),"""
    + DUCK_SPAN_MERGE_CTES
)

DUCK_SPAN_CTES = (
    f"""
    toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),"""
    + DUCK_SPAN_TAIL_CTES
)

# Twin consolidation: the string-key and fingerprint-key exchanges are
# row-identical by construction, so they share ONE registry slot as a
# tagged union card — the oracle derives the 'fp' rows from the
# string-key semantics, making any fp divergence (plan bug or 64-bit
# collision) a hash break.
register(
    "repeated_spans_variants",
    SP.repeated_spans_variants,
    f"""
    WITH {DUCK_SPAN_CTES},
    base AS (SELECT doc_id, span_start, span_end, span_len FROM spans)
    SELECT v.variant, b.doc_id, b.span_start, b.span_end, b.span_len
    FROM base b
    CROSS JOIN (SELECT unnest(['string', 'fp']) AS variant) v
    """,
)

register(
    "dup_span_stats",
    SP.dup_span_stats,
    f"""
    WITH {DUCK_SPAN_CTES},
    cov AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY doc_id),
    alltoks AS (SELECT doc_id, CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens
                FROM documents)
    SELECT a.doc_id, a.n_tokens,
           coalesce(c.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
           {duck_floor_round("coalesce(c.dup_tokens, 0) / greatest(a.n_tokens, 1)")}
               AS dup_fraction
    FROM alltoks a LEFT JOIN cov c USING (doc_id)
    """,
)

# Shared strip tail (expects in-scope `toks` and `spans` CTEs): per-doc
# merged-interval arrays joined back onto one corpus scan; the strip is
# a pure list-lambda on both engines.
DUCK_STRIP_TAIL = """,
    sp AS (SELECT doc_id, list({'s': span_start, 'e': span_end}) AS sps
           FROM spans GROUP BY doc_id),
    j AS (SELECT t.doc_id, t.toks, coalesce(sp.sps, []) AS sps
          FROM toks t LEFT JOIN sp USING (doc_id)),
    k AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                 list_filter(
                     list_transform(range(1, len(toks) + 1),
                         p -> CASE WHEN len(list_filter(sps,
                                       r -> r.s <= p AND p <= r.e)) = 0
                                   THEN toks[p] ELSE NULL END),
                     x -> x IS NOT NULL) AS kept
          FROM j)
    SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS kept_tokens,
           -- duckdb's array_to_string([]) is NULL; spark's array_join is ''
           coalesce(array_to_string(kept, ' '), '') AS clean_text
    FROM k
    """

# Twin consolidation: both STRIP policies in one
# tagged union card — 'all' (conservative strip-every-occurrence) and
# 'keep_first' (Lee-et-al keep-one-occurrence: per duplicated gram the
# globally-first occurrence, min (doc_id, pos), is exempt; only later
# occurrences' merged extents are stripped). Genuinely different
# semantics, so each leg carries its own oracle SQL; one hash row pins
# both plans per rotation.
register(
    "strip_spans_variants",
    SP.strip_spans_variants,
    f"""
    SELECT 'all' AS variant, * FROM (
    WITH {DUCK_SPAN_CTES}{DUCK_STRIP_TAIL})
    UNION ALL
    SELECT 'keep_first' AS variant, * FROM (
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),{DUCK_SPAN_GRAM_CTES},
    hits AS (SELECT doc_id, n_tokens, pos FROM (
                 SELECT *, count(*) OVER (PARTITION BY gram) AS c,
                        row_number() OVER (PARTITION BY gram
                                           ORDER BY doc_id, pos) AS rn
                 FROM grams)
             WHERE c >= {SP.SPAN_MIN_COUNT} AND rn > 1),{DUCK_SPAN_MERGE_CTES}{DUCK_STRIP_TAIL})""",
)

register(
    # new-batch grams probed against the standing OLD-corpus gram index
    # (same batch convention, doc_id % 10 == 9, as
    # incremental_dedup_assign), consolidated with its fingerprint-keyed
    # twin as a tagged union card — row-identical plans share one slot;
    # the oracle derives both variants' rows from the string-key
    # semantics.
    "incremental_spans_variants",
    SP.incremental_spans_variants,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),{DUCK_SPAN_GRAM_CTES},
    old_index AS (SELECT DISTINCT gram FROM grams WHERE doc_id {_OLD}),
    hits AS (SELECT g.doc_id, g.n_tokens, g.pos FROM grams g
             WHERE g.doc_id {_NEW}
               AND g.gram IN (SELECT gram FROM old_index)),{DUCK_SPAN_MERGE_CTES},
    base AS (SELECT doc_id, span_start, span_end, span_len FROM spans)
    SELECT v.variant, b.doc_id, b.span_start, b.span_end, b.span_len
    FROM base b
    CROSS JOIN (SELECT unnest(['string', 'fp']) AS variant) v
    """,
)

register(
    "corpus_novelty",
    SP.corpus_novelty,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    poss AS (SELECT doc_id, toks,
                    unnest(range(1, len(toks) - {SP.SPAN_K} + 2)) AS pos
             FROM toks WHERE len(toks) >= {SP.SPAN_K}),
    grams AS (SELECT doc_id, pos,
                     array_to_string(toks[pos:pos+{SP.SPAN_K}-1], ' ') AS gram
              FROM poss),
    pb AS (SELECT DISTINCT doc_id // {SP.NOVELTY_BUCKET_DOCS} AS bucket, gram
           FROM grams),
    fb AS (SELECT gram, min(bucket) AS first_bucket FROM pb GROUP BY gram)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS distinct_grams,
           CAST(sum(CASE WHEN first_bucket = bucket THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams,
           {duck_floor_round(
               "sum(CASE WHEN first_bucket = bucket THEN 1 ELSE 0 END) / count(*)"
           )} AS novelty_rate
    FROM pb JOIN fb USING (gram)
    GROUP BY bucket
    """,
)

# --- end-to-end corpus curation (north-star composition; operators/curate.py)

from ..operators import curate as CU  # noqa: E402

# The curate gates over `cl`, `toks` and `spans` (twin of
# curate._curate_gated), in three pieces so curation_funnel can take
# `chars`, `ex` and the span/quality chain around its narrower `reps`:
# the cluster representative is the longest doc (ties to the lowest id),
# `ex` keeps one canonical doc per exact text, `sp` is the span-dup
# coverage and `tq` the text quality.
_CURATE_CHARS = (
    "chars AS (SELECT doc_id, CAST(len(text) AS INT) AS n_chars FROM documents)"
)
_CURATE_EX = """ex AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS can
            FROM documents)
        WHERE doc_id = can)"""
_CURATE_SP_TQ = f"""cov AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY doc_id),
    alltoks AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
    sp AS (
        SELECT a.doc_id, a.n_tokens,
               coalesce(c.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens
        FROM alltoks a LEFT JOIN cov c USING (doc_id)),
    tq AS ({_TEXT_QUALITY_SQL})"""
DUCK_CURATE_GATE_CTES = f"""
    {_CURATE_CHARS},
    reps AS (
        SELECT cluster_id, doc_id, CAST(cluster_size AS BIGINT) AS cluster_size
        FROM (
            SELECT cl.cluster_id, cl.doc_id,
                   row_number() OVER (PARTITION BY cl.cluster_id
                       ORDER BY chars.n_chars DESC, cl.doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY cl.cluster_id) AS cluster_size
            FROM cl JOIN chars USING (doc_id))
        WHERE rn = 1),
    {_CURATE_EX},
    splits AS (
        SELECT doc_id,
               {_duck_split("cluster_id", SA.CLUSTER_SPLIT_SALT)} AS split
        FROM cl),
    {_CURATE_SP_TQ}"""

register(
    "corpus_curate",
    CU.corpus_curate,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_SPAN_TAIL_CTES},
    {DUCK_NEAR_DUP_CTES},{DUCK_CURATE_GATE_CTES},
    kept AS (
        SELECT r.doc_id, r.cluster_id, r.cluster_size, s.split,
               sp.n_tokens, sp.dup_tokens,
               sp.n_tokens - sp.dup_tokens AS kept_tokens,
               tq.quality_score
        FROM reps r
        JOIN ex USING (doc_id)
        JOIN splits s USING (doc_id)
        JOIN sp USING (doc_id)
        JOIN tq USING (doc_id)
        WHERE tq.quality_score >= {CU.CURATE_MIN_QUALITY}
          AND sp.dup_tokens * {CU.CURATE_MAX_DUP_DEN} <= sp.n_tokens),
    packed AS (
        SELECT *, sum(kept_tokens) OVER (
                   ORDER BY quality_score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_kept_tokens
        FROM kept)
    SELECT doc_id, cluster_id, cluster_size, split, n_tokens, dup_tokens,
           CAST(kept_tokens AS BIGINT) AS kept_tokens, quality_score,
           CAST(cum_kept_tokens AS BIGINT) AS cum_kept_tokens
    FROM packed WHERE cum_kept_tokens <= {CU.CURATE_TOKEN_BUDGET}
    """,
)

register(
    "incremental_span_stats",
    SP.incremental_span_stats,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),{DUCK_SPAN_GRAM_CTES},
    old_index AS (SELECT DISTINCT gram FROM grams WHERE doc_id {_OLD}),
    hits AS (SELECT g.doc_id, g.n_tokens, g.pos FROM grams g
             WHERE g.doc_id {_NEW}
               AND g.gram IN (SELECT gram FROM old_index)),{DUCK_SPAN_MERGE_CTES},
    cov AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_old_tokens
            FROM spans GROUP BY doc_id),
    newtoks AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
                FROM toks WHERE doc_id {_NEW})
    SELECT a.doc_id, a.n_tokens,
           coalesce(c.dup_old_tokens, CAST(0 AS BIGINT)) AS dup_old_tokens,
           {duck_floor_round("coalesce(c.dup_old_tokens, 0) / greatest(a.n_tokens, 1)")}
               AS dup_fraction
    FROM newtoks a LEFT JOIN cov c USING (doc_id)
    """,
)

register(
    # the recurring production curation job: every probe is against the
    # standing corpus assets; verdict precedence exact > neardup >
    # quality > spans; split hashed on the ASSIGNED cluster id so matched
    # docs inherit their old cluster's split across increments
    "incremental_curate",
    CU.incremental_curate,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_SPAN_GRAM_CTES},
    {DUCK_OLD_NEAR_DUP_CTES},
    asg AS (
        SELECT n.doc_id,
               coalesce(c.cluster_id, n.doc_id) AS cluster_id,
               CAST(b.new_id IS NOT NULL AS INT) AS matched
        FROM (SELECT doc_id FROM documents WHERE doc_id {_NEW}) n
        LEFT JOIN best b ON b.new_id = n.doc_id
        LEFT JOIN oldcl c ON c.doc_id = b.old_id),
    olddig AS (SELECT DISTINCT md5(text) AS dig FROM documents
               WHERE doc_id {_OLD}),
    ex AS (SELECT doc_id,
                  CAST(md5(text) IN (SELECT dig FROM olddig) AS INT)
                      AS exact_dup
           FROM documents WHERE doc_id {_NEW}),
    old_index AS (SELECT DISTINCT gram FROM grams WHERE doc_id {_OLD}),
    hits AS (SELECT g.doc_id, g.n_tokens, g.pos FROM grams g
             WHERE g.doc_id {_NEW}
               AND g.gram IN (SELECT gram FROM old_index)),{DUCK_SPAN_MERGE_CTES},
    cov AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_old_tokens
            FROM spans GROUP BY doc_id),
    newtoks AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
                FROM toks WHERE doc_id {_NEW}),
    sp AS (SELECT a.doc_id, a.n_tokens,
                  coalesce(c.dup_old_tokens, CAST(0 AS BIGINT))
                      AS dup_old_tokens
           FROM newtoks a LEFT JOIN cov c USING (doc_id)),
    tq AS ({_TEXT_QUALITY_SQL})
    SELECT asg.doc_id, sp.n_tokens, sp.dup_old_tokens, tq.quality_score,
           asg.matched, asg.cluster_id,
           {_duck_split("cluster_id", SA.CLUSTER_SPLIT_SALT)} AS split,
           CASE WHEN ex.exact_dup = 1 THEN 'drop_exact'
                WHEN asg.matched = 1 THEN 'drop_neardup'
                WHEN tq.quality_score < {CU.CURATE_MIN_QUALITY}
                    THEN 'drop_quality'
                WHEN sp.dup_old_tokens * {CU.CURATE_MAX_DUP_DEN} > sp.n_tokens
                    THEN 'drop_spans'
                ELSE 'kept' END AS verdict
    FROM asg
    JOIN ex USING (doc_id)
    JOIN sp USING (doc_id)
    JOIN tq USING (doc_id)
    """,
)

register(
    # chunk -> hash-embed -> brute cosine top-k; the embed is integer-
    # derived on both engines so the whole RAG pipeline is value-oracled
    "chunk_embed_topk",
    lambda spark, sf: S.chunk_embed_topk(spark, sf),
    f"""
    WITH toks AS (
      SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
    ),
    t AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
    st AS (
      SELECT doc_id, toks,
             CAST(generate_subscripts(range(0, len(toks), {TS.CHUNK_STRIDE}), 1)
                  - 1 AS INT) AS chunk_id,
             unnest(range(0, len(toks), {TS.CHUNK_STRIDE})) AS start
      FROM t
    ),
    ch AS (
      SELECT doc_id, chunk_id,
             array_to_string(toks[start + 1 : start + {TS.CHUNK_SIZE}], ' ')
                 AS chunk_text
      FROM st
    ),
    emb AS (
      SELECT doc_id, chunk_id,
             list_transform(range(0, {S.RAG_EMBED_DIM}),
                 j -> ({DUCK_H8.format(x=f"chunk_text || '{S.RAG_EMBED_SALT}' || CAST(j AS VARCHAR)")}
                       % 1000) / 1000.0 - 0.5) AS v
      FROM ch
    ),
    q AS (
      SELECT list_transform(range(0, {S.RAG_EMBED_DIM}),
                 j -> ({DUCK_H8.format(x=f"'{S.RAG_QUERY}{S.RAG_EMBED_SALT}' || CAST(j AS VARCHAR)")}
                       % 1000) / 1000.0 - 0.5) AS qv
    )
    SELECT doc_id, chunk_id,
           round(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cosine
    FROM emb
    ORDER BY cosine DESC, doc_id, chunk_id
    LIMIT {S.RAG_TOP_K}
    """,
)

# --- PII detection/redaction (operators/pii.py; north-star curation shelf)

from ..operators import pii as PII  # noqa: E402

# The fixture decoration, mirrored byte-for-byte from
# operators/pii.py::decorate_with_pii (suffixes append in when-order).
DUCK_PII_DECORATED = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                THEN ' Contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com now.' ELSE '' END
           || CASE WHEN doc_id % 4 = 0
                THEN ' Call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || '.' ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                THEN ' SSN 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || '.' ELSE '' END
           || CASE WHEN doc_id % 6 = 0
                THEN ' Card 4111 1111 1111 '
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     || '.' ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                THEN ' Host 10.' || CAST(doc_id % 200 AS VARCHAR)
                     || '.' || CAST(doc_id % 250 AS VARCHAR)
                     || '.' || CAST(doc_id % 100 + 1 AS VARCHAR)
                     || '.' ELSE '' END
           AS text
    FROM documents
"""

_PII_COUNT_COLS = ",\n".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{cat}"
    for cat, pat, _ in PII.PII_PATTERNS
)
_PII_TOTAL = " + ".join(f"n_{cat}" for cat, _, _ in PII.PII_PATTERNS)


def _pii_staged_redact() -> tuple[list[str], str]:
    """Mirror redact_pii's staged chain: each category's count is taken
    on the text with all earlier categories already replaced, so the sum
    is the actual substitution count."""
    expr = "text"
    counts = []
    for _, pat, ph in PII.PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({expr}, '{pat}'))")
        expr = f"regexp_replace({expr}, '{pat}', '{ph}', 'g')"
    return counts, expr


_PII_STAGED_COUNTS, _PII_CLEAN_EXPR = _pii_staged_redact()

register(
    "pii_stats",
    PII.pii_stats,
    f"""
    WITH dec AS ({DUCK_PII_DECORATED}),
    c AS (SELECT doc_id, {_PII_COUNT_COLS} FROM dec)
    SELECT *, CAST({_PII_TOTAL} AS BIGINT) AS n_total
    FROM c WHERE {_PII_TOTAL} > 0
    """,
)

register(
    "pii_redact",
    PII.pii_redact,
    f"""
    WITH dec AS ({DUCK_PII_DECORATED}),
    r AS (SELECT doc_id,
                 {_PII_CLEAN_EXPR} AS clean_text,
                 CAST({" + ".join(_PII_STAGED_COUNTS)}
                      AS BIGINT) AS n_redactions
          FROM dec)
    SELECT * FROM r WHERE n_redactions > 0
    """,
)

# --- Gopher-style quality rules (operators/docquality.py)

from ..operators import docquality as DQ  # noqa: E402

_GOPHER_STOP_HITS = " + ".join(
    "(CASE WHEN list_contains(list_transform(words, t -> lower(t)), "
    f"'{s}') THEN 1 ELSE 0 END)"
    for s in DQ.GOPHER_STOPWORDS
)

DUCK_GOPHER_FLAGS = f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                         t -> len(t) > 0) AS words,
             string_split(text, chr(10)) AS lines,
             CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT)
                 AS n_symbols
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(coalesce(list_sum(list_transform(words, t -> len(t))), 0)
                  AS BIGINT) AS word_chars,
             CAST(len(list_filter(words, t -> regexp_matches(t, '[A-Za-z]')))
                  AS BIGINT) AS n_alpha_words,
             CAST({_GOPHER_STOP_HITS} AS BIGINT) AS n_stopword_hits,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^ *[-*]')))
                  AS BIGINT) AS n_bullet_lines,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$')))
                  AS BIGINT) AS n_ellipsis_lines,
             n_symbols
      FROM w)
    SELECT doc_id, n_words, word_chars, n_alpha_words, n_stopword_hits,
           n_lines, n_bullet_lines, n_ellipsis_lines, n_symbols,
           {duck_floor_round("word_chars / greatest(n_words, 1)")} AS mean_word_len,
           n_words BETWEEN {DQ.GOPHER_MIN_WORDS} AND {DQ.GOPHER_MAX_WORDS}
               AS flag_word_count,
           (word_chars >= 3 * n_words AND word_chars <= 10 * n_words)
               AS flag_mean_word_len,
           10 * n_symbols <= n_words AS flag_symbol_ratio,
           10 * n_bullet_lines <= 9 * n_lines AS flag_bullet,
           10 * n_ellipsis_lines <= 3 * n_lines AS flag_ellipsis,
           5 * n_alpha_words >= 4 * n_words AS flag_alpha,
           n_stopword_hits >= {DQ.GOPHER_MIN_STOPWORDS} AS flag_stopwords,
           (n_words BETWEEN {DQ.GOPHER_MIN_WORDS} AND {DQ.GOPHER_MAX_WORDS}
            AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
            AND 10 * n_symbols <= n_words
            AND 10 * n_bullet_lines <= 9 * n_lines
            AND 10 * n_ellipsis_lines <= 3 * n_lines
            AND 5 * n_alpha_words >= 4 * n_words
            AND n_stopword_hits >= {DQ.GOPHER_MIN_STOPWORDS}) AS gopher_pass
    FROM m
"""

_GOPHER_RULES = (
    "word_count",
    "mean_word_len",
    "symbol_ratio",
    "bullet",
    "ellipsis",
    "alpha",
    "stopwords",
    "gopher_pass",
)
_GOPHER_RATE_ARMS = "\n    UNION ALL ".join(
    f"SELECT '{r}' AS rule, "
    f"CAST(coalesce(sum(CASE WHEN NOT flag_{r} THEN 1 ELSE 0 END), 0) AS BIGINT)"
    " AS n_fail, CAST(count(*) AS BIGINT) AS n_docs FROM m"
    if r != "gopher_pass"
    else f"SELECT '{r}' AS rule, "
    "CAST(coalesce(sum(CASE WHEN NOT gopher_pass THEN 1 ELSE 0 END), 0) AS BIGINT)"
    " AS n_fail, CAST(count(*) AS BIGINT) AS n_docs FROM m"
    for r in _GOPHER_RULES
)

register(
    "gopher_quality_flags",
    DQ.gopher_quality_flags,
    DUCK_GOPHER_FLAGS,
)

register(
    "gopher_pass_rates",
    DQ.gopher_pass_rates,
    f"""
    WITH m AS ({DUCK_GOPHER_FLAGS}),
    arms AS ({_GOPHER_RATE_ARMS})
    SELECT rule, n_fail,
           {duck_ppm("n_fail", "n_docs")} AS fail_ppm
    FROM arms
    """,
)

# --- DSIR importance scoring (operators/dsir.py; data-mixing shelf)

from ..operators import dsir as DS  # noqa: E402

DUCK_DSIR_SCORES = f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    words AS (SELECT doc_id, unnest(toks) AS word FROM toks),
    b AS (SELECT doc_id, {DUCK_H8.format(x='word')} % {DS.DSIR_BUCKETS} AS bucket
          FROM words),
    tcnt AS (SELECT bucket, count(*) AS n FROM b
             WHERE doc_id % {DS.DSIR_TARGET_MOD} = 0 GROUP BY bucket),
    rcnt AS (SELECT bucket, count(*) AS n FROM b
             WHERE doc_id % {DS.DSIR_TARGET_MOD} != 0 GROUP BY bucket),
    tt AS (SELECT coalesce(sum(n), 0) AS t FROM tcnt),
    rt AS (SELECT coalesce(sum(n), 0) AS r FROM rcnt),
    lr AS (SELECT g.bucket,
                  CAST(floor((ln((coalesce(tc.n, 0) + 1)
                                 / (tt.t + {DS.DSIR_BUCKETS}))
                              - ln((coalesce(rc.n, 0) + 1)
                                   / (rt.r + {DS.DSIR_BUCKETS})))
                             * 1000000 + 0.5) AS BIGINT) AS lr_micro
           FROM (SELECT unnest(range(0, {DS.DSIR_BUCKETS})) AS bucket) g
           LEFT JOIN tcnt tc USING (bucket)
           LEFT JOIN rcnt rc USING (bucket), tt, rt),
    pdb AS (SELECT doc_id, bucket, count(*) AS c FROM b
            WHERE doc_id % {DS.DSIR_TARGET_MOD} != 0 GROUP BY doc_id, bucket),
    sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(sum(c * lr_micro) AS BIGINT) AS score_micro
           FROM pdb JOIN lr USING (bucket) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(sc.score_micro, 0) AS BIGINT) AS score_micro,
           -- floor-micro, not round(x, 6): integer-ratio .5-micro ties
           -- are common and the engines break decimal ties differently
           CAST(floor(coalesce(sc.score_micro, 0)
                      / greatest(coalesce(sc.n_tokens, 0), 1) + 0.5)
                AS BIGINT) / 1000000.0 AS avg_logratio
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {DS.DSIR_TARGET_MOD} != 0) d
    LEFT JOIN sc USING (doc_id)
"""

register(
    "dsir_scores",
    DS.dsir_scores,
    DUCK_DSIR_SCORES,
)

register(
    "dsir_topk",
    DS.dsir_topk,
    f"""
    WITH s AS ({DUCK_DSIR_SCORES}),
    top AS (SELECT doc_id, n_tokens, avg_logratio FROM s
            ORDER BY avg_logratio DESC, doc_id LIMIT {DS.DSIR_TOP_K})
    SELECT CAST(row_number() OVER (ORDER BY avg_logratio DESC, doc_id)
                AS INT) AS rank,
           doc_id, n_tokens, avg_logratio
    FROM top
    """,
)

# --- curation-shelf registrations ---------------------------------------------
# Each family's test file imports these single-sourced oracle strings
# (the DSIR/PII discipline).

from ..operators import curate as CUR  # noqa: E402,F401  (CU already bound)
from ..operators import extraction as EX  # noqa: E402
from ..operators import linededup as LD  # noqa: E402
from ..operators import qualitymodel as QM  # noqa: E402
from ..streaming import docs_stream as DSTR  # noqa: E402

# -- DSIR Gumbel-top-k importance resampling ---------------------------------

_DSIR_GUMBEL_U = DUCK_H8.format(
    x=f"CAST(doc_id AS VARCHAR) || '{DS.DSIR_GUMBEL_SALT}'"
)

register(
    "dsir_resample",
    DS.dsir_resample,
    f"""
    WITH s AS ({DUCK_DSIR_SCORES}),
    keyed AS (SELECT *,
                     round(score_micro / 1000000.0
                           - ln(-ln((({_DSIR_GUMBEL_U}) % 1000000 + 0.5)
                                    / 1000000.0)),
                           6) AS gumbel_key
              FROM s),
    top AS (SELECT doc_id, n_tokens, avg_logratio, gumbel_key FROM keyed
            ORDER BY gumbel_key DESC, doc_id LIMIT {DS.DSIR_RESAMPLE_K})
    SELECT CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id)
                AS INT) AS rank,
           doc_id, n_tokens, avg_logratio, gumbel_key
    FROM top
    """,
)

# -- corpus line-level dedup (operators/linededup.py) ------------------------
# Fixture segmenter twin: raw whitespace words re-joined into LINE_W-token
# windows (the chunk_embed stride shape with stride = size).

DUCK_LINE_CTES = f"""
    w AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                             t -> len(t) > 0) AS words
          FROM documents),
    nz AS (SELECT * FROM w WHERE len(words) > 0),
    st AS (SELECT doc_id, words,
                  CAST(generate_subscripts(range(0, len(words), {LD.LINE_W}), 1)
                       - 1 AS BIGINT) AS line_no,
                  unnest(range(0, len(words), {LD.LINE_W})) AS start
           FROM nz),
    lines AS (SELECT doc_id, line_no,
                     array_to_string(words[start + 1 : start + {LD.LINE_W}], ' ')
                         AS line
              FROM st)
"""

register(
    "dup_line_stats",
    LD.dup_line_stats,
    f"""
    WITH {DUCK_LINE_CTES},
    g AS (SELECT line, count(*) AS n_occ FROM lines GROUP BY line)
    SELECT CAST(coalesce(sum(n_occ), 0) AS BIGINT) AS n_lines,
           CAST(count(*) AS BIGINT) AS n_distinct_lines,
           CAST(coalesce(sum(CASE WHEN n_occ > 1 THEN n_occ END), 0)
                AS BIGINT) AS dup_occurrences,
           CAST(coalesce(sum(n_occ - 1), 0) AS BIGINT) AS removed_occurrences,
           {duck_ppm("coalesce(sum(n_occ - 1), 0)", "coalesce(sum(n_occ), 0)")}
               AS dup_line_ppm
    FROM g
    """,
)

register(
    "line_dedup_corpus",
    LD.line_dedup_corpus,
    f"""
    WITH {DUCK_LINE_CTES},
    g AS (SELECT line, min(doc_id * {LD.POS_ENC} + line_no) AS first_pos
          FROM lines GROUP BY line),
    kept AS (SELECT l.doc_id, l.line_no, l.line
             FROM lines l JOIN g USING (line)
             WHERE l.doc_id * {LD.POS_ENC} + l.line_no = g.first_pos),
    pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
                  coalesce(array_to_string(list(line ORDER BY line_no), ' '),
                           '') AS clean_text
           FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
            FROM lines GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(tot.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(pd.kept_lines, 0) AS BIGINT) AS kept_lines,
           coalesce(pd.clean_text, '') AS clean_text
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN pd USING (doc_id)
    """,
)

_INCR_LINE_DEDUP_SQL = f"""
    WITH {DUCK_LINE_CTES},
    standing AS (SELECT DISTINCT line FROM lines WHERE NOT (doc_id {_NEW})),
    nl AS (SELECT * FROM lines WHERE doc_id {_NEW}),
    kept AS (SELECT * FROM nl
             WHERE line NOT IN (SELECT line FROM standing)),
    pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
                  coalesce(array_to_string(list(line ORDER BY line_no), ' '),
                           '') AS clean_text
           FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
            FROM nl GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(tot.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(tot.n_lines, 0) - coalesce(pd.kept_lines, 0)
                AS BIGINT) AS dup_lines,
           coalesce(pd.clean_text, '') AS clean_text
    FROM (SELECT doc_id FROM documents WHERE doc_id {_NEW}) d
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN pd USING (doc_id)
"""

register(
    "incremental_line_dedup",
    LD.incremental_line_dedup,
    _INCR_LINE_DEDUP_SQL,
)

# The streaming twin's complete-mode output equals the batch probe
# row-for-row (pinned by tests/test_streaming_docs.py), so it registers
# against the SAME oracle — a full value hash, not a rows-only check.
register(
    "stream_line_dedup",
    DSTR.q_stream_line_dedup,
    _INCR_LINE_DEDUP_SQL,
)

# -- fuzzy benchmark decontamination (banded MinHash + exact-Jaccard verify) -

_CN_ROWS = D.NUM_HASHES // D.NUM_BANDS

register(
    "contamination_near",
    D.q_contamination_near,
    f"""
    WITH {DUCK_SHINGLES},
    sigs AS (SELECT doc_id, {DUCK_MINHASH_SIG} AS sig FROM sh),
    bands AS (
        SELECT doc_id, b,
               array_to_string(list_transform(
                   sig[b*{_CN_ROWS}+1 : b*{_CN_ROWS}+{_CN_ROWS}],
                   v -> v::VARCHAR), ':') AS band_key
        FROM sigs, unnest(range(0, {D.NUM_BANDS})) t(b)),
    cand AS (
        SELECT DISTINCT c.doc_id, e.doc_id AS eval_id
        FROM bands c JOIN bands e ON c.b = e.b AND c.band_key = e.band_key
        WHERE c.doc_id >= {D.CONTAM_EVAL_MAX_ID}
          AND e.doc_id < {D.CONTAM_EVAL_MAX_ID}),
    ver AS (
        SELECT cand.doc_id, cand.eval_id,
               {_SET_JACCARD_SQL} AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_id
        JOIN sh sb ON sb.doc_id = cand.eval_id),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY jaccard DESC, eval_id ASC) AS rn,
               count(*) OVER (PARTITION BY doc_id) AS n_candidates
        FROM ver),
    best AS (SELECT doc_id, n_candidates, eval_id AS best_eval_id,
                    jaccard AS best_jaccard
             FROM ranked WHERE rn = 1)
    SELECT d.doc_id,
           CAST(coalesce(b.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(b.best_eval_id, -1) AS BIGINT) AS best_eval_id,
           coalesce(b.best_jaccard, 0.0) AS best_jaccard,
           coalesce(b.best_jaccard, 0.0) >= {D.CONTAM_NEAR_THRESHOLD}
               AS contaminated
    FROM (SELECT doc_id FROM documents
          WHERE doc_id >= {D.CONTAM_EVAL_MAX_ID}) d
    LEFT JOIN best b USING (doc_id)
    """,
)

# -- quality-distillation classifier (operators/qualitymodel.py) -------------
# The trainer carries the shared recursive-CTE SGD oracle (_sgd_with),
# parametrized with the text_quality-threshold labels.

_QM_DS_SQL = f"""
      SELECT q.doc_id AS docid,
             CASE WHEN q.quality_score >= {QM.QUALITY_THRESHOLD} THEN 1 ELSE 0
                 END AS is_spam,
             CASE WHEN q.quality_score >= {QM.QUALITY_THRESHOLD} THEN 'keep'
                  ELSE 'drop' END AS label,
             CAST(NULL AS INT) AS src_g,
             {_SGD_FEAT} AS feats
      FROM ({_TEXT_QUALITY_SQL}) q JOIN documents USING (doc_id)
    """

# pred thresholds on the 6dp-ROUNDED score on BOTH engines (the same
# value the row exports), so keep/drop can never flip on a last-ulp
# weight-sum disagreement — mirrors the rounded label threshold.
_QM_SCORES_TAIL = """
    , sgd_scores AS (
      SELECT o.docid, coalesce(sum(w.weight), 0.0) AS score
      FROM sgd_occ o LEFT JOIN sgd_weights_m w USING (feature)
      GROUP BY o.docid
    ),
    q_scored AS (
      SELECT d.docid AS doc_id, d.label,
             round(coalesce(s.score, 0.0), 6) AS score,
             CASE WHEN round(coalesce(s.score, 0.0), 6) > 0 THEN 'keep'
                  ELSE 'drop' END AS pred
      FROM sgd_ds d LEFT JOIN sgd_scores s USING (docid)
    )"""

register(
    "quality_model_weights",
    QM.quality_model_weights,
    _sgd_with([("m", "TRUE", "d.docid")], ds_sql=_QM_DS_SQL)
    + "\n    SELECT feature, round(weight, 6) AS weight FROM sgd_weights_m",
)

register(
    "quality_model_scores",
    QM.quality_model_scores,
    _sgd_with([("m", "TRUE", "d.docid")], ds_sql=_QM_DS_SQL)
    + _QM_SCORES_TAIL
    + "\n    SELECT * FROM q_scored",
)

register(
    "quality_model_report",
    QM.quality_model_report,
    _sgd_with([("m", "TRUE", "d.docid")], ds_sql=_QM_DS_SQL)
    + _QM_SCORES_TAIL
    + f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(CASE WHEN label = 'keep' THEN 1 END), 0)
                AS BIGINT) AS n_keep_label,
           CAST(coalesce(sum(CASE WHEN pred = 'keep' THEN 1 END), 0)
                AS BIGINT) AS n_keep_pred,
           CAST(coalesce(sum(CASE WHEN label = pred THEN 1 END), 0)
                AS BIGINT) AS n_agree,
           {duck_ppm("coalesce(sum(CASE WHEN label = pred THEN 1 END), 0)", "count(*)")}
               AS accuracy_ppm
    FROM q_scored""",
)

# -- HTML extraction (operators/extraction.py) -------------------------------
# decorate_with_html mirrored byte-for-byte.

DUCK_HTML_DECORATED = """
    SELECT doc_id, text AS raw_text,
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
           || '<script>var page=' || CAST(doc_id AS VARCHAR)
           || ';track(page);</script>'
           || '<style>.m{color:#000}</style></head><body>'
           || '<nav class="top">Home | About | Section '
           || CAST(doc_id % 7 AS VARCHAR)
           || '</nav><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
           || text
           || '</p><a href="/doc/' || CAST(doc_id + 1 AS VARCHAR)
           || '">next</a>'
           || '<a href="/doc/' || CAST((doc_id * 31) % 997 AS VARCHAR)
           || '">related</a><footer>(c) example-site '
           || CAST(doc_id % 5 AS VARCHAR)
           || ' - all rights reserved</footer></body></html>' AS html
    FROM documents
"""


def _duck_html_extract(expr: str) -> str:
    for pat, rep in EX.EXTRACT_STAGES:
        expr = f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


register(
    "html_extract",
    EX.html_extract,
    f"""
    WITH d AS ({DUCK_HTML_DECORATED})
    SELECT doc_id,
           regexp_extract(html, '{EX.TITLE_RE}', 1) AS title,
           CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1))
                AS BIGINT) AS n_links,
           {_duck_html_extract("html")} AS clean_text,
           {_duck_html_extract("html")} = trim(regexp_replace(
               'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || raw_text
                      || ' next related', '\\s+', ' ', 'g'))
               AS roundtrip_ok
    FROM d
    """,
)

register(
    "html_link_edges",
    EX.html_link_edges,
    f"""
    WITH d AS ({DUCK_HTML_DECORATED})
    SELECT src, CAST(h AS BIGINT) AS dst
    FROM (SELECT doc_id AS src,
                 unnest(regexp_extract_all(html, 'href="/doc/(\\d+)"', 1)) AS h
          FROM d)
    ORDER BY src, dst
    """,
)

# -- JL random projection (operators/similarity.py rp_*) ---------------------

_RP_PROJ_COLS = ",\n           ".join(
    "round(list_sum(list_transform(range(1, "
    f"{S.RP_IN_DIM + 1}), i -> embedding[i] * "
    f"([{', '.join(str(v) + '.0' for v in row)}])[i])), 6) AS y{j}"
    for j, row in enumerate(S.rp_sign_matrix())
)

DUCK_RP_PROJECTED = f"""
    SELECT vec_id,
           {_RP_PROJ_COLS}
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
          FROM embeddings)
"""

register("rp_projected", S.rp_projected, DUCK_RP_PROJECTED)

_RP_YCOLS = ", ".join(f"y{j}" for j in range(S.RP_DIM))
_RP_DOT = " + ".join(f"p.y{j} * q.y{j}" for j in range(S.RP_DIM))
_RP_NA = " + ".join(f"p.y{j} * p.y{j}" for j in range(S.RP_DIM))
_RP_NB = " + ".join(f"q.y{j} * q.y{j}" for j in range(S.RP_DIM))

register(
    "rp_recall_topk",
    S.rp_recall_topk,
    f"""
    WITH proj AS ({DUCK_RP_PROJECTED}),
    q AS (SELECT {_RP_YCOLS} FROM proj WHERE vec_id = {S.QUERY_VEC_ID}),
    rp_short AS (
        SELECT p.vec_id,
               round(({_RP_DOT}) / (sqrt({_RP_NA}) * sqrt({_RP_NB})), 6)
                   AS cos_rp
        FROM proj p, q
        ORDER BY cos_rp DESC, p.vec_id ASC LIMIT {S.RP_SHORTLIST}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
          FROM embeddings),
    qe AS (SELECT embedding AS qv FROM e WHERE vec_id = {S.QUERY_VEC_ID}),
    exact_top AS (
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding, qe.qv), 6) AS c
        FROM e, qe
        ORDER BY c DESC, e.vec_id ASC LIMIT {S.TOP_K})
    SELECT CAST({S.TOP_K} AS INT) AS k,
           CAST({S.RP_SHORTLIST} AS INT) AS shortlist,
           CAST(count(*) AS BIGINT) AS n_overlap,
           {duck_floor_round(f"count(*) / {S.TOP_K}")} AS recall
    FROM rp_short JOIN exact_top USING (vec_id)
    """,
)

# -- pack_manifest (the attention-mask / lineage manifest of sequence_pack) --

_PACK_OK = DUCK_H8.format(x=f"(CAST(doc_id AS VARCHAR) || '{TS.PACK_SALT}')")

register(
    "pack_manifest",
    TS.pack_manifest,
    f"""
    WITH tq AS ({_TEXT_QUALITY_SQL}),
    o AS (SELECT doc_id, n_tokens, {_PACK_OK} AS ok FROM tq),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY ok, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM o),
    nz AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS gstart
           FROM c WHERE n_tokens > 0),
    spans AS (
        SELECT seq_id, doc_id,
               greatest(gstart - seq_id * {TS.SEQ_LEN}, 0) AS start,
               least(gstart + n_tokens - 1, (seq_id + 1) * {TS.SEQ_LEN} - 1)
                   - seq_id * {TS.SEQ_LEN} AS "end"
        FROM (SELECT *, unnest(range(CAST(gstart // {TS.SEQ_LEN} AS BIGINT),
                                     CAST((cum - 1) // {TS.SEQ_LEN} + 1
                                          AS BIGINT))) AS seq_id
              FROM nz))
    SELECT seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum("end" - start + 1) AS BIGINT) AS seq_tokens,
           array_to_string(
               list(CAST(doc_id AS VARCHAR) || ':' || CAST(start AS VARCHAR)
                    || ':' || CAST("end" AS VARCHAR)
                    ORDER BY start, doc_id), ';') AS doc_spans
    FROM spans GROUP BY seq_id
    """,
)

# -- k-anonymity audit (operators/table_ops.py) ------------------------------
# dominant type: max count, ties to the lexicographically LAST type —
# the (count, event_type) struct order the Spark max_by uses.

_KANON_ARMS = "\n    UNION ALL ".join(
    f"""SELECT CAST({k} AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_cohorts,
           CAST(coalesce(sum(CASE WHEN c < {k} THEN 1 END), 0) AS BIGINT)
               AS n_small_cohorts,
           CAST(coalesce(sum(CASE WHEN c < {k} THEN c END), 0) AS BIGINT)
               AS n_users_at_risk,
           {duck_ppm(f"coalesce(sum(CASE WHEN c < {k} THEN c END), 0)", "sum(c)")}
               AS risk_ppm
    FROM cohorts"""
    for k in TO.K_ANON_THRESHOLDS
)

register(
    "k_anonymity_report",
    TO.k_anonymity_report,
    f"""
    WITH tc AS (
        SELECT user_id, event_type, count(*) AS c
        FROM events GROUP BY user_id, event_type),
    dom AS (
        SELECT user_id, event_type AS dom FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY c DESC, event_type DESC) AS rn
            FROM tc)
        WHERE rn = 1),
    fd AS (
        SELECT user_id, strftime(min(ts), '%Y-%m-%d') AS first_day
        FROM events GROUP BY user_id),
    cohorts AS (
        SELECT first_day || ':' || dom AS qi, count(*) AS c
        FROM fd JOIN dom USING (user_id)
        GROUP BY 1)
    {_KANON_ARMS}
    """,
)

# -- corpus_curate_v2 (flagship pipeline + gopher, PII and line-dedup stages)

_V2_GATE = " AND ".join(f"gof.{r}" for r in CU.CURATE_GOPHER_RULES)
_V2_GOF_COLS = ", ".join(CU.CURATE_GOPHER_RULES)

register(
    "corpus_curate_v2",
    CU.corpus_curate_v2,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_SPAN_TAIL_CTES},
    {DUCK_NEAR_DUP_CTES},{DUCK_CURATE_GATE_CTES},
    gof AS (SELECT doc_id, {_V2_GOF_COLS} FROM ({DUCK_GOPHER_FLAGS})),
    piir AS (
        SELECT doc_id,
               CAST({" + ".join(_PII_STAGED_COUNTS)} AS BIGINT) AS n_redactions
        FROM ({DUCK_PII_DECORATED}) dec),
    {DUCK_LINE_CTES.lstrip()},
    ldg AS (SELECT line, min(doc_id * {LD.POS_ENC} + line_no) AS first_pos
            FROM lines GROUP BY line),
    ldk AS (SELECT l.doc_id, CAST(count(*) AS BIGINT) AS kept_lines
            FROM lines l JOIN ldg USING (line)
            WHERE l.doc_id * {LD.POS_ENC} + l.line_no = ldg.first_pos
            GROUP BY l.doc_id),
    ldt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
            FROM lines GROUP BY doc_id),
    ld AS (
        SELECT d.doc_id,
               CAST(coalesce(t.n_lines, 0) - coalesce(k.kept_lines, 0)
                    AS BIGINT) AS dup_lines
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN ldt t USING (doc_id)
        LEFT JOIN ldk k USING (doc_id)),
    kept AS (
        SELECT r.doc_id, r.cluster_id, r.cluster_size, s.split,
               sp.n_tokens, sp.dup_tokens,
               sp.n_tokens - sp.dup_tokens AS kept_tokens,
               tq.quality_score,
               CAST(coalesce(piir.n_redactions, 0) AS BIGINT) AS n_redactions,
               ld.dup_lines
        FROM reps r
        JOIN ex USING (doc_id)
        JOIN splits s USING (doc_id)
        JOIN sp USING (doc_id)
        JOIN tq USING (doc_id)
        JOIN gof USING (doc_id)
        LEFT JOIN piir USING (doc_id)
        JOIN ld USING (doc_id)
        WHERE tq.quality_score >= {CU.CURATE_MIN_QUALITY}
          AND sp.dup_tokens * {CU.CURATE_MAX_DUP_DEN} <= sp.n_tokens
          AND {_V2_GATE}),
    packed AS (
        SELECT *, sum(kept_tokens) OVER (
                   ORDER BY quality_score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_kept_tokens
        FROM kept)
    SELECT doc_id, cluster_id, cluster_size, split, n_tokens, dup_tokens,
           CAST(kept_tokens AS BIGINT) AS kept_tokens, quality_score,
           n_redactions, dup_lines,
           CAST(cum_kept_tokens AS BIGINT) AS cum_kept_tokens
    FROM packed WHERE cum_kept_tokens <= {CU.CURATE_TOKEN_BUDGET}
    """,
)

# --- audit cards and reports -------------------------------------------------
# Each family's test file imports these single-sourced oracle strings
# (the DSIR/PII discipline).

from ..operators import ccnet as CN  # noqa: E402

# -- CCNet perplexity terciles (operators/ccnet.py) --------------------------

_CCNET_NAMES = ", ".join(f"'{n}'" for n in CN.CCNET_BUCKET_NAMES)

_CCNET_BUCKETS_SQL = f"""
    WITH {DUCK_BIGRAM_LM_CTES},
    withlang AS (
        SELECT s.doc_id, d.lang, s.n_bigrams, s.avg_nll
        FROM lm_scored s JOIN documents d USING (doc_id)),
    rn AS (
        SELECT *, row_number() OVER (ORDER BY lang, avg_nll, doc_id) AS grn
        FROM withlang),
    pl AS (SELECT lang, min(grn) AS first_rn, count(*) AS n_lang
           FROM rn GROUP BY lang)
    SELECT rn.doc_id, rn.lang, rn.n_bigrams, rn.avg_nll,
           ([{_CCNET_NAMES}])[CAST(((grn - first_rn) * {CN.CCNET_N_BUCKETS})
                            // n_lang AS INT) + 1] AS bucket
    FROM rn JOIN pl USING (lang)
    """

register("ccnet_perplexity_buckets", CN.ccnet_perplexity_buckets, _CCNET_BUCKETS_SQL)

register(
    "ccnet_bucket_stats",
    CN.ccnet_bucket_stats,
    f"""
    WITH b AS ({_CCNET_BUCKETS_SQL})
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(avg_nll) AS min_nll,
           max(avg_nll) AS max_nll,
           CAST((sum(CAST(floor(avg_nll * 1000000 + 0.5) AS BIGINT))
                 + count(*) // 2) // count(*) AS BIGINT) AS mean_nll_micro
    FROM b GROUP BY lang, bucket
    """,
)

# -- temperature-mixed source plan (operators/sampling.py) -------------------

register(
    "source_mixture_plan",
    SA.source_mixture_plan,
    f"""
    WITH tq AS ({_TEXT_QUALITY_SQL}),
    per_src AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(tq.n_tokens), 0) AS BIGINT) AS total_tokens
        FROM documents d JOIN tq USING (doc_id)
        GROUP BY d.source),
    w AS (
        SELECT *,
               CASE WHEN total_tokens > 0
                    THEN CAST(floor(pow(total_tokens, {SA.MIX_ALPHA}) * 1000000
                                    + 0.5) AS BIGINT)
                    ELSE 0 END AS wi
        FROM per_src),
    tot AS (SELECT sum(total_tokens) AS grand, sum(wi) AS s FROM w),
    shares AS (
        SELECT w.source, w.n_docs, w.total_tokens,
               CASE WHEN w.total_tokens > 0
                    THEN {duck_floor_round(
                             "CAST(w.total_tokens AS DOUBLE)"
                             " / CAST(tot.grand AS DOUBLE)"
                         )}
                    ELSE 0.0 END AS p_raw,
               CASE WHEN w.total_tokens > 0
                    THEN {duck_floor_round(
                             "CAST(w.wi AS DOUBLE) / CAST(tot.s AS DOUBLE)"
                         )}
                    ELSE 0.0 END AS p_temp
        FROM w, tot)
    SELECT source, n_docs, total_tokens, p_raw, p_temp,
           CAST(floor(p_temp * {SA.MIX_TRAIN_BUDGET} + 0.5) AS BIGINT)
               AS draw_tokens,
           CASE WHEN total_tokens > 0
                THEN CAST((CAST(floor(p_temp * {SA.MIX_TRAIN_BUDGET} + 0.5)
                                AS BIGINT) * 1000000 + total_tokens // 2)
                          // total_tokens AS BIGINT)
                ELSE 0 END AS epochs_micro
    FROM shares
    """,
)

# -- split-balance stratum QA (operators/sampling.py) ------------------------
# deviation_ppm divides diff*1000 by the MILLI-doc expectation
# (expected_micro // 1e3): int64-safe to ~9.2e9-doc strata, without the
# whole-doc flooring that inflates deviation for strata expecting < ~2 docs.

_SPLIT_PCT = (
    f"(CASE p.split WHEN 'train' THEN {SA.TRAIN_PCT}"
    f" WHEN 'val' THEN {SA.VAL_PCT}"
    f" ELSE {100 - SA.TRAIN_PCT - SA.VAL_PCT} END)"
)

register(
    "split_balance_report",
    SA.split_balance_report,
    f"""
    WITH s AS (
        SELECT doc_id, lang,
               {_duck_split("doc_id", SA.SPLIT_SALT)} AS split
        FROM documents),
    per AS (SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
            FROM s GROUP BY split, lang),
    lt AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs
           FROM s GROUP BY lang),
    spine AS (
        SELECT sp.split, lt.lang, lt.lang_docs,
               CAST(coalesce(per.n_docs, 0) AS BIGINT) AS n_docs
        FROM (SELECT unnest(['train', 'val', 'test']) AS split) sp
        CROSS JOIN lt
        LEFT JOIN per ON per.split = sp.split AND per.lang = lt.lang)
    SELECT p.split, p.lang, p.n_docs,
           CAST(lt.lang_docs * {_SPLIT_PCT} * 10000 AS BIGINT)
               AS expected_micro,
           CAST(abs(p.n_docs * 1000000 - lt.lang_docs * {_SPLIT_PCT} * 10000)
                * 1000
                // greatest(lt.lang_docs * {_SPLIT_PCT} * 10000 // 1000, 1)
                AS BIGINT) AS deviation_ppm
    FROM spine p, lt WHERE lt.lang = p.lang
    """,
)

# -- crawl-link graph cards (operators/extraction.py) ------------------------

_LINK_DEG_CTES = f"""
    d AS ({DUCK_HTML_DECORATED}),
    edges AS (
        SELECT doc_id AS src, CAST(h AS BIGINT) AS dst
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(html, 'href="/doc/(\\d+)"', 1))
                         AS h
              FROM d)),
    deg AS (SELECT dst, CAST(count(*) AS BIGINT) AS in_degree
            FROM edges GROUP BY dst)
"""

register(
    "link_indegree_hist",
    EX.link_indegree_hist,
    f"""
    WITH {_LINK_DEG_CTES}
    SELECT in_degree,
           CAST(count(*) AS BIGINT) AS n_pages,
           min(dst) AS min_page,
           max(dst) AS max_page
    FROM deg GROUP BY in_degree
    """,
)

register(
    "crawl_frontier",
    EX.crawl_frontier,
    f"""
    WITH {_LINK_DEG_CTES},
    fr AS (SELECT * FROM deg
           WHERE dst NOT IN (SELECT doc_id FROM documents)
           ORDER BY in_degree DESC, dst ASC LIMIT {EX.FRONTIER_K})
    SELECT CAST(row_number() OVER (ORDER BY in_degree DESC, dst ASC)
                AS INT) AS rank,
           dst AS page, in_degree
    FROM fr
    """,
)

# -- PQ quantization distortion card (operators/similarity.py) ---------------

register(
    "pq_distortion_stats",
    S.pq_distortion_stats,
    f"""
    WITH {_PQ_COMMON},
    mind AS (
        SELECT vec_id, j, min(dist) AS dmin FROM d GROUP BY vec_id, j),
    micro AS (
        SELECT CAST(j AS INT) AS subspace,
               CAST(floor(dmin * 1000000 + 0.5) AS BIGINT) AS mc
        FROM mind)
    SELECT subspace,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST((sum(mc) + count(*) // 2) // count(*) AS BIGINT)
               AS mean_sqdist_micro,
           CAST(max(mc) AS BIGINT) AS max_sqdist_micro
    FROM micro GROUP BY subspace
    """,
)

# -- position-level contamination spans (operators/spans.py) -----------------

register(
    "contamination_spans",
    SP.contamination_spans,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    {DUCK_SPAN_GRAM_CTES.lstrip()},
    ev AS (SELECT DISTINCT gram FROM grams
           WHERE doc_id < {D.CONTAM_EVAL_MAX_ID}),
    hits AS (SELECT g.doc_id, g.n_tokens, g.pos
             FROM grams g JOIN ev USING (gram)
             WHERE g.doc_id >= {D.CONTAM_EVAL_MAX_ID}),
    {DUCK_SPAN_MERGE_CTES.lstrip()},
    cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(span_len) AS BIGINT) AS contam_tokens
            FROM spans GROUP BY doc_id),
    spine AS (SELECT doc_id,
                     CAST(len({DUCK_TOKS}) AS BIGINT) AS n_tokens
              FROM documents WHERE doc_id >= {D.CONTAM_EVAL_MAX_ID})
    SELECT s.doc_id, s.n_tokens,
           CAST(coalesce(c.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(c.contam_tokens, 0) AS BIGINT) AS contam_tokens,
           {duck_ppm("coalesce(c.contam_tokens, 0)", "s.n_tokens")} AS contam_ppm
    FROM spine s LEFT JOIN cov c USING (doc_id)
    """,
)

# -- content-defined-chunking dedup card (operators/dedup.py) ----------------

_CDC_H = DUCK_H8.format(x="toks[i]")

register(
    "cdc_chunk_stats",
    D.cdc_chunk_stats,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    nz AS (SELECT * FROM toks WHERE len(toks) > 0),
    b AS (SELECT doc_id, toks,
                 list_filter(range(1, len(toks) + 1),
                             i -> ({_CDC_H}) % {D.CDC_MOD} = 0) AS bpos
          FROM nz),
    segs AS (SELECT doc_id, toks,
                    list_concat([1], list_transform(bpos, p -> p + 1))
                        AS starts,
                    list_concat(bpos, [len(toks)]) AS ends
             FROM b),
    chunks AS (
        SELECT doc_id,
               array_to_string(toks[starts[k]:ends[k]], ' ') AS chunk,
               ends[k] - starts[k] + 1 AS chunk_len
        FROM segs, unnest(range(1, len(starts) + 1)) t(k)
        WHERE ends[k] >= starts[k]),
    g AS (SELECT chunk, count(*) AS n_occ, max(chunk_len) AS chunk_len
          FROM chunks GROUP BY chunk),
    tot AS (
        SELECT CAST(coalesce(sum(n_occ), 0) AS BIGINT) AS n_chunks,
               CAST(count(*) AS BIGINT) AS n_distinct_chunks,
               CAST(coalesce(sum(CASE WHEN n_occ > 1 THEN n_occ END), 0)
                    AS BIGINT) AS dup_occurrences,
               CAST(coalesce(sum(n_occ - 1), 0) AS BIGINT)
                   AS removed_occurrences,
               CAST(coalesce(sum(n_occ * chunk_len), 0) AS BIGINT) AS sum_len
        FROM g)
    SELECT n_chunks, n_distinct_chunks, dup_occurrences, removed_occurrences,
           {duck_ppm("removed_occurrences", "n_chunks")} AS dup_chunk_ppm,
           {duck_ppm("sum_len", "n_chunks")} AS mean_chunk_len_micro
    FROM tot
    """,
)

# -- per-stage curation funnel (operators/curate.py) -------------------------

def _funnel_arms() -> str:
    stage_rows = []
    for i, name in enumerate(CU.CURATE_FUNNEL_STAGES):
        drop = "CAST(0 AS BIGINT)" if i == 0 else f"CAST(d{i-1} - d{i} AS BIGINT)"
        stage_rows.append(
            f"SELECT CAST({i} AS INT) AS stage_no, '{name}' AS stage, "
            f"d{i} AS n_docs, t{i} AS n_tokens, {drop} AS dropped_docs "
            "FROM agg"
        )
    return "\n    UNION ALL ".join(stage_rows)


register(
    "curation_funnel",
    CU.curation_funnel,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_SPAN_TAIL_CTES},
    {DUCK_NEAR_DUP_CTES},
    {_CURATE_CHARS},
    reps AS (
        SELECT doc_id FROM (
            SELECT cl.doc_id,
                   row_number() OVER (PARTITION BY cl.cluster_id
                       ORDER BY chars.n_chars DESC, cl.doc_id ASC) AS rn
            FROM cl JOIN chars USING (doc_id))
        WHERE rn = 1),
    {_CURATE_EX},
    {_CURATE_SP_TQ},
    kept AS (
        SELECT r.doc_id, sp.n_tokens - sp.dup_tokens AS kept_tokens,
               tq.quality_score
        FROM reps r
        JOIN ex USING (doc_id)
        JOIN sp USING (doc_id)
        JOIN tq USING (doc_id)
        WHERE tq.quality_score >= {CU.CURATE_MIN_QUALITY}
          AND sp.dup_tokens * {CU.CURATE_MAX_DUP_DEN} <= sp.n_tokens),
    packed AS (
        SELECT doc_id FROM (
            SELECT doc_id, sum(kept_tokens) OVER (
                       ORDER BY quality_score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM kept)
        WHERE cum <= {CU.CURATE_TOKEN_BUDGET}),
    f AS (
        SELECT d.doc_id, sp.n_tokens,
               ex.doc_id IS NOT NULL AS f1,
               ex.doc_id IS NOT NULL AND rp.doc_id IS NOT NULL AS f2,
               ex.doc_id IS NOT NULL AND rp.doc_id IS NOT NULL
                   AND tq.quality_score >= {CU.CURATE_MIN_QUALITY} AS f3,
               ex.doc_id IS NOT NULL AND rp.doc_id IS NOT NULL
                   AND tq.quality_score >= {CU.CURATE_MIN_QUALITY}
                   AND sp.dup_tokens * {CU.CURATE_MAX_DUP_DEN} <= sp.n_tokens
                   AS f4,
               pk.doc_id IS NOT NULL AS f5
        FROM (SELECT doc_id FROM documents) d
        JOIN sp USING (doc_id)
        JOIN tq USING (doc_id)
        LEFT JOIN ex ON ex.doc_id = d.doc_id
        LEFT JOIN reps rp ON rp.doc_id = d.doc_id
        LEFT JOIN packed pk ON pk.doc_id = d.doc_id),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS d0,
               CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS t0,
               CAST(coalesce(sum(CASE WHEN f1 THEN 1 END), 0) AS BIGINT) AS d1,
               CAST(coalesce(sum(CASE WHEN f1 THEN n_tokens END), 0)
                    AS BIGINT) AS t1,
               CAST(coalesce(sum(CASE WHEN f2 THEN 1 END), 0) AS BIGINT) AS d2,
               CAST(coalesce(sum(CASE WHEN f2 THEN n_tokens END), 0)
                    AS BIGINT) AS t2,
               CAST(coalesce(sum(CASE WHEN f3 THEN 1 END), 0) AS BIGINT) AS d3,
               CAST(coalesce(sum(CASE WHEN f3 THEN n_tokens END), 0)
                    AS BIGINT) AS t3,
               CAST(coalesce(sum(CASE WHEN f4 THEN 1 END), 0) AS BIGINT) AS d4,
               CAST(coalesce(sum(CASE WHEN f4 THEN n_tokens END), 0)
                    AS BIGINT) AS t4,
               CAST(coalesce(sum(CASE WHEN f5 THEN 1 END), 0) AS BIGINT) AS d5,
               CAST(coalesce(sum(CASE WHEN f5 THEN n_tokens END), 0)
                    AS BIGINT) AS t5
        FROM f)
    {_funnel_arms()}
    """,
)

# -- container-invariant media dedup (operators/multimodal.py) ---------------
# The decoration's payload is repeat(md5(text), doc_id % 4 + 1) unhexed;
# Spark's hex() renders uppercase, so the oracle normalizes the same way.

register(
    "media_content_dedup",
    MM.media_content_dedup,
    """
    WITH keyed AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               md5(upper(CASE WHEN doc_id % 3 = 2
                              THEN translate(repeat(md5(text),
                                   CAST(doc_id % 4 + 1 AS INT)), 'f', 'e')
                              ELSE repeat(md5(text),
                                   CAST(doc_id % 4 + 1 AS INT)) END))
                   AS dig
        FROM documents),
    canon AS (
        SELECT dig, min(doc_id) AS content_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM keyed GROUP BY dig)
    SELECT k.doc_id, k.media_type, c.content_id, c.n_copies,
           k.doc_id != c.content_id AS is_duplicate
    FROM keyed k JOIN canon c USING (dig)
    """,
)

# -- cross-method near-dup agreement matrix (operators/dedup.py) -------------

register(
    "near_dup_method_audit",
    D.near_dup_method_audit,
    f"""
    WITH {DUCK_MINHASH_PAIR_CTES},
    mh AS (SELECT doc_a, doc_b FROM pairs
           WHERE jaccard >= {D.JACCARD_THRESHOLD}),
    ng_ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
    ng AS (
        SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS na, b.n_sh AS nb, count(*) AS c
            FROM ng_ex a JOIN ng_ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4)
        WHERE {duck_floor_round("c / (na + nb - c)")} >= 0.5),
    tf AS (SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
           GROUP BY doc_id, tok),
    hh AS (SELECT doc_id, tf, {DUCK_H8.format(x='tok')} AS h FROM tf),
    votes AS (
        SELECT doc_id, j, sum(tf * (((h >> j) & 1) * 2 - 1)) AS v
        FROM hh, unnest(range(0, {D.SIMHASH_BITS})) t(j)
        GROUP BY doc_id, j),
    fps AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id),
    sh_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fps a JOIN fps b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash))
              <= {D.HAMMING_THRESHOLD}),
    ed AS (
        SELECT doc_a, doc_b FROM cand
        JOIN documents da ON da.doc_id = doc_a
        JOIN documents db ON db.doc_id = doc_b
        WHERE {_EDIT_SIM_SQL} >= {D.EDIT_SIM_MIN}),
    tagged AS (
        SELECT 'minhash' AS m, doc_a, doc_b FROM mh
        UNION ALL SELECT 'ngram', doc_a, doc_b FROM ng
        UNION ALL SELECT 'simhash', doc_a, doc_b FROM sh_pairs
        UNION ALL SELECT 'editdist', doc_a, doc_b FROM ed),
    methods AS (SELECT unnest(['editdist', 'minhash', 'ngram',
                               'simhash']) AS m),
    counted AS (SELECT m, CAST(count(*) AS BIGINT) AS n_obs
                FROM tagged GROUP BY m),
    sizes AS (SELECT methods.m, CAST(coalesce(n_obs, 0) AS BIGINT) AS n
              FROM methods LEFT JOIN counted USING (m)),
    inter AS (
        SELECT x.m AS ma, y.m AS mb, CAST(count(*) AS BIGINT) AS n_both
        FROM tagged x JOIN tagged y
          ON x.doc_a = y.doc_a AND x.doc_b = y.doc_b
        WHERE x.m <= y.m GROUP BY 1, 2),
    grid AS (
        SELECT a.m AS ma, a.n AS n_a, b.m AS mb, b.n AS n_b
        FROM sizes a, sizes b WHERE a.m <= b.m)
    SELECT ma AS method_a, mb AS method_b, n_a, n_b,
           CAST(coalesce(i.n_both, 0) AS BIGINT) AS n_both,
           {duck_ppm("coalesce(i.n_both, 0)", "n_a + n_b - coalesce(i.n_both, 0)")}
               AS pair_jaccard_ppm
    FROM grid LEFT JOIN inter i USING (ma, mb)
    """,
)

# -- old-vs-new-batch token drift card (operators/dsir.py) -------------------

register(
    "token_drift_report",
    DS.token_drift_report,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    words AS (SELECT doc_id, unnest(toks) AS word FROM toks),
    b AS (SELECT CASE WHEN doc_id {_NEW} THEN 1 ELSE 0 END AS side,
                 {DUCK_H8.format(x='word')} % {DS.DSIR_BUCKETS} AS bucket
          FROM words),
    c AS (SELECT side, bucket, count(*) AS n FROM b GROUP BY side, bucket),
    tot AS (SELECT
                CAST(coalesce(sum(CASE WHEN side = 0 THEN n END), 0)
                     AS BIGINT) AS n_old,
                CAST(coalesce(sum(CASE WHEN side = 1 THEN n END), 0)
                     AS BIGINT) AS n_new
            FROM c),
    pq_tbl AS (
        SELECT g.bucket,
               coalesce(o.n, 0) / CAST(tot.n_old AS DOUBLE) AS p,
               coalesce(w.n, 0) / CAST(tot.n_new AS DOUBLE) AS q
        FROM (SELECT unnest(range(0, {DS.DSIR_BUCKETS})) AS bucket) g
        LEFT JOIN (SELECT bucket, n FROM c WHERE side = 0) o USING (bucket)
        LEFT JOIN (SELECT bucket, n FROM c WHERE side = 1) w USING (bucket),
        tot
        WHERE tot.n_old > 0 AND tot.n_new > 0
          AND (coalesce(o.n, 0) > 0 OR coalesce(w.n, 0) > 0)),
    terms AS (
        SELECT CAST(floor(abs(p - q) * 1000000 + 0.5) AS BIGINT) AS d,
               CAST(floor(abs(p - q) * 0.5 * 1000000 + 0.5) AS BIGINT)
                   AS tvd_t,
               CAST(floor((CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p+q)/2))
                                ELSE 0 END
                           + CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p+q)/2))
                                  ELSE 0 END) * 1000000 + 0.5) AS BIGINT)
                   AS js_t
        FROM pq_tbl)
    SELECT tot.n_old AS n_old_tokens, tot.n_new AS n_new_tokens,
           CAST(coalesce((SELECT sum(tvd_t) FROM terms), 0) AS BIGINT)
               AS tvd_micro,
           CAST(coalesce((SELECT sum(js_t) FROM terms), 0) AS BIGINT)
               AS js_micro,
           CAST(coalesce((SELECT sum(CASE WHEN d >= {DS.DRIFT_BUCKET_PPM}
                                          THEN 1 END) FROM terms), 0)
                AS BIGINT) AS n_shifted_buckets
    FROM tot
    """,
)

# -- per-type daily z-score anomaly scan (operators/analytics.py) ------------

register(
    "events_anomaly_days",
    AN.events_anomaly_days,
    f"""
    WITH daily AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type, day),
    st AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS d,
               CAST(sum(n_events) AS BIGINT) AS s,
               CAST(sum(n_events * n_events) AS BIGINT) AS ss
        FROM daily GROUP BY event_type),
    z AS (
        SELECT daily.event_type, daily.day, daily.n_events,
               CASE WHEN st.d > 1
                         AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / d)
                             / (d - 1) > 0
                    THEN round((daily.n_events - CAST(s AS DOUBLE) / d)
                               / sqrt((CAST(ss AS DOUBLE)
                                       - CAST(s AS DOUBLE) * s / d)
                                      / (d - 1)), 6)
                    ELSE 0.0 END AS z_score
        FROM daily JOIN st USING (event_type))
    SELECT event_type, day, n_events, z_score,
           abs(z_score) >= {AN.ANOMALY_Z} AS is_anomaly
    FROM z
    """,
)

# -- BPE tokenizer apply + fertility card (operators/bpe.py) -----------------
# ITERATIVE callable (runs the trainer loop), the bpe_merges exclusion
# rationale in plan hygiene; value evidence in tests/test_bpe_encode.py.

register(
    "bpe_encode_stats",
    BP.bpe_encode_stats,
    _bpe_with(BP.N_MERGES)
    + f""",
    doc_words AS (
        SELECT doc_id, unnest({DUCK_TOKS}) AS word FROM documents),
    enc AS (
        SELECT dw.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(len(v.syms)) AS BIGINT) AS n_subwords,
               CAST(sum(len(v.word)) AS BIGINT) AS n_chars
        FROM doc_words dw JOIN bpe_w{BP.N_MERGES} v USING (word)
        GROUP BY dw.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(e.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(e.n_subwords, 0) AS BIGINT) AS n_subwords,
           CAST(coalesce(e.n_chars, 0) AS BIGINT) AS n_chars,
           {duck_ppm("coalesce(e.n_subwords, 0)", "coalesce(e.n_words, 0)")}
               AS fertility_micro,
           {duck_ppm("coalesce(e.n_chars, 0)", "coalesce(e.n_subwords, 0)")}
               AS chars_per_subword_micro
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN enc e USING (doc_id)
    """,
)

# -- exact-vs-scoped embedding near-dup recall card (operators/similarity.py)
# The audit card pinning what the centroid-scoped registered default
# (embedding_near_duplicates) misses vs the exact block grid at the SAME
# registered threshold. The exact O(n²) leg runs ONLY here (and on a
# sampled slice at production scale — the card's docstring prices it).

register(
    "embedding_dedup_recall",
    lambda spark, sf: S.embedding_dedup_recall(spark, sf),
    f"""
    WITH e AS ({DUCK_EMB}),{_EMB_SCOPE_CTES},
    ex AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                  round(list_cosine_similarity(a.v, b.v), 6) AS cosine
           FROM e a JOIN e b ON a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 6)
                 >= {S.RECALL_AUDIT_THRESHOLD}),
    sc AS (SELECT ex.vec_a, ex.vec_b FROM ex
           JOIN best ba ON ba.vec_id = ex.vec_a
           JOIN best bb ON bb.vec_id = ex.vec_b
           WHERE ba.centroid_id = bb.centroid_id),
    mis AS (SELECT ex.cosine FROM ex
            LEFT JOIN sc ON sc.vec_a = ex.vec_a AND sc.vec_b = ex.vec_b
            WHERE sc.vec_a IS NULL),
    tot AS (SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact_pairs,
                   CAST((SELECT count(*) FROM sc) AS BIGINT) AS n_scoped_pairs,
                   CAST((SELECT count(*) FROM mis) AS BIGINT) AS missed_pairs,
                   round(coalesce((SELECT max(cosine) FROM mis), 0.0), 6)
                       AS max_missed_cosine)
    SELECT n_exact_pairs, n_scoped_pairs, missed_pairs,
           {duck_ppm("n_scoped_pairs", "n_exact_pairs")} AS recall_ppm,
           max_missed_cosine
    FROM tot
    """,
)

# -- PageRank over the harvested crawl-link graph (operators/extraction.py) --
# ITERATIVE callable (the pagerank_over_edges loop); the oracle is the
# same _uniform_pr_ctes unrolling as _pagerank_topk_sql, over
# html_link_edges' crawled ∪ frontier node set.


def _crawl_pr_sql() -> str:
    ctes = [
        f"d AS MATERIALIZED ({DUCK_HTML_DECORATED})",
        "edges AS MATERIALIZED (SELECT doc_id AS src, CAST(h AS BIGINT)"
        " AS dst FROM (SELECT doc_id,"
        " unnest(regexp_extract_all(html, 'href=\"/doc/(\\d+)\"', 1)) AS h"
        " FROM d))",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM"
        " (SELECT doc_id AS id FROM documents"
        "  UNION ALL SELECT dst FROM edges))",
        "n AS MATERIALIZED (SELECT count(*) AS c FROM nodes)",
        *_uniform_pr_ctes(EX.CRAWL_PR_ITERATIONS, G.ALPHA),
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT node_id, mass, is_crawled FROM (
        SELECT r.id AS node_id, round(r.m, 6) AS mass,
               (dd.doc_id IS NOT NULL) AS is_crawled,
               row_number() OVER (ORDER BY round(r.m, 6) DESC, r.id) AS rn
        FROM r{EX.CRAWL_PR_ITERATIONS} r
        LEFT JOIN documents dd ON dd.doc_id = r.id)
    WHERE rn <= {EX.CRAWL_PR_TOP_K}"""
    )


register("crawl_pagerank", EX.crawl_pagerank_topk, _crawl_pr_sql())

# -- predicted-vs-labeled language confusion matrix (operators/textstats.py) -

register(
    "langid_confusion",
    TS.langid_confusion,
    f"""
    WITH toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents),
    scored AS (SELECT doc_id, {_SCORES_SQL} FROM toks),
    best AS (SELECT *, {_BEST_SQL} AS best FROM scored),
    pred AS (SELECT doc_id, {_PRED_SQL} AS lang_pred FROM best),
    cells AS (SELECT d.lang AS lang_true, p.lang_pred,
                     CAST(count(*) AS BIGINT) AS n_docs
              FROM documents d JOIN pred p USING (doc_id) GROUP BY 1, 2),
    tot AS (SELECT lang AS lang_true, CAST(count(*) AS BIGINT) AS row_total
            FROM documents GROUP BY 1)
    SELECT c.lang_true, c.lang_pred, c.n_docs,
           {duck_ppm("c.n_docs", "t.row_total")} AS row_ppm
    FROM cells c JOIN tot t USING (lang_true)
    """,
)

# -- near-dup cluster size distribution (operators/dedup.py) -----------------
# Served warm from the standing clusters_full asset; the oracle replays
# the recursive-CTE CC closure.

register(
    "dedup_cluster_hist",
    D.dedup_cluster_hist,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_NEAR_DUP_CTES},
    sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
              FROM cl GROUP BY cluster_id)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
)

# -- next-generation cluster-map commit (operators/dedup.py) -----------------
# ITERATIVE (CC over the new-new remainder); the commit step of the
# standing-index lifecycle: old clusters + incremental assignments +
# fresh new-new clusters in one partition of the corpus.

register(
    "dedup_index_commit",
    D.dedup_index_commit,
    f"""
    WITH RECURSIVE {DUCK_MINHASH_PAIR_CTES},{DUCK_OLD_NEAR_DUP_CTES},
    nn AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE jaccard >= {D.JACCARD_THRESHOLD}
          AND doc_a {_NEW} AND doc_b {_NEW}
          AND doc_a NOT IN (SELECT new_id FROM best)
          AND doc_b NOT IN (SELECT new_id FROM best)),
    nedges AS (SELECT doc_a AS src, doc_b AS dst FROM nn
               UNION ALL SELECT doc_b, doc_a FROM nn),
    nreach AS (
        SELECT doc_id AS src, doc_id AS dst FROM documents
        WHERE doc_id {_NEW}
          AND doc_id NOT IN (SELECT new_id FROM best)
        UNION
        SELECT r.src, e.dst FROM nreach r JOIN nedges e ON r.dst = e.src),
    ncl AS (SELECT src AS doc_id, min(dst) AS cluster_id
            FROM nreach GROUP BY src)
    SELECT doc_id, cluster_id, 'old' AS origin FROM oldcl
    UNION ALL
    SELECT b.new_id AS doc_id, c.cluster_id, 'assigned' AS origin
    FROM best b JOIN oldcl c ON c.doc_id = b.old_id
    UNION ALL
    SELECT doc_id, cluster_id, 'new' AS origin FROM ncl
    """,
)

# -- capped-vocabulary BPE coverage card (operators/bpe.py) ------------------
# ITERATIVE (runs the BPE trainer loop; bpe_merges exclusion rationale).

register(
    "bpe_vocab_coverage",
    BP.bpe_vocab_coverage,
    _bpe_with(BP.N_MERGES)
    + f""",
    tok AS (SELECT s AS token, CAST(sum(cnt) AS BIGINT) AS n
            FROM (SELECT cnt, unnest(syms) AS s FROM bpe_w{BP.N_MERGES})
            GROUP BY 1),
    topv AS (SELECT token FROM tok ORDER BY n DESC, token
             LIMIT {BP.BPE_VOCAB_CAP}),
    sub AS (SELECT CAST(sum(n) AS BIGINT) AS total_subword_occ,
                   CAST(coalesce(sum(CASE WHEN token IN
                                     (SELECT token FROM topv) THEN n END), 0)
                        AS BIGINT) AS covered_subword_occ
            FROM tok),
    tv AS (SELECT list(token) AS toklist FROM topv),
    words AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_word_occ,
                     CAST(coalesce(sum(CASE WHEN list_has_all(
                                 tv.toklist, syms)
                              THEN cnt END), 0) AS BIGINT)
                         AS fully_covered_word_occ
              FROM bpe_w{BP.N_MERGES}, tv)
    SELECT CAST({BP.BPE_VOCAB_CAP} AS INT) AS vocab_cap,
           sub.total_subword_occ, sub.covered_subword_occ,
           {duck_ppm("sub.covered_subword_occ", "sub.total_subword_occ")}
               AS coverage_ppm,
           words.total_word_occ, words.fully_covered_word_occ,
           {duck_ppm("words.fully_covered_word_occ", "words.total_word_occ")}
               AS word_coverage_ppm
    FROM sub, words
    """,
)

# -- fixed-capacity shard manifest of the curated corpus (operators/curate.py)

register(
    "export_shards",
    CU.export_shards,
    f"""
    WITH base AS ({{base}}),
    sharded AS (SELECT doc_id, kept_tokens,
                       CAST((cum_kept_tokens - kept_tokens)
                            // {CU.SHARD_TOKENS} AS BIGINT) AS shard_id
                FROM base)
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(kept_tokens) AS BIGINT) AS shard_tokens,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM sharded GROUP BY shard_id
    """.format(base=_registered_oracle("corpus_curate")),
)

# -- per-source LM-quality ranking card (operators/ccnet.py) -----------------

register(
    "source_perplexity_report",
    CN.source_perplexity_report,
    f"""
    WITH b AS ({_CCNET_BUCKETS_SQL}),
    j AS (SELECT b.doc_id, b.avg_nll, b.bucket, d.source
          FROM b JOIN documents d USING (doc_id)),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               sum(CAST(floor(avg_nll * 1000000 + 0.5) AS BIGINT))
                   AS sum_micro,
               CAST(coalesce(sum(CASE WHEN bucket = 'head' THEN 1 END), 0)
                    AS BIGINT) AS head_docs,
               CAST(coalesce(sum(CASE WHEN bucket = 'middle' THEN 1 END), 0)
                    AS BIGINT) AS middle_docs,
               CAST(coalesce(sum(CASE WHEN bucket = 'tail' THEN 1 END), 0)
                    AS BIGINT) AS tail_docs
        FROM j GROUP BY source)
    SELECT source, n_docs,
           CAST((sum_micro + n_docs // 2) // n_docs AS BIGINT)
               AS mean_nll_micro,
           head_docs, middle_docs, tail_docs,
           {duck_ppm("head_docs", "n_docs")} AS head_ppm
    FROM agg
    """,
)

# -- streaming twin of the token-drift card (streaming/docs_stream.py) -------
# ITERATIVE/stream-excluded; complete-mode output equals the batch card
# row-for-row (tests/test_streaming_docs.py), so it registers against
# the SAME oracle — a full value hash, not a rows-only check.

register(
    "stream_token_drift",
    DSTR.q_stream_token_drift,
    _registered_oracle("token_drift_report"),
)

# -- CCNet tercile × heuristic gate × Gopher gate cross-tab ------------------
# (operators/docquality.py)

_QSA_GATE = " AND ".join(CU.CURATE_GOPHER_RULES)

register(
    "quality_signal_agreement",
    DQ.quality_signal_agreement,
    f"""
    WITH b AS ({_CCNET_BUCKETS_SQL}),
    tq AS ({_TEXT_QUALITY_SQL}),
    gof AS (SELECT doc_id, ({_QSA_GATE}) AS gopher_pass
            FROM ({DUCK_GOPHER_FLAGS})),
    j AS (SELECT b.bucket,
                 tq.quality_score >= {CU.CURATE_MIN_QUALITY} AS quality_ok,
                 gof.gopher_pass AS gopher_ok
          FROM b JOIN tq USING (doc_id) JOIN gof USING (doc_id)),
    cells AS (SELECT bucket, quality_ok, gopher_ok,
                     CAST(count(*) AS BIGINT) AS n_docs
              FROM j GROUP BY 1, 2, 3),
    tot AS (SELECT bucket, CAST(count(*) AS BIGINT) AS row_total
            FROM j GROUP BY 1)
    SELECT c.bucket, c.quality_ok, c.gopher_ok, c.n_docs,
           {duck_ppm("c.n_docs", "t.row_total")} AS bucket_ppm
    FROM cells c JOIN tot t USING (bucket)
    """,
)

# -- verify-threshold sensitivity curve (operators/dedup.py) -----------------
# Centiles bucket on the micro-int rendering of the 6dp-rounded Jaccard
# (floor(j*1e6+0.5) // 10000) on BOTH engines — the lsh_banding_recall
# discipline, so an exact centile boundary like 0.850000 can never flip
# a bucket on a last-ulp cross-engine double difference.

register(
    "jaccard_threshold_curve",
    D.jaccard_threshold_curve,
    f"""
    WITH {DUCK_MINHASH_PAIR_CTES},
    per AS (
        SELECT CAST(least(CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)
                          // 10000, 100) AS INT) AS jaccard_pct,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1)
    SELECT p.jaccard_pct, p.n_pairs,
           CAST(sum(o.n_pairs) AS BIGINT) AS cum_pairs_at_or_above
    FROM per p JOIN per o ON o.jaccard_pct >= p.jaccard_pct
    GROUP BY p.jaccard_pct, p.n_pairs
    """,
)

# -- measured candidate recall of the MinHash banding (operators/dedup.py) ---

_LSH_RECALL_SPINE = ", ".join(str(t) for t in D.LSH_RECALL_THRESHOLDS)

register(
    "lsh_banding_recall",
    D.lsh_banding_recall,
    f"""
    WITH {DUCK_MINHASH_PAIR_CTES},
    ng_ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
    tp AS (
        SELECT doc_a, doc_b,
               CAST(floor(({duck_floor_round("c / (na + nb - c)")}) * 1000000 + 0.5)
                    AS BIGINT) AS j_micro
        FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS na, b.n_sh AS nb, count(*) AS c
            FROM ng_ex a JOIN ng_ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4)
        WHERE {duck_floor_round("c / (na + nb - c)")}
              >= {min(D.LSH_RECALL_THRESHOLDS) / 100.0}),
    marked AS (
        SELECT tp.j_micro,
               CASE WHEN cd.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM tp LEFT JOIN cand cd
          ON cd.doc_a = tp.doc_a AND cd.doc_b = tp.doc_b),
    spine AS (SELECT unnest([{_LSH_RECALL_SPINE}]) AS t_pct)
    SELECT CAST(t_pct AS INT) AS t_pct,
           CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(sum(hit) AS BIGINT) AS n_caught,
           {duck_ppm("sum(hit)", "count(*)")} AS recall_ppm
    FROM marked, spine
    WHERE j_micro >= t_pct * 10000
    GROUP BY t_pct
    """,
)

# -- the one-card training-run export (operators/curate.py) ------------------
# See tests/test_training_export.py for the reconciliation invariants
# and the pure-Python replay. The shard spine makes
# the exact reconciliation Σ span_tokens = Σ shard_tokens = T hold even
# when a single doc out-sizes the shard capacity: shards no doc STARTS
# in emit explicit zero-doc rows on BOTH engines.

register(
    "training_export",
    CU.training_export,
    f"""
    WITH base AS ({{base}}),
    tot AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS total_tokens
            FROM base),
    sh AS (SELECT doc_id, split, kept_tokens,
                  CAST((cum_kept_tokens - kept_tokens)
                       // {CU.SHARD_TOKENS} AS BIGINT) AS shard_id
           FROM base),
    agg AS (
        SELECT shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(kept_tokens) AS BIGINT) AS shard_tokens,
               CAST(coalesce(sum(CASE WHEN split = 'train' THEN 1 END), 0)
                    AS BIGINT) AS train_docs,
               CAST(coalesce(sum(CASE WHEN split = 'val' THEN 1 END), 0)
                    AS BIGINT) AS val_docs,
               CAST(coalesce(sum(CASE WHEN split = 'test' THEN 1 END), 0)
                    AS BIGINT) AS test_docs,
               CAST(coalesce(sum(CASE WHEN split = 'train'
                                      THEN kept_tokens END), 0)
                    AS BIGINT) AS train_tokens,
               CAST(coalesce(sum(CASE WHEN split = 'val'
                                      THEN kept_tokens END), 0)
                    AS BIGINT) AS val_tokens,
               CAST(coalesce(sum(CASE WHEN split = 'test'
                                      THEN kept_tokens END), 0)
                    AS BIGINT) AS test_tokens
        FROM sh GROUP BY shard_id),
    mx AS (SELECT CAST(coalesce(max(shard_id) + 1, 0) AS BIGINT) AS m
           FROM agg),
    spine AS (SELECT unnest(range(0,
                  greatest(CAST((t.total_tokens + {CU.SHARD_TOKENS - 1})
                                // {CU.SHARD_TOKENS} AS BIGINT),
                           x.m))) AS shard_id
              FROM tot t, mx x),
    filled AS (
        SELECT s.shard_id,
               coalesce(a.n_docs, 0) AS n_docs,
               coalesce(a.shard_tokens, 0) AS shard_tokens,
               coalesce(a.train_docs, 0) AS train_docs,
               coalesce(a.val_docs, 0) AS val_docs,
               coalesce(a.test_docs, 0) AS test_docs,
               coalesce(a.train_tokens, 0) AS train_tokens,
               coalesce(a.val_tokens, 0) AS val_tokens,
               coalesce(a.test_tokens, 0) AS test_tokens
        FROM spine s LEFT JOIN agg a USING (shard_id))
    SELECT a.shard_id, a.n_docs, a.shard_tokens,
           a.train_docs, a.val_docs, a.test_docs,
           a.train_tokens, a.val_tokens, a.test_tokens,
           CAST(least((a.shard_id + 1) * {CU.SHARD_TOKENS}, t.total_tokens)
                - a.shard_id * {CU.SHARD_TOKENS} AS BIGINT) AS span_tokens,
           CAST((a.shard_id * {CU.SHARD_TOKENS} + {TS.SEQ_LEN - 1})
                // {TS.SEQ_LEN} AS BIGINT) AS first_seq_id,
           CAST((least((a.shard_id + 1) * {CU.SHARD_TOKENS}, t.total_tokens)
                 + {TS.SEQ_LEN - 1}) // {TS.SEQ_LEN}
                - (a.shard_id * {CU.SHARD_TOKENS} + {TS.SEQ_LEN - 1})
                  // {TS.SEQ_LEN} AS BIGINT) AS n_seqs
    FROM filled a, tot t
    """.format(base=_registered_oracle("corpus_curate")),
)

# -- strict-mode decode coverage per modality (operators/multimodal.py) ------
# The oracle derives the expected classification from the fixture
# construction rule (doc_id % 3 picks the container; only the WAV
# payloads are complete streams), so any classifier or codec drift
# breaks the hash; the all-statuses split (decoded / truncated-stream /
# unsupported-codec) is pinned by the injectable core in
# tests/test_multimodal.py.

register(
    "media_strict_coverage",
    MM.media_strict_coverage,
    """
    WITH k AS (
        SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               CASE WHEN doc_id % 3 = 1 THEN 'decoded'
                    ELSE 'truncated-stream' END AS status
        FROM documents)
    SELECT media_type, status, CAST(count(*) AS BIGINT) AS n_media,
           CAST(1000000 AS BIGINT) AS share_ppm
    FROM k GROUP BY media_type, status
    """,
)

# -- encode->decode round-trip coverage per modality (operators/multimodal.py)
# The non-vacuous decode-evidence card: engine-ENCODED synthetic payloads (entropy-coded JPEG,
# zlib PNG, PCM WAV) run back through the real strict decoders, so each
# modality reports a non-zero 'decoded' row alongside the constructed
# truncated-stream / unsupported-codec classes. The oracle derives every
# status from the doc_id construction rules alone — any codec or
# error-class drift breaks the value hash. Sampling stride keeps the
# Python encode stage a bounded fraction of the corpus at every SF.

register(
    "media_roundtrip_coverage",
    MM.media_roundtrip_coverage,
    f"""
    WITH k AS (
        SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               CASE CAST((doc_id // 3) % 3 AS INT) WHEN 0 THEN 'decoded'
                    WHEN 1 THEN 'truncated-stream'
                    ELSE 'unsupported-codec' END AS status
        FROM documents WHERE doc_id % {MM.MEDIA_RT_STRIDE} = 0),
    per AS (SELECT media_type, status, CAST(count(*) AS BIGINT) AS n_media
            FROM k GROUP BY media_type, status),
    tot AS (SELECT media_type, CAST(count(*) AS BIGINT) AS n_total
            FROM k GROUP BY media_type)
    SELECT p.media_type, p.status, p.n_media,
           {duck_ppm("p.n_media", "t.n_total")} AS share_ppm
    FROM per p JOIN tot t USING (media_type)
    """,
)

# -- append-only delta shards of the training export (operators/curate.py) ---
# The incremental twin of training_export: old-batch docs keep their packed positions,
# the incremental-curate survivors append after the old total, and only
# shards the delta touches (shard_id >= t_old // cap) are emitted —
# exactly reconciled against the full card by
# tests/test_incremental_export.py. Composed verbatim from the
# REGISTERED corpus_curate / incremental_curate oracles.


def _delta_export_oracle() -> str:
    cap, seq = CU.SHARD_TOKENS, TS.SEQ_LEN
    win = ("sum(kept_tokens) OVER (ORDER BY quality_score DESC, doc_id"
           " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return f"""
    WITH cc AS ({_registered_oracle("corpus_curate")}),
    old_packed AS (
        SELECT doc_id, split, kept_tokens, quality_score,
               {win} AS cum_kept_tokens
        FROM cc WHERE doc_id {_OLD}),
    inc AS ({_registered_oracle("incremental_curate")}),
    kept_new AS (
        SELECT doc_id, split, n_tokens - dup_old_tokens AS kept_tokens,
               quality_score
        FROM inc WHERE verdict = 'kept'),
    tot_old AS (SELECT CAST(coalesce(sum(kept_tokens), 0) AS BIGINT) AS t_old
                FROM old_packed),
    new_packed AS (
        SELECT doc_id, split, kept_tokens, {win} AS cum_new FROM kept_new),
    stream AS (
        SELECT doc_id, kept_tokens,
               CAST(cum_kept_tokens AS BIGINT) AS cum, 0 AS is_new
        FROM old_packed
        UNION ALL
        SELECT n.doc_id, n.kept_tokens,
               CAST(n.cum_new + t.t_old AS BIGINT), 1
        FROM new_packed n, tot_old t),
    tot AS (SELECT CAST(coalesce(sum(kept_tokens), 0) AS BIGINT)
                AS total_tokens FROM stream),
    sh AS (SELECT doc_id, kept_tokens, is_new,
                  CAST((cum - kept_tokens) // {cap} AS BIGINT) AS shard_id
           FROM stream),
    agg AS (SELECT shard_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(kept_tokens) AS BIGINT) AS shard_tokens,
                   CAST(coalesce(sum(CASE WHEN is_new = 1 THEN 1 END), 0)
                        AS BIGINT) AS new_docs,
                   CAST(coalesce(sum(CASE WHEN is_new = 1
                                          THEN kept_tokens END), 0)
                        AS BIGINT) AS new_tokens
            FROM sh GROUP BY shard_id),
    mx AS (SELECT CAST(coalesce(max(shard_id) + 1, 0) AS BIGINT) AS m
           FROM agg),
    spine AS (SELECT unnest(range(0,
                  greatest(CAST((t.total_tokens + {cap - 1}) // {cap}
                                AS BIGINT), x.m))) AS shard_id
              FROM tot t, mx x),
    filled AS (SELECT s.shard_id,
                      coalesce(a.n_docs, 0) AS n_docs,
                      coalesce(a.shard_tokens, 0) AS shard_tokens,
                      coalesce(a.new_docs, 0) AS new_docs,
                      coalesce(a.new_tokens, 0) AS new_tokens
               FROM spine s LEFT JOIN agg a USING (shard_id))
    SELECT f.shard_id, f.n_docs, f.shard_tokens, f.new_docs, f.new_tokens,
           CAST(least((f.shard_id + 1) * {cap}, t.total_tokens)
                - f.shard_id * {cap} AS BIGINT) AS span_tokens,
           CAST((f.shard_id * {cap} + {seq - 1}) // {seq} AS BIGINT)
               AS first_seq_id,
           CAST((least((f.shard_id + 1) * {cap}, t.total_tokens)
                 + {seq - 1}) // {seq}
                - (f.shard_id * {cap} + {seq - 1}) // {seq} AS BIGINT)
               AS n_seqs
    FROM filled f, tot t, tot_old o
    WHERE f.shard_id >= o.t_old // {cap}
    """


register(
    "incremental_training_export",
    CU.incremental_training_export,
    _delta_export_oracle(),
)

# -- margin-based bitext mining (operators/similarity.py) --------------------
# The parallel-corpus harvesting step of a multilingual LLM pipeline
# (Artetxe & Schwenk ratio-margin, public method): for a fixed
# salted-hash panel of BITEXT_N_ANCHORS source-lang docs, find
# target-lang docs that are in each other's top-BITEXT_K by cosine over
# the deterministic integer hash embedding, scored by the margin over
# the mean of both neighborhoods. Integer dots/norms and the
# floor-micro finish make the twin value-exact by construction; python
# replay + mutual-bound invariants in tests/test_bitext.py.


def _bitext_oracle() -> str:
    h_embed = DUCK_H8.format(
        x=f"text || '{S.RAG_EMBED_SALT}' || CAST(j AS VARCHAR)"
    )
    h_anchor = DUCK_H8.format(
        x=f"CAST(doc_id AS VARCHAR) || '{S.BITEXT_ANCHOR_SALT}'"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, lang,
             list_transform(range(0, {S.RAG_EMBED_DIM}),
                 j -> CAST({h_embed} % 1000 - 500 AS BIGINT)) AS iv
      FROM documents),
    n AS (SELECT doc_id, lang, iv,
                 CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT)
                     AS inorm
          FROM d),
    g AS (SELECT * FROM n WHERE inorm > 0),
    a AS (SELECT doc_id AS en_id, iv AS aiv, inorm AS anorm FROM g
          WHERE lang = '{S.BITEXT_SRC_LANG}'
          ORDER BY {h_anchor}, doc_id
          LIMIT {S.BITEXT_N_ANCHORS}),
    p AS (SELECT t.lang, a.en_id, t.doc_id AS xx_id,
                 CAST(floor(
                     CAST(list_sum(list_transform(
                         range(1, {S.RAG_EMBED_DIM} + 1),
                         i -> a.aiv[i] * t.iv[i])) AS BIGINT)
                     / sqrt(CAST(a.anorm * t.inorm AS DOUBLE))
                     * 1000000 + 0.5) AS BIGINT) AS c_u
          FROM g t, a WHERE t.lang <> '{S.BITEXT_SRC_LANG}'),
    rx AS (SELECT *, row_number() OVER (PARTITION BY en_id, lang
               ORDER BY c_u DESC, xx_id) AS rn_x FROM p),
    r2 AS (SELECT *, row_number() OVER (PARTITION BY xx_id
               ORDER BY c_u DESC, en_id) AS rn_y FROM rx),
    mx AS (SELECT en_id, lang, CAST(sum(c_u) AS BIGINT) AS sx,
                  CAST(count(*) AS BIGINT) AS kx
           FROM r2 WHERE rn_x <= {S.BITEXT_K} GROUP BY en_id, lang),
    my AS (SELECT xx_id, CAST(sum(c_u) AS BIGINT) AS sy,
                  CAST(count(*) AS BIGINT) AS ky
           FROM r2 WHERE rn_y <= {S.BITEXT_K} GROUP BY xx_id),
    m AS (SELECT lang, en_id, xx_id, c_u FROM r2
          WHERE rn_x <= {S.BITEXT_K} AND rn_y <= {S.BITEXT_K})
    SELECT m.lang, m.en_id, m.xx_id,
           m.c_u / 1000000.0 AS cosine,
           CAST(floor(2 * m.c_u * kx * ky / (sx * ky + sy * kx)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS margin
    FROM m JOIN mx USING (en_id, lang) JOIN my USING (xx_id)
    WHERE sx * ky + sy * kx <> 0
    """


register(
    "bitext_margin_pairs",
    S.bitext_margin_pairs,
    _bitext_oracle(),
)

# -- per-language tokenizer fertility / compression card (operators/bpe.py) --
# The cross-language tokenizer-selection audit: aggregates the REGISTERED
# bpe_encode_stats per-doc counters by documents.lang with exact integer
# micro rates (floor-half-up over BIGINT sums — no float finish anywhere).
# Oracle composed from the registered per-doc twin so the two cards can
# never drift; reconciliation pinned in tests/test_tokenizer_fertility.py.

register(
    "tokenizer_fertility",
    BP.tokenizer_fertility,
    f"""
    WITH es AS ({_registered_oracle("bpe_encode_stats")}),
    per AS (
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(es.n_words) AS BIGINT) AS n_words,
               CAST(sum(es.n_subwords) AS BIGINT) AS n_subwords,
               CAST(sum(es.n_chars) AS BIGINT) AS n_chars
        FROM es JOIN documents d USING (doc_id)
        GROUP BY d.lang)
    SELECT lang, n_docs, n_words, n_subwords, n_chars,
           {duck_ppm("n_subwords", "n_words")} AS fertility_micro,
           {duck_ppm("n_chars", "n_subwords")}
               AS chars_per_subword_micro,
           {duck_ppm("n_subwords", "n_docs")} AS subwords_per_doc_micro
    FROM per
    """,
)

# -- all-scale exact-substring repetition spectrum (operators/spans.py) ------
# Rabin-Karp width doubling: one equi-join per doubling level (width w
# context id = md5(id_w/2[pos] || ':' || id_w/2[pos+w/2])), never a global
# sort and never an explode beyond width 1. The DuckDB oracle replays the
# identical md5 chain; tests/test_repeat_spectrum.py additionally pins the
# chain against TRUE token-tuple counting (zero-collision certificate at
# fixture scale) and a hand-checkable crafted corpus.


def _repeat_spectrum_oracle() -> str:
    ctes = [
        f"toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents)",
        "t0 AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,"
        " md5(unnest(toks)) AS id FROM toks)",
    ]
    width = 1
    for lvl in range(1, SP.REPEAT_LEVELS):
        ctes.append(
            f"t{lvl} AS (SELECT a.doc_id, a.pos,"
            f" md5(a.id || ':' || b.id) AS id"
            f" FROM t{lvl - 1} a JOIN t{lvl - 1} b"
            f" ON b.doc_id = a.doc_id AND b.pos = a.pos + {width})"
        )
        width *= 2
    stats = []
    width = 1
    for lvl in range(SP.REPEAT_LEVELS):
        stats.append(f"""
    SELECT CAST({width} AS BIGINT) AS width,
           CAST(coalesce(sum(c), 0) AS BIGINT) AS total_positions,
           CAST(count(*) AS BIGINT) AS distinct_contexts,
           CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
               AS repeated_positions,
           {duck_ppm(
               "coalesce(sum(CASE WHEN c > 1 THEN c END), 0)", "coalesce(sum(c), 0)"
           )} AS repeated_ppm
    FROM (SELECT id, count(*) AS c FROM t{lvl} GROUP BY id)""")
        width *= 2
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\n    UNION ALL".join(stats)


register(
    "repeat_spectrum",
    SP.repeat_spectrum,
    _repeat_spectrum_oracle(),
)

# -- incremental repeat spectrum (operators/spans.py) ------------------------
# The spectrum family's recurring path: the new crawl batch's all-scale
# repetition probed against the standing corpus's per-width context-id
# asset (spans.py::standing_old_contexts — keyed, atomically published,
# rebuilt only on fixture/version change). The probe prunes to one width
# partition per doubling level; at cluster scale the standing asset is
# the increment-sized path (flat from sf0.1 to sf1 once warm).
# The oracle replays the identical md5 doubling chain INLINE over all
# documents and derives the old-corpus distinct sets per width — the
# asset is an execution strategy, not a semantic input, so the oracle
# never reads it. tests/test_incremental_repeat_spectrum.py additionally
# pins the chain against TRUE token-tuple counting, the asset==inline
# equality, a crafted corpus, and the concurrent cold-build race.


def _incremental_repeat_spectrum_oracle() -> str:
    ctes = [
        f"toks AS (SELECT doc_id, {DUCK_TOKS} AS toks FROM documents)",
        "t0 AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,"
        " md5(unnest(toks)) AS id FROM toks)",
    ]
    width = 1
    for lvl in range(1, SP.REPEAT_LEVELS):
        ctes.append(
            f"t{lvl} AS (SELECT a.doc_id, a.pos,"
            f" md5(a.id || ':' || b.id) AS id"
            f" FROM t{lvl - 1} a JOIN t{lvl - 1} b"
            f" ON b.doc_id = a.doc_id AND b.pos = a.pos + {width})"
        )
        width *= 2
    stats = []
    width = 1
    for lvl in range(SP.REPEAT_LEVELS):
        stats.append(
            f"""
    SELECT CAST({width} AS BIGINT) AS width,
           CAST(count(*) AS BIGINT) AS new_positions,
           CAST(coalesce(sum(CASE WHEN o.id IS NOT NULL THEN 1 END), 0)
                AS BIGINT) AS dup_old_positions
    FROM (SELECT id FROM t{lvl} WHERE doc_id {_NEW}) n
    LEFT JOIN (SELECT DISTINCT id FROM t{lvl} WHERE doc_id {_OLD}) o
        ON o.id = n.id"""
        )
        width *= 2
    body = "\n    UNION ALL".join(stats)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\nSELECT width, new_positions, dup_old_positions,\n       "
        + duck_ppm("dup_old_positions", "new_positions")
        + f" AS dup_old_ppm\nFROM ({body})"
    )


register(
    "incremental_repeat_spectrum",
    SP.incremental_repeat_spectrum,
    _incremental_repeat_spectrum_oracle(),
)

# -- contamination scorecard (operators/spans.py) ----------------------------
# The cross-eval-suite decontamination report: the three registered
# contamination legs (exact shingles, banded-MinHash fuzzy, position-level
# spans) aggregated per eval suite (suite = held-out docs' lang), one row
# per suite. tests/test_contamination_scorecard.py pins a single-suite
# reconciliation against the three registered legs and a crafted corpus.


def _contamination_scorecard_oracle() -> str:
    """Suite-grouped replay of the three registered leg oracles: the
    exact leg joins the train shingle stream to the suite-tagged distinct
    eval shingles; the near leg is the banded-MinHash candidate + exact
    Jaccard verify with the per-(suite, doc) best; the span leg merges
    suite-tagged gram hits per (suite, doc). All integers exact, ppm by
    floor-half-up integer division — the family's finish discipline."""
    m = D.CONTAM_EVAL_MAX_ID
    rows = D.NUM_HASHES // D.NUM_BANDS
    return f"""
    WITH {DUCK_SHINGLES},
    suites AS (SELECT doc_id, lang AS suite FROM documents
               WHERE doc_id < {m}),
    spine AS (SELECT suite, CAST(count(*) AS BIGINT) AS n_eval_docs
              FROM suites GROUP BY suite),
    ev_sh AS (SELECT DISTINCT su.suite, e.s
              FROM (SELECT doc_id, unnest(sh) AS s FROM sh
                    WHERE doc_id < {m}) e
              JOIN suites su USING (doc_id)),
    tr_sh AS (SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id >= {m}),
    exact AS (SELECT suite,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_docs,
                     CAST(count(*) AS BIGINT) AS exact_hits
              FROM tr_sh JOIN ev_sh USING (s) GROUP BY suite),
    sigs AS (SELECT doc_id, {DUCK_MINHASH_SIG} AS sig FROM sh),
    bands AS (
        SELECT doc_id, b,
               array_to_string(list_transform(
                   sig[b*{rows}+1 : b*{rows}+{rows}],
                   v -> v::VARCHAR), ':') AS band_key
        FROM sigs, unnest(range(0, {D.NUM_BANDS})) t(b)),
    cand AS (
        SELECT DISTINCT c.doc_id, e.doc_id AS eval_id
        FROM bands c JOIN bands e ON c.b = e.b AND c.band_key = e.band_key
        WHERE c.doc_id >= {m} AND e.doc_id < {m}),
    ver AS (
        SELECT cand.doc_id, cand.eval_id,
               {_SET_JACCARD_SQL} AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_id
        JOIN sh sb ON sb.doc_id = cand.eval_id),
    nearbest AS (SELECT su.suite, v.doc_id, max(v.jaccard) AS bj
                 FROM ver v JOIN suites su ON su.doc_id = v.eval_id
                 GROUP BY su.suite, v.doc_id),
    nearleg AS (SELECT suite, CAST(count(*) AS BIGINT) AS near_docs
                FROM nearbest WHERE bj >= {D.CONTAM_NEAR_THRESHOLD}
                GROUP BY suite),
    {DUCK_SPAN_GRAM_CTES.lstrip()},
    ev_g AS (SELECT DISTINCT su.suite, g.gram
             FROM grams g JOIN suites su USING (doc_id)
             WHERE g.doc_id < {m}),
    shits AS (SELECT e.suite, g.doc_id, g.pos
              FROM grams g JOIN ev_g e USING (gram)
              WHERE g.doc_id >= {m}),
    sruns AS (SELECT suite, doc_id, pos,
                     CASE WHEN lag(pos) OVER (PARTITION BY suite, doc_id
                                              ORDER BY pos) IS NULL
                            OR pos > lag(pos) OVER (PARTITION BY suite, doc_id
                                                    ORDER BY pos)
                                     + {SP.SPAN_K}
                          THEN 1 ELSE 0 END AS is_new
              FROM shits),
    srunid AS (SELECT suite, doc_id, pos,
                      sum(is_new) OVER (PARTITION BY suite, doc_id
                                        ORDER BY pos) AS run
               FROM sruns),
    sspans AS (SELECT suite, doc_id,
                      CAST(max(pos) + {SP.SPAN_K} - min(pos) AS BIGINT)
                          AS span_len
               FROM srunid GROUP BY suite, doc_id, run),
    spanleg AS (SELECT suite,
                       CAST(count(DISTINCT doc_id) AS BIGINT) AS span_docs,
                       CAST(sum(span_len) AS BIGINT) AS span_tokens
                FROM sspans GROUP BY suite),
    tot AS (SELECT CAST(coalesce(sum(len({DUCK_TOKS})), 0) AS BIGINT) AS tot
            FROM documents WHERE doc_id >= {m})
    SELECT sp.suite, sp.n_eval_docs,
           CAST(coalesce(x.exact_docs, 0) AS BIGINT) AS exact_docs,
           CAST(coalesce(x.exact_hits, 0) AS BIGINT) AS exact_hits,
           CAST(coalesce(n.near_docs, 0) AS BIGINT) AS near_docs,
           CAST(coalesce(s.span_docs, 0) AS BIGINT) AS span_docs,
           CAST(coalesce(s.span_tokens, 0) AS BIGINT) AS span_tokens,
           {duck_ppm("coalesce(s.span_tokens, 0)", "t.tot")} AS span_token_ppm
    FROM spine sp
    LEFT JOIN exact x USING (suite)
    LEFT JOIN nearleg n USING (suite)
    LEFT JOIN spanleg s USING (suite)
    CROSS JOIN tot t
    """


register(
    "contamination_scorecard",
    SP.contamination_scorecard,
    _contamination_scorecard_oracle(),
)
