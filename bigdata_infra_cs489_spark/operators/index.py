"""Inverted index + boolean retrieval (assignments 3 and 7).

Reference (all under /root/reference/src/main/java/.../):
- assignment3/BuildInvertedIndexCompressed.java:44-140 — (term, docid, tf)
  via per-doc histogram, secondary-sorted shuffle, per-term posting list
  [df, (docid-gap, tf)*] VInt-compressed into a MapFile per reducer.
- assignment3/BooleanRetrievalCompressed.java:39-94 — postfix query eval
  (AND = set intersection, OR = set union) over per-term docid sets, then
  fetch of matching doc lines by byte offset.
- assignment7/BuildInvertedIndexHBase.java / BooleanRetrievalHBase.java —
  same index in an HBase wide-column table with point Gets.

Spark-first translation:
- The histogram + boundary-detection reducer (W2) is
  ``explode(tokens) -> groupBy(term, doc_id).count()``; the per-term array
  form is ``groupBy(term).agg(sort_array(collect_list(struct(...))))``.
- d-gap + VInt compression is dropped deliberately: Parquet's delta/RLE/
  dictionary encodings do the same job at the storage layer (SURVEY §4).
- MapFile/HBase point lookup becomes a hash-bucket-partitioned Parquet
  table: lookups prune to 1 of N_BUCKETS partitions via a foldable
  bucket predicate — the scalable analogue of an HBase region Get, with
  no KV store dependency.
- Boolean retrieval is a ~30-line postfix compiler from the reference's
  exact grammar (whitespace tokens, AND/OR, no NOT, no precedence) to
  DataFrame set ops (intersect/union are set-semantics like the
  reference's TreeSet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..sources.tables import load
from .assets import asset_path, ensure

N_BUCKETS = 64


def postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized index rows (term, doc_id, tf).

    One explode + one shuffle on (term, doc_id); partial aggregation
    collapses duplicate tokens map-side before the exchange.
    """
    from ..functions.text import exploded_tokens

    docs = load(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    return (
        exploded_tokens(docs, keep=("doc_id",))
        .withColumnRenamed("word", "term")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def postings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term document frequency (the df header of the reference's
    posting payload, BuildInvertedIndexCompressed.java:95-106)."""
    return (
        postings(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def postings_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term docid-sorted posting arrays: (term, df, postings) with
    postings = array<struct<doc_id,tf>> — the reference's posting-list
    layout minus the byte-level compression."""
    return (
        postings(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_sort(
                F.collect_list(F.struct("doc_id", "tf"))
            ).alias("postings"),
        )
    )


def tfidf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tfidf): tf * ln(N / df) over the postings index —
    ranked-retrieval weighting the reference's boolean-only index lacks.
    One extra vocabulary-sized aggregate (df per term) broadcast-joined
    back onto the postings; N is a scalar."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_docs = docs.count()
    p = postings(spark, sf_dir)
    # df as a window count over term: ONE computation of the postings
    # subtree + one narrow shuffle by term — the aggregate-then-join
    # version computes the tokenize/explode/groupBy subtree twice (once to
    # build the broadcast df table, once for the probe side), since
    # Catalyst does not share common subtrees across a broadcast exchange
    df_ = F.count(F.lit(1)).over(Window.partitionBy("term"))
    return p.select(
        "term",
        "doc_id",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / df_), 6).alias("tfidf"),
    )


def ranked_retrieval(
    spark: SparkSession, sf_dir: str, query: str, k: int = 10
) -> DataFrame:
    """Top-k documents by summed tf-idf of the query's distinct terms
    (a duplicated query term contributes once — IN-list semantics on both
    engines): one scan filtered to the query terms, one aggregation, one
    TakeOrderedAndProject — same single-pass shape as boolean_retrieval."""
    terms = query.split()
    if not terms:
        raise ValueError("empty ranked query")
    scored = (
        tfidf_scores(spark, sf_dir)
        .where(F.col("term").isin(*terms))
        .groupBy("doc_id")
        .agg(F.round(F.sum("tfidf"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_retrieval(
    spark: SparkSession, sf_dir: str, query: str, k: int = 10
) -> DataFrame:
    """Top-k documents by BM25 (Okapi; Lucene's +1 idf smoothing so scores
    stay positive): same single-scan shape as ranked_retrieval with two
    extra model-sized statistics — per-doc length dl and the corpus avgdl
    (exact: integer token-count sum / doc count, so the value is
    bit-reproducible in the oracle)."""
    terms = query.split()
    if not terms:
        raise ValueError("empty bm25 query")
    # doc count from a column-pruned scan; postings cached: dl, df and the
    # scoring scan below otherwise each re-run tokenize+explode+groupBy
    n_docs = load(spark, sf_dir, "documents").select("doc_id").count()
    p = postings(spark, sf_dir).cache()
    dl = p.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    total_tokens = dl.agg(F.sum("dl")).collect()[0][0]
    if n_docs == 0 or total_tokens is None:
        # empty corpus / nothing tokenizes: no document can score
        return spark.createDataFrame([], "doc_id bigint, score double")
    avgdl = float(total_tokens) / float(n_docs)
    df_ = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # grouping and operand types mirror the DuckDB oracle exactly
    # (idf * ((tf*(k1+1)) / denom), all-double literals) so values are
    # bit-identical at the 6-decimal rounding
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (F.col("tf") * F.lit(BM25_K1 + 1)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        p.where(F.col("term").isin(*terms))
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.round(idf * tf_norm, 6)), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# The bucketed postings layout: ``bucket`` is the partition column.
TERM_INDEX_SCHEMA = "term STRING, doc_id BIGINT, tf BIGINT, bucket INT"


def write_bucketed_index(df: DataFrame, path: str, n_buckets: int = N_BUCKETS) -> None:
    """Persist postings hash-bucketed by term for pruned point lookup —
    the Parquet analogue of the reference's MapFile partitions
    (BuildInvertedIndexCompressed.java:187) / HBase regions."""
    (
        df.withColumn("bucket", F.pmod(F.hash("term"), F.lit(n_buckets)))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def lookup_term(
    spark: SparkSession, path: str, term: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """Point lookup against a bucketed index: the bucket predicate is
    foldable, so the scan prunes to 1/n_buckets of the files before the
    term filter runs (BooleanRetrievalCompressed.java:106-128 seek)."""
    idx = spark.read.schema(TERM_INDEX_SCHEMA).parquet(path)
    return idx.where(
        (F.col("bucket") == F.pmod(F.hash(F.lit(term)), F.lit(n_buckets)))
        & (F.col("term") == term)
    ).drop("bucket")


def boolean_retrieval(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Evaluate a postfix boolean query, returning matching (doc_id, text).

    Grammar is exactly the reference's (BooleanRetrievalCompressed.java:39-58):
    whitespace-separated postfix tokens; ``AND``/``OR`` pop two operand doc
    sets and push the intersection/union; a bare token pushes its doc set.

    Plan shape: the postfix program compiles to ONE boolean column
    expression over each document's set of query terms — one corpus scan
    (filtered to the query's terms before the shuffle) + one aggregation,
    regardless of query size. The naive translation (one doc-set DataFrame
    per term, intersect/union per operator) rescans the corpus per term and
    shuffles per operator — at 100 TB that is #terms scans; this is one.
    Documents containing none of the query's terms never reach the
    aggregation; they would evaluate false under every AND/OR combination
    of term-membership tests, so dropping them early is semantics-free.
    """
    terms = [t for t in query.split() if t not in ("AND", "OR")]

    # compile postfix -> boolean expression over the per-doc term set
    stack: list = []
    for tok in query.split():
        if tok in ("AND", "OR"):
            if len(stack) < 2:
                raise ValueError(f"malformed postfix query {query!r}")
            right, left = stack.pop(), stack.pop()
            stack.append(left & right if tok == "AND" else left | right)
        else:
            stack.append(F.array_contains("terms", tok))
    if len(stack) != 1:
        raise ValueError(f"malformed postfix query {query!r}")
    predicate = stack[0]

    docs = load(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")
    from ..functions.text import exploded_tokens

    hits = (
        exploded_tokens(docs, keep=("doc_id",))
        .withColumnRenamed("word", "term")
        .where(F.col("term").isin(*terms))
        .groupBy("doc_id")
        .agg(F.collect_set("term").alias("terms"))
        .where(predicate)
    )
    return hits.join(docs, "doc_id").select("doc_id", "text")


PHRASE_QUERY = "fast table"


def positional_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, positions): sorted 1-based token positions per
    (term, doc) — the positional extension of the reference's frequency
    index (tf == size(positions)). Same single-shuffle shape as postings():
    posexplode -> groupBy(term, doc_id)."""
    docs = load(spark, sf_dir, "documents", parallelize=True)
    # posexplode fused into the projection that builds the token array:
    # naming the array in one select and exploding it in the next re-runs
    # the whole tokenize expression ~3x per row via an inferred
    # size>0 filter (InferFiltersFromGenerate; see dedup.shingle_index)
    return (
        docs.select(
            "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos0", "term")
        )
        .groupBy("term", "doc_id")
        .agg(F.array_sort(F.collect_list(F.col("pos0") + 1)).alias("positions"))
    )


def phrase_retrieval(
    spark: SparkSession, sf_dir: str, phrase: str = PHRASE_QUERY
) -> DataFrame:
    """(doc_id, n_matches): documents containing the words of ``phrase``
    consecutively, with the exact-adjacency occurrence count.

    Classic positional-index evaluation: for term i, shift its positions
    left by i; a phrase occurrence is a position present in EVERY shifted
    list, so the per-doc work is an inner join of the terms' posting rows
    followed by one array_intersect fold — no text rescan, no UDF. The
    joins are broadcast-friendly (each term's postings are a sliver of the
    index) and keyed on doc_id."""
    terms = phrase.split()
    if not terms:
        raise ValueError("empty phrase")
    pp = positional_postings(spark, sf_dir)
    acc = None
    for i, t in enumerate(terms):
        side = pp.where(F.col("term") == t).select(
            "doc_id",
            F.transform("positions", lambda x: x - i).alias(f"p{i}"),  # noqa: B023
        )
        acc = side if acc is None else acc.join(side, "doc_id")
    inter = F.col("p0")
    for i in range(1, len(terms)):
        inter = F.array_intersect(inter, F.col(f"p{i}"))
    return (
        acc.select("doc_id", F.size(inter).alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )


KEYWORDS_PER_DOC = 3


def doc_keywords(
    spark: SparkSession, sf_dir: str, k: int = KEYWORDS_PER_DOC
) -> DataFrame:
    """(doc_id, term, tfidf, rank): each document's top-k terms by tf-idf
    — keyword extraction, the per-document inversion of ranked retrieval
    and a standard corpus-annotation pass (tags for routing, dedup-key
    enrichment, weak labels). Ranked on the 6dp-ROUNDED score with a term
    tie-break so membership is fp-reproducible across engines.

    Shape: tfidf_scores' single postings pass, then one partitioned
    window per doc_id — the partition key is the document, so the rank
    never funnels the corpus through one task."""
    from pyspark.sql.window import Window

    scored = tfidf_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


LOOKUP_TERMS = ("fast", "table", "window")


def term_index_path(sf_dir: str) -> str:
    """Standing bucketed-postings location for one data generation of the
    documents table, keyed on the bucket count."""
    return asset_path(sf_dir, "documents", "termidx", f"b{N_BUCKETS}")


def q_term_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered build-once/probe-many form of the MapFile/HBase point
    lookup family (SURVEY §2.1 S5-S7): postings persisted hash-bucketed
    by term (write_bucketed_index) as a standing asset keyed on the
    documents table's data generation, then pruned point Gets for a
    fixed probe set, unioned. Each probe's foldable bucket predicate
    prunes the scan to 1/N_BUCKETS of the files before the term filter
    runs — the BooleanRetrievalCompressed.java:106-128 seek, as
    partition pruning. The oracle recomputes the same postings directly,
    so hash parity proves the sink+lookup path loses nothing."""
    import os

    path = ensure(
        term_index_path(sf_dir),
        ("postings",),
        lambda tmp: write_bucketed_index(
            postings(spark, sf_dir), os.path.join(tmp, "postings")
        ),
    )
    idx = os.path.join(path, "postings")
    out = lookup_term(spark, idx, LOOKUP_TERMS[0])
    for t in LOOKUP_TERMS[1:]:
        out = out.unionByName(lookup_term(spark, idx, t))
    return out
