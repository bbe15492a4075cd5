"""Structured Streaming twin of the incremental curation probe: line
dedup of a streaming document ingest against the STANDING corpus line
index (operators/linededup.py incremental_line_dedup).

The production shape this demonstrates: crawled documents arrive as a
file stream; the standing corpus's distinct-line set is a maintained
STATIC asset (persisted as xxhash64 fingerprints at scale); each
micro-batch pays one stateless stream-static join against it — no
stream state beyond the final aggregation, no old-vs-old work, and the
static side behaves exactly like the batch semi-probe (broadcast when
small, shuffled stream-static join when not — Catalyst plans it like
the batch join).

Twin discipline (the events_stream.py contract): the stream runs with
trigger(availableNow=True) over the fixture parquet and its complete
output must equal the oracle-checked batch operator row-for-row —
pinned by tests/test_streaming_docs.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.linededup import LINE_W, token_window_lines
from .events_stream import run_to_memory

_DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source document stream over the fixture parquet (the file
    source wants a directory; glob-filter down to the single fixture
    file, the stream_events convention)."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )


def _windows_outer(docs: DataFrame, width: int = LINE_W) -> DataFrame:
    """(doc_id, line_no, line) with zero-word documents KEPT as one
    null-line row (explode_outer), so the downstream aggregation emits
    their n_lines = 0 degrade row — the batch operator reaches the same
    rows via its docs-spine left join, which a single-stream plan cannot
    express."""
    from ..functions.text import TOKEN_SPLIT_RE

    words = F.filter(
        F.split(F.col("text"), TOKEN_SPLIT_RE), lambda t: F.length(t) > 0
    )
    w = docs.select("doc_id", words.alias("words"))
    idx = F.when(
        F.size("words") > 0,
        F.sequence(
            F.lit(0), ((F.size("words") - 1) / width).cast("int"), F.lit(1)
        ),
    )
    return w.select(
        "doc_id", F.explode_outer(idx).alias("line_no"), F.col("words")
    ).select(
        "doc_id",
        "line_no",
        F.when(
            F.col("line_no").isNotNull(),
            F.array_join(
                F.slice("words", F.col("line_no") * width + 1, width), " "
            ),
        ).alias("line"),
    )


def line_dedup_stream(
    spark: SparkSession, sf_dir: str, standing: DataFrame
) -> DataFrame:
    """Streaming (doc_id, n_lines, dup_lines, clean_text): the NEW-batch
    document stream segmented into pseudo-lines, each line marked by ONE
    stateless stream-static left join against the standing distinct-line
    index, then one complete-mode aggregation per document (count,
    dup sum, in-order reassembly of the surviving lines)."""
    from ..operators.dedup import is_new_batch

    docs = stream_documents(spark, sf_dir).where(is_new_batch())
    lines = _windows_outer(docs)
    # no broadcast hint: the fixture index broadcasts on its own under
    # the threshold, but a real standing corpus index is arbitrarily
    # large — Catalyst must stay free to plan the shuffled stream-static
    # join (forcing broadcast here would OOM the driver at 100 TB)
    marked = lines.join(
        standing.select("line").distinct().withColumn("hit", F.lit(1)),
        "line",
        "left",
    )
    return marked.groupBy("doc_id").agg(
        F.count("line").cast("bigint").alias("n_lines"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("dup_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("line").isNotNull() & F.col("hit").isNull(),
                            F.struct("line_no", "line"),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
    )


def q_stream_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: build the standing index from the fixture's
    old corpus (on a deployment: the persisted table), run the stream to
    completion, return the complete table."""
    from ..operators.dedup import is_new_batch
    from ..sources.tables import load
    from .events_stream import STREAM_STATE_PARTITIONS

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    standing = (
        token_window_lines(docs)
        .where(~is_new_batch())
        .select("line")
        .distinct()
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        run_to_memory(
            line_dedup_stream(spark, sf_dir, standing),
            "stream_line_dedup_tbl",
            "complete",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table("stream_line_dedup_tbl")


def q_stream_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the token-drift monitor
    (operators/dsir.token_drift_report): the standing corpus's hashed
    token distribution is the STATIC reference (a <= DSIR_BUCKETS-row
    maintained asset on a deployment); the NEW crawl batch streams in
    and one complete-mode stateless-projection + groupBy(bucket)
    aggregation accumulates its distribution; the card finish is the
    SHARED driver-side arithmetic (dsir.drift_card_from_counts), so the
    complete stream output is row-identical to the batch operator — the
    twin contract, and the shape a live ingest monitor actually runs
    (drift alarms fire per micro-batch from the running aggregate; the
    availableNow fixture run is its terminal state)."""
    from ..functions.hashing import h8
    from ..functions.text import exploded_tokens
    from ..operators.dedup import is_new_batch
    from ..operators.dsir import DSIR_BUCKETS, drift_card_from_counts
    from ..sources.tables import load
    from .events_stream import STREAM_STATE_PARTITIONS, run_to_memory

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_new = is_new_batch()
    old_counts = (
        exploded_tokens(docs.where(~is_new).select("text"))
        .select((h8(F.col("word")) % DSIR_BUCKETS).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    old = {int(r["bucket"]): int(r["n"]) for r in old_counts}

    stream = stream_documents(spark, sf_dir).where(is_new).select("text")
    buckets = (
        exploded_tokens(stream)
        .select((h8(F.col("word")) % DSIR_BUCKETS).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        run_to_memory(buckets, "stream_token_drift_tbl", "complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    new = {
        int(r["bucket"]): int(r["n"])
        for r in spark.table("stream_token_drift_tbl").collect()
    }
    return drift_card_from_counts(spark, old, new)
