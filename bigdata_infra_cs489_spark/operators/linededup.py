"""Corpus-level exact line deduplication (the CCNet / RefinedWeb
pre-filter: Wenzek et al. 2020 §3.1 dedup "paragraphs", Penedo et al.
2023 line-wise "exact document- and line-level" pass).

Span-gram stripping (operators/spans.py) removes repeated TOKEN RUNS
found anywhere; this family removes whole repeated SEGMENTS — the
boilerplate headers, cookie banners, and navigation lines that repeat
verbatim across millions of pages — keeping one global first
occurrence. It is the cheaper, segment-aligned sibling real pipelines
run before near-dup clustering. No reference counterpart (north-star
extension family, the curation shelf next to clean_corpus and
strip_spans).

Scale/determinism design:
- segmentation is a pure higher-order array expression (no Python, no
  shuffle): real corpora split on newlines; the synthetic fixture
  corpus is single-line word soup, so the registered-query shape
  segments into fixed LINE_W-token windows instead (documented fixture
  convention, the PII-decoration discipline — a deployment passes its
  newline segmenter, exercised by the crafted pytest corpus);
- duplicate detection is ONE partial-aggregated groupBy on the segment
  key with min-position arbitration folded into the same pass
  (count + min of an encoded (doc_id, line_no) scalar) — no window
  anywhere, so a banner duplicated across half the corpus is an
  AQE-splittable join group, never a single pinned task;
- the keep-first join back to the lines frame is an equi-join on the
  segment key; survivors reassemble per document with a bounded
  collect_list (state = one document's own lines, the clean_corpus
  bound);
- `use_fingerprints=True` swaps the string join key for xxhash64 so the
  exchange carries 8-byte keys instead of line text — the 100 TB shape,
  pinned output-identical to the string path by tests (the
  repeated_spans_fp playbook; xxhash64 has no DuckDB twin, so the
  string path is the oracle surface).

Position encoding: first-occurrence arbitration orders by
(doc_id, line_no) via the scalar doc_id * POS_ENC + line_no, exact while
documents stay under POS_ENC = 1e6 lines — far beyond any real document
(a 1e6-line doc at ~40 chars/line is a 40 MB single document, already
rejected upstream by the Gopher word-count gate); the same encoded
scalar is used on both engines so arbitration can never diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import TOKEN_SPLIT_RE
from ..sources.tables import load

LINE_W = 10  # fixture segmenter: tokens per pseudo-line window
POS_ENC = 1_000_000  # (doc_id, line_no) -> doc_id * POS_ENC + line_no


def newline_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, line_no, line): the real-corpus segmenter — chr(10)
    split, trailing empties kept (the docquality line convention),
    0-based line numbers."""
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line")
    )


def token_window_lines(docs: DataFrame, width: int = LINE_W) -> DataFrame:
    """(doc_id, line_no, line): the fixture segmenter — raw whitespace
    words re-joined into fixed `width`-token windows (the chunk_embed
    stride shape with stride = size). Zero-word documents contribute no
    lines."""
    words = F.filter(
        F.split(F.col("text"), TOKEN_SPLIT_RE), lambda t: F.length(t) > 0
    )
    w = docs.select("doc_id", words.alias("words")).where(F.size("words") > 0)
    idx = F.sequence(
        F.lit(0), ((F.size("words") - 1) / width).cast("int"), F.lit(1)
    )
    return w.select(
        "doc_id", F.explode(idx).alias("line_no"), F.col("words")
    ).select(
        "doc_id",
        "line_no",
        F.array_join(
            F.slice("words", F.col("line_no") * width + 1, width), " "
        ).alias("line"),
    )


def _line_groups(lines: DataFrame, use_fingerprints: bool) -> DataFrame:
    """(key..., n_occ, first_pos): one partial-aggregated pass over the
    lines frame; `key` is the line string or its (xxhash64, length)
    fingerprint pair."""
    pos = (F.col("doc_id") * POS_ENC + F.col("line_no")).alias("pos")
    if use_fingerprints:
        keyed = lines.select(
            F.xxhash64("line").alias("line_fp"), F.length("line").alias("line_len"), pos
        )
        keys = ["line_fp", "line_len"]
    else:
        keyed = lines.select("line", pos)
        keys = ["line"]
    return keyed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_occ"), F.min("pos").alias("first_pos")
    )


def dup_line_report(lines: DataFrame) -> DataFrame:
    """One-row corpus report: (n_lines, n_distinct_lines,
    dup_occurrences, removed_occurrences, dup_line_ppm) where
    dup_occurrences counts every occurrence of a line that appears more
    than once, removed_occurrences the non-first ones, and dup_line_ppm
    the exact-integer rounded rate of removed per total. Two
    partial-aggregated passes (line groupBy, then a scalar agg over
    <= #distinct-lines count rows)."""
    g = _line_groups(lines, use_fingerprints=False)
    return g.agg(
        F.coalesce(F.sum("n_occ"), F.lit(0)).cast("bigint").alias("n_lines"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_lines"),
        F.coalesce(
            F.sum(F.when(F.col("n_occ") > 1, F.col("n_occ"))), F.lit(0)
        )
        .cast("bigint")
        .alias("dup_occurrences"),
        F.coalesce(F.sum(F.col("n_occ") - 1), F.lit(0))
        .cast("bigint")
        .alias("removed_occurrences"),
    ).select(
        "*",
        F.expr(
            "CAST((removed_occurrences * 1000000L + n_lines div 2)"
            " div greatest(n_lines, 1L) AS BIGINT)"
        ).alias("dup_line_ppm"),
    )


def dedup_lines_keep_first(
    docs: DataFrame,
    lines: DataFrame,
    use_fingerprints: bool = False,
    sep: str = " ",
) -> DataFrame:
    """(doc_id, n_lines, kept_lines, clean_text) for EVERY document:
    each line survives iff its (doc_id, line_no) is the globally first
    occurrence of that exact line (unique lines trivially are) —
    CCNet's keep-one policy at segment granularity. Documents with no
    lines (or whose every line was a later duplicate) degrade to
    kept_lines = 0 / clean_text = ''.

    ``sep`` is the reassembly join separator: keep the default ' ' for
    the token-window fixture segmenter; pass '\\n' with newline_lines so
    the surviving text preserves its line boundaries instead of
    flattening them."""
    g = _line_groups(lines, use_fingerprints)
    pos = F.col("doc_id") * POS_ENC + F.col("line_no")
    if use_fingerprints:
        keyed = lines.withColumn("line_fp", F.xxhash64("line")).withColumn(
            "line_len", F.length("line")
        )
        joined = keyed.join(g, ["line_fp", "line_len"])
    else:
        joined = lines.join(g, "line")
    kept = joined.where(pos == F.col("first_pos"))
    per_doc = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("line_no", "line"))
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("kept_lines", F.lit(0)).cast("bigint").alias("kept_lines"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


# --- registered-query-shaped entries (fixture token-window segmenter) ------


def dup_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_line_report(token_window_lines(docs))


def line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_lines_keep_first(docs, token_window_lines(docs))


# --- incremental form: new crawl batch vs the standing line index ----------


def incremental_line_dedup(
    spark: SparkSession,
    sf_dir: str,
    use_fingerprints: bool = False,
    sep: str = " ",
) -> DataFrame:
    """(doc_id, n_lines, dup_lines, clean_text) for each NEW-batch
    document (dedup.is_new_batch, the incremental_dedup_assign
    convention): lines already present in the standing OLD-corpus line
    set are dropped, the rest reassemble in order — the recurring
    production shape at 100 TB, where the distinct line set is a
    maintained asset and each increment only PROBES it
    (one semi-join, cost ∝ increment size), never re-scanning
    old-vs-old. Only new-vs-old duplication counts here; repeats within
    the batch are the batch's own intra-run keep-first pass
    (dedup_lines_keep_first). On a deployment the standing index is the
    persisted table — stored as xxhash64 fingerprints:
    ``use_fingerprints=True`` probes by (xxhash64, length) so both the
    asset and the semi-join exchange carry 8-byte keys instead of line
    text, pinned output-identical to the string path by test. Here it
    rebuilds from the fixture so the DuckDB oracle is self-contained."""
    from .dedup import is_new_batch

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    lines = token_window_lines(docs)
    if use_fingerprints:
        lines = lines.withColumn("line_fp", F.xxhash64("line")).withColumn(
            "line_len", F.length("line")
        )
        probe_keys = ["line_fp", "line_len"]
    else:
        probe_keys = ["line"]
    is_new = is_new_batch()
    standing = lines.where(~is_new).select(*probe_keys).distinct()
    new_lines = lines.where(is_new)
    # single new-side pass: a LEFT join against the standing key set
    # with a hit marker lets ONE doc-keyed aggregate produce n_lines,
    # kept_lines, AND the kept-only clean_text, instead of exploding the
    # corpus three times (standing, kept-anti-join, totals) and
    # aggregating the new side twice. The standing distinct stays a
    # partial-aggregated groupBy (skew-safe), never a per-line window.
    hit = standing.withColumn("dup_hit", F.lit(1))
    marked = new_lines.join(hit, probe_keys, "left")
    is_kept = F.col("dup_hit").isNull()
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.coalesce(F.sum(is_kept.cast("long")), F.lit(0))
        .cast("bigint")
        .alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(is_kept, F.struct("line_no", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    return (
        docs.where(is_new)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            (
                F.coalesce("n_lines", F.lit(0))
                - F.coalesce("kept_lines", F.lit(0))
            )
            .cast("bigint")
            .alias("dup_lines"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
