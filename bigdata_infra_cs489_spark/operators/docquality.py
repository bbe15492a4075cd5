"""Gopher-style document quality rules (Rae et al. 2021, "Scaling
Language Models: ... Gopher", Appendix A1.1).

The heuristic quality gate LLM pipelines run before model-based
filtering: per-document word-count bounds, mean-word-length bounds,
symbol-to-word ratio, bullet/ellipsis line fractions, alphabetic-word
fraction, and a minimum stop-word hit count. No reference counterpart
(north-star extension family, the curation shelf next to text_quality
and clean_corpus).

Scale/determinism design:
- one narrow projection over the text scan; every metric is a codegen'd
  or higher-order array expression (no Python, no shuffle, no window) —
  the whole gate is embarrassingly parallel at any corpus size;
- every FLAG is exact INTEGER arithmetic (cross-multiplication instead
  of float division: ``10*n_symbols <= n_words`` rather than
  ``n_symbols/n_words <= 0.1``), so a flag can never flip on a last-ulp
  float disagreement between engines — the only float in the output is
  the 6dp display ratio, a single division of identical int64 pairs;
- word = raw whitespace-split token (Java's \\s class spelled out, the
  repo tokenizer's split — see functions/text.py TOKEN_SPLIT_RE for why
  \\x0B is explicit); line = chr(10) split with trailing empties kept on
  both engines.

Zero-word documents pass the length-shape flags vacuously (0 <= 0) and
fail flag_word_count, so gopher_pass is still False.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import floor_round, ppm

from ..functions.text import TOKEN_SPLIT_RE
from ..sources.tables import load

# Appendix A1.1's "required words" list.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_STOPWORDS = 2


def gopher_metrics(docs: DataFrame) -> DataFrame:
    """(doc_id, integer rule inputs, 6dp mean_word_len, 7 rule flags,
    gopher_pass) for every document."""
    words = F.filter(
        F.split(F.col("text"), TOKEN_SPLIT_RE), lambda t: F.length(t) > 0
    )
    lines = F.split(F.col("text"), "\n")

    base = docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.aggregate(
            words, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
        ).alias("word_chars"),
        F.size(F.filter(words, lambda t: t.rlike("[A-Za-z]")))
        .cast("bigint")
        .alias("n_alpha_words"),
        sum(
            F.array_contains(F.transform(words, F.lower), s).cast("bigint")
            for s in GOPHER_STOPWORDS
        ).alias("n_stopword_hits"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.filter(lines, lambda l: l.rlike("^ *[-*]")))
        .cast("bigint")
        .alias("n_bullet_lines"),
        F.size(F.filter(lines, lambda l: l.rlike("\\.\\.\\.$")))
        .cast("bigint")
        .alias("n_ellipsis_lines"),
        F.regexp_count("text", F.lit("#|\\.\\.\\.")).cast("bigint").alias("n_symbols"),
    )

    nw = F.col("n_words")
    flags = base.select(
        "*",
        floor_round(F.col("word_chars") / F.greatest(nw, F.lit(1)), 6).alias(
            "mean_word_len"
        ),
        nw.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).alias("flag_word_count"),
        (
            (F.col("word_chars") >= 3 * nw) & (F.col("word_chars") <= 10 * nw)
        ).alias("flag_mean_word_len"),
        (10 * F.col("n_symbols") <= nw).alias("flag_symbol_ratio"),
        (10 * F.col("n_bullet_lines") <= 9 * F.col("n_lines")).alias("flag_bullet"),
        (10 * F.col("n_ellipsis_lines") <= 3 * F.col("n_lines")).alias(
            "flag_ellipsis"
        ),
        (5 * F.col("n_alpha_words") >= 4 * nw).alias("flag_alpha"),
        (F.col("n_stopword_hits") >= GOPHER_MIN_STOPWORDS).alias("flag_stopwords"),
    )
    return flags.withColumn(
        "gopher_pass",
        F.col("flag_word_count")
        & F.col("flag_mean_word_len")
        & F.col("flag_symbol_ratio")
        & F.col("flag_bullet")
        & F.col("flag_ellipsis")
        & F.col("flag_alpha")
        & F.col("flag_stopwords"),
    )


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: the full rule table over documents."""
    return gopher_metrics(load(spark, sf_dir, "documents"))


def gopher_pass_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rule, n_fail, fail_ppm): corpus failure rate per rule — the
    report a pipeline owner reads to tune thresholds before gating.
    One partial-aggregated pass; #rules rows of driver state."""
    return gopher_rate_report(gopher_metrics(load(spark, sf_dir, "documents")))


def gopher_rate_report(m: DataFrame) -> DataFrame:
    """The report aggregation over an already-computed metrics frame."""
    # count(*) + coalesced sums + greatest(n_docs, 1): a zero-document
    # corpus degrades to 8 rows of n_fail=0 / fail_ppm=0 instead of NULLs
    # (sum over zero rows is NULL, and x div NULL is NULL) — the
    # degrade-to-zero contract the sibling report operators follow.
    n_docs = F.count(F.lit(1))
    aggs = [
        F.coalesce(F.sum((~F.col(c)).cast("bigint")), F.lit(0)).alias(
            c.removeprefix("flag_")
        )
        for c in (
            "flag_word_count",
            "flag_mean_word_len",
            "flag_symbol_ratio",
            "flag_bullet",
            "flag_ellipsis",
            "flag_alpha",
            "flag_stopwords",
        )
    ] + [
        F.coalesce(F.sum((~F.col("gopher_pass")).cast("bigint")), F.lit(0)).alias(
            "gopher_pass"
        )
    ]
    wide = m.agg(n_docs.cast("bigint").alias("n_docs"), *aggs)
    names = [
        "word_count",
        "mean_word_len",
        "symbol_ratio",
        "bullet",
        "ellipsis",
        "alpha",
        "stopwords",
        "gopher_pass",
    ]
    tall = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("rule"),
                        F.col(n).alias("n_fail"),
                        F.col("n_docs").alias("n_docs"),
                    )
                    for n in names
                ]
            )
        ).alias("r")
    )
    return tall.select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_fail").alias("n_fail"),
        ppm("r.n_fail", "r.n_docs").alias("fail_ppm"),
    )


def quality_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, quality_ok, gopher_ok, n_docs, bucket_ppm): the
    three-signal quality agreement card — for every CCNet perplexity
    tercile, how its documents split across the heuristic quality gate
    (quality_score >= CURATE_MIN_QUALITY) and the curate-trusted Gopher
    rule gate (CURATE_GOPHER_RULES, the same subset corpus_curate_v2
    enforces — the full 7-rule gopher_pass is structurally False on the
    single-line synthetic fixture and would degenerate the matrix). The
    near_dup_method_audit discipline applied to quality signals: three
    independent quality judgments (LM fluency, surface heuristics,
    shape rules) should broadly agree, and a pipeline owner reads this
    card before trusting any single one as the training filter — a
    'head' tercile failing the heuristic gate wholesale means one of
    the signals is miscalibrated for this corpus. Domain is the
    LM-scoreable documents (>= 2 tokens), the tercile operator's own.

    Shape: three doc_id-keyed narrow scalar joins, one partial-
    aggregated groupBy to <= 3*2*2 cells, and a broadcast join of the
    3-row bucket totals; bucket_ppm is exact rounded integer division."""
    from .ccnet import ccnet_perplexity_buckets
    from .curate import CURATE_GOPHER_RULES, CURATE_MIN_QUALITY
    from .textstats import text_quality

    b = ccnet_perplexity_buckets(spark, sf_dir).select("doc_id", "bucket")
    q = text_quality(spark, sf_dir).select(
        "doc_id",
        (F.col("quality_score") >= CURATE_MIN_QUALITY).alias("quality_ok"),
    )
    gate = None
    for r in CURATE_GOPHER_RULES:
        c = F.col(r)
        gate = c if gate is None else (gate & c)
    g = gopher_quality_flags(spark, sf_dir).select(
        "doc_id", gate.alias("gopher_ok")
    )
    # NOTE (round 12, measured): do NOT localCheckpoint this frame —
    # both consumers aggregate the same JVM shuffle output and AQE's
    # ReusedExchange already runs the lineage once (3.52 s vs 4.39 s
    # with an explicit pin at sf0.1). The pin only pays when reuse
    # can't engage (Python stages, window/distsort outputs).
    j = b.join(q, "doc_id").join(g, "doc_id")
    cells = j.groupBy("bucket", "quality_ok", "gopher_ok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    totals = j.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("row_total")
    )
    return cells.join(F.broadcast(totals), "bucket").select(
        "bucket",
        "quality_ok",
        "gopher_ok",
        "n_docs",
        ppm("n_docs", "row_total").alias("bucket_ppm"),
    )
