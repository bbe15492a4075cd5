"""Text-analysis operators for training-data pipelines (north-star
extension): language ID, quality scoring, token counting, fingerprinting.

No reference counterpart; everything is built-in column expressions
(whole-stage codegen, zero Python in the hot path), each with a DuckDB
oracle twin so the heuristics are pinned cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import floor_round, ppm
from ..functions.text import tokenize
from ..sources.tables import load

# Small per-language stopword lists for the n-gram/stopword heuristic.
# Order matters: deterministic tie-break = first language in this list.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "zu", "mit", "den"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "los", "se", "por"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "les", "des", "une"),
    "zh": ("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"),
}
LANG_MIN_SCORE = 0.05  # below this ratio -> 'und'

FINGERPRINT_MOD = 2_147_483_647  # 2^31 - 1
FINGERPRINT_BANDS = 1024


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang_pred, lang_score): stopword-ratio heuristic, argmax
    over LANG_STOPWORDS with deterministic priority tie-break; 'und' when
    the best ratio is below LANG_MIN_SCORE."""
    toks = _docs(spark, sf_dir).select("doc_id", tokenize("text").alias("toks"))
    scored = toks.select(
        "doc_id",
        *[
            (
                _stopword_hits(F.col("toks"), words)
                / F.greatest(F.size("toks"), F.lit(1))
            ).alias(f"s_{lang}")
            for lang, words in LANG_STOPWORDS.items()
        ],
    )
    best_score = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_STOPWORDS])
    pred = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):  # first lang wins ties
        pred = F.when(
            (F.col(f"s_{lang}") == best_score) & (best_score >= LANG_MIN_SCORE),
            F.lit(lang),
        ).otherwise(pred)
    return scored.select(
        "doc_id",
        pred.alias("lang_pred"),
        floor_round(best_score, 6).alias("lang_score"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics + a clipped linear quality score:
    length, token stats, stopword ratio, punctuation ratio."""
    return quality_metrics(_docs(spark, sf_dir))


def quality_metrics(docs: DataFrame) -> DataFrame:
    """text_quality over an explicit (doc_id, text) frame — the seam
    that lets increment-sized callers (incremental_curate's quality
    leg) score ONLY their batch instead of the whole corpus. Per-row
    metrics, so restricting the input frame cannot change any row's
    values."""
    toks = docs.select("doc_id", "text", tokenize("text").alias("toks"))
    n_chars = F.length("text")
    n_tokens = F.size("toks")
    letters_spaces = F.length(F.regexp_replace(F.lower("text"), "[^a-z ]", ""))
    punct_ratio = (n_chars - letters_spaces) / F.greatest(n_chars, F.lit(1))
    stop_ratio = _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"]) / F.greatest(
        n_tokens, F.lit(1)
    )
    avg_tok = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    score = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0), F.lit(0.5) + stop_ratio - punct_ratio * 5
        ),
    )
    return toks.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        # floor-round, not F.round: all four are exact integer ratios, so
        # .5-micro ties are reachable and engine round() tie-breaks
        # diverge (see functions/numerics.py::floor_round)
        floor_round(avg_tok, 6).alias("avg_token_len"),
        floor_round(stop_ratio, 6).alias("stopword_ratio"),
        floor_round(punct_ratio, 6).alias("punct_ratio"),
        floor_round(score, 6).alias("quality_score"),
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimators per document: whitespace words, BPE-ish
    regex pieces ([a-z]+ | digit runs | single punct), chars/4 LLM
    heuristic."""
    docs = _docs(spark, sf_dir)
    bpe = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    return docs.select(
        "doc_id",
        F.size(tokenize("text")).alias("n_words"),
        F.size(bpe).alias("n_bpe_pieces"),
        F.ceil(F.length("text") / 4).cast("bigint").alias("n_tokens_est"),
    )


CLEAN_LANG = "en"
CLEAN_MIN_QUALITY = 0.55
CLEAN_MIN_TOKENS = 10
CLEAN_MAX_TOKENS = 80


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline as ONE declarative plan:
    exact dedup (keep the canonical copy), language gate, quality gate,
    token budget. (doc_id, n_tokens, quality_score, lang_score).

    One tokenization pass for the language/quality metrics; the dedup
    canonical flag arrives as a NARROW (doc_id, is_canonical) join built
    from a digest groupBy — not a digest-partitioned window, which would
    pin a mass-duplicated text's every copy (with its full text+tokens
    row!) in one task, and not a digest join of the full rows either:
    only (doc_id, digest) pairs ever shuffle, and the flag joins back on
    the unskewed doc_id. Composing the standalone language_id/
    text_quality/exact_dedup operators instead would tokenize the corpus
    three times.
    """
    docs = _docs(spark, sf_dir)
    digests = docs.select("doc_id", F.md5("text").alias("dig"))
    canon = digests.groupBy("dig").agg(F.min("doc_id").alias("can_id"))
    flags = digests.join(canon, "dig").select(
        "doc_id", (F.col("doc_id") == F.col("can_id")).alias("is_canonical")
    )
    base = docs.join(flags, "doc_id").select(
        "doc_id",
        "text",
        tokenize("text").alias("toks"),
        "is_canonical",
    )

    n_chars = F.length("text")
    n_tokens = F.size("toks")
    letters_spaces = F.length(F.regexp_replace(F.lower("text"), "[^a-z ]", ""))
    punct_ratio = (n_chars - letters_spaces) / F.greatest(n_chars, F.lit(1))
    stop_ratio = _stopword_hits(F.col("toks"), LANG_STOPWORDS["en"]) / F.greatest(
        n_tokens, F.lit(1)
    )
    quality = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), F.lit(0.5) + stop_ratio - punct_ratio * 5)
    )

    scored = base.select(
        "doc_id",
        "is_canonical",
        n_tokens.alias("n_tokens"),
        floor_round(quality, 6).alias("quality_score"),
        *[
            (
                _stopword_hits(F.col("toks"), words)
                / F.greatest(F.size("toks"), F.lit(1))
            ).alias(f"s_{lang}")
            for lang, words in LANG_STOPWORDS.items()
        ],
    )
    best_score = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_STOPWORDS])
    pred = F.lit("und")
    for lang in reversed(list(LANG_STOPWORDS)):  # first lang wins ties
        pred = F.when(
            (F.col(f"s_{lang}") == best_score) & (best_score >= LANG_MIN_SCORE),
            F.lit(lang),
        ).otherwise(pred)

    return (
        scored.where(
            F.col("is_canonical")
            & (pred == CLEAN_LANG)
            & (F.col("quality_score") >= CLEAN_MIN_QUALITY)
            & F.col("n_tokens").between(CLEAN_MIN_TOKENS, CLEAN_MAX_TOKENS)
        )
        .select(
            "doc_id",
            "n_tokens",
            "quality_score",
            floor_round(best_score, 6).alias("lang_score"),
        )
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fingerprint, band): order-sensitive polynomial rolling hash
    of the token sequence, fp = fold(acc*31 + h8(tok)) mod (2^31-1); band
    = fp % 1024 groups documents for shard-local comparison."""
    from ..functions.hashing import h8 as _h8

    toks = _docs(spark, sf_dir).select("doc_id", tokenize("text").alias("toks"))
    fp = F.aggregate(
        F.transform("toks", lambda t: _h8(t)),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % FINGERPRINT_MOD,
    )
    return toks.select(
        "doc_id",
        fp.alias("fingerprint"),
        (fp % FINGERPRINT_BANDS).alias("band"),
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, distinct_token_ratio, top_token_frac,
    top_bigram_frac): Gopher-style repetition signals — boilerplate and
    degenerate generations repeat tokens/bigrams far above natural prose,
    so training-data filters threshold on exactly these fractions.

    Plan shape: two partial-aggregatable explode->groupBy passes (token
    mode, bigram mode) joined on doc_id; every aggregation is keyed by
    doc_id so it shuffles narrow count rows, never text. Docs with no
    tokens report 0 ratios; docs with a single token have no bigrams and
    report top_bigram_frac 0.
    """
    toks = _docs(spark, sf_dir).select("doc_id", tokenize("text").alias("toks"))

    tok_counts = (
        toks.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("max_tok"),
        )
    )
    bigrams = toks.where(F.size("toks") > 1).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda l, r: F.concat(l, F.lit(" "), r),
            )
        ).alias("b"),
    )
    bg_counts = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_bg"), F.max("c").alias("max_bg"))
    )
    base = _docs(spark, sf_dir).select("doc_id")
    return (
        base.join(tok_counts, "doc_id", "left")
        .join(bg_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tok"), F.lit(0)).cast("bigint").alias("n_tokens"),
            floor_round(
                F.coalesce(F.col("n_distinct") / F.col("n_tok"), F.lit(0.0)), 6
            ).alias("distinct_token_ratio"),
            floor_round(
                F.coalesce(F.col("max_tok") / F.col("n_tok"), F.lit(0.0)), 6
            ).alias("top_token_frac"),
            floor_round(
                F.coalesce(F.col("max_bg") / F.col("n_bg"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
        )
    )


SEQ_LEN = 2048  # tokens per packed training sequence
PACK_SALT = "pack-v1"


def sequence_pack(
    spark: SparkSession, sf_dir: str, seq_len: int = SEQ_LEN
) -> DataFrame:
    """(doc_id, n_tokens, seq_id, seq_offset): concat-and-chunk packing of
    the corpus into fixed ``seq_len``-token training sequences — the step
    between a cleaned corpus and pretraining batches. Documents are laid
    end-to-end in a deterministic salted-hash order (reshuffles with the
    salt, reproducible across engines/partitionings like every sampler
    here); each doc records the sequence its first token lands in and the
    offset within it. Sequences are exactly full except the last; a doc
    whose tokens straddle a boundary continues into the next sequence,
    exactly like the GPT-style pack-then-chunk pipeline.

    The global running token sum comes from the range-partitioned prefix
    machinery (operators/distsort.py) — pure int64 arithmetic end-to-end,
    so the DuckDB oracle reproduces every (seq_id, offset) bit-for-bit."""
    from ..functions.hashing import h8
    from .distsort import with_running_totals

    q = text_quality(spark, sf_dir).select("doc_id", "n_tokens")
    ordered = q.withColumn(
        "ok", h8(F.concat(F.col("doc_id").cast("string"), F.lit(PACK_SALT)))
    )
    packed = with_running_totals(
        ordered, [F.asc("ok"), F.asc("doc_id")], {"cum": "n_tokens"}
    )
    before = F.col("cum") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(cum - n_tokens) DIV {seq_len}").alias("seq_id"),
        (before % seq_len).alias("seq_offset"),
    )


TOKEN_BUDGET = 10_000


def token_budget_pack(
    spark: SparkSession, sf_dir: str, budget: int = TOKEN_BUDGET
) -> DataFrame:
    """(doc_id, n_tokens, quality_score, cum_tokens): greedy quality-first
    corpus packing — take documents in descending quality order until the
    cumulative token count fills the training budget. The standard "data
    mixing under a token budget" selection step of an LLM pipeline.

    Exact-greedy needs a running sum over the global quality order; the
    range-partitioned prefix sum (operators/distsort.py) supplies it
    without a single-partition sort — each task sorts only its slice of
    the (3 narrow columns, never text) metadata, so the exact boundary
    stays cheap at any corpus size.
    """
    from .distsort import with_running_totals

    q = text_quality(spark, sf_dir)
    return with_running_totals(
        q.select("doc_id", "n_tokens", "quality_score"),
        [F.desc("quality_score"), F.asc("doc_id")],
        {"cum_tokens": "n_tokens"},
    ).where(F.col("cum_tokens") <= budget)


CHUNK_SIZE = 32  # tokens per retrieval chunk
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def doc_chunks(
    spark: SparkSession,
    sf_dir: str,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_tokens, chunk_text): overlapping
    token-window chunking — the document-splitting step of a RAG /
    embedding-indexing pipeline. Chunk i covers tokens
    [i*stride, i*stride + size); the final chunk may be short.

    Pure per-row expansion (sequence + posexplode + slice), zero Python
    and zero shuffle: chunking 100 TB is exactly one narrow scan, and the
    output inherits the input partitioning for the embedding stage that
    follows.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", tokenize("text").alias("toks")
    )
    toks = toks.where(F.size("toks") > 0)
    starts = F.sequence(F.lit(0), F.size("toks") - 1, F.lit(stride))
    chunked = toks.select(
        "doc_id", F.posexplode(starts).alias("chunk_id", "start"), "toks"
    )
    piece = F.slice("toks", F.col("start") + 1, size)
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def token_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus-level Zipf diagnostics: vocabulary size, token
    count, and the OLS fit of log(frequency) on log(rank) — slope near -1
    is the natural-text signature; a flat or cliff-shaped fit flags
    synthetic or template-heavy corpora in a data-quality dashboard.

    The frequency ranking is a total order over the vocabulary, so the
    global row number comes from the range-partitioned prefix machinery
    (operators/distsort.py), never a single-partition window; the
    regression itself is one partial+final aggregate (regr_slope /
    regr_intercept / regr_r2 are plain JVM aggregates).
    """
    from .distsort import with_running_totals

    wc = (
        _docs(spark, sf_dir)
        .select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = with_running_totals(
        wc, [F.desc("cnt"), F.asc("token")], {}, row_col="rank"
    )
    y, x = F.log(F.col("cnt").cast("double")), F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("zipf_r2"),
    )


def pack_manifest(
    spark: SparkSession, sf_dir: str, seq_len: int = SEQ_LEN
) -> DataFrame:
    """(seq_id, n_docs, seq_tokens, doc_spans): the inverse view of
    sequence_pack — for every fixed-length training sequence, which
    document pieces it contains and where. This is the manifest a
    trainer consumes to build document-boundary attention masks (and
    the lineage audit that maps any training token back to its source
    doc); every real concat-and-chunk pipeline materializes it.

    doc_spans renders as the canonical 'doc:start:end' ';'-join in
    in-sequence order — pure integer arithmetic end-to-end, so the
    DuckDB twin reproduces it byte-for-byte. Shape: each doc explodes
    into the <= n_tokens/seq_len + 1 sequences it crosses (bounded by
    doc length, not corpus size), then ONE partial-aggregated groupBy
    per sequence; no window beyond sequence_pack's own distsort
    machinery."""
    from ..functions.hashing import h8
    from .distsort import with_running_totals

    q = text_quality(spark, sf_dir).select("doc_id", "n_tokens")
    ordered = q.withColumn(
        "ok", h8(F.concat(F.col("doc_id").cast("string"), F.lit(PACK_SALT)))
    )
    packed = with_running_totals(
        ordered, [F.asc("ok"), F.asc("doc_id")], {"cum": "n_tokens"}
    ).where(F.col("n_tokens") > 0)
    before = F.col("cum") - F.col("n_tokens")
    spans = packed.select(
        "doc_id",
        "n_tokens",
        before.alias("gstart"),
        F.explode(
            F.sequence(
                # exact integer DIV like sequence_pack — double division
                # truncates differently above 2^53 cumulative tokens
                F.expr(f"(cum - n_tokens) DIV {seq_len}"),
                F.expr(f"(cum - 1) DIV {seq_len}"),
            )
        ).alias("seq_id"),
    ).select(
        "seq_id",
        "doc_id",
        F.greatest(F.col("gstart") - F.col("seq_id") * seq_len, F.lit(0)).alias(
            "start"
        ),
        (
            F.least(
                F.col("gstart") + F.col("n_tokens") - 1,
                (F.col("seq_id") + 1) * seq_len - 1,
            )
            - F.col("seq_id") * seq_len
        ).alias("end"),
    )
    piece = F.struct(
        F.col("start").cast("bigint").alias("start"),
        F.col("doc_id").alias("doc_id"),
        F.col("end").cast("bigint").alias("end"),
    )
    return spans.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("end") - F.col("start") + 1).cast("bigint").alias("seq_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(piece)),
                lambda s: F.concat_ws(
                    ":",
                    s["doc_id"].cast("string"),
                    s["start"].cast("string"),
                    s["end"].cast("string"),
                ),
            ),
            ";",
        ).alias("doc_spans"),
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang_true, lang_pred, n_docs, row_ppm): the language-ID confusion
    matrix — predicted (stopword-heuristic) language against the stored
    corpus label, with each cell's share of its TRUE-language row in
    exact ppm. The calibration card a pipeline reads before trusting
    lang_pred for mixture planning or per-language gates: the diagonal
    is per-language recall, the 'und' column shows where the detector
    abstains.

    Shape: one narrow doc_id join of the langid scan against the label
    column, one partial-aggregated groupBy to observed cells (the #langs²
    bound), and a broadcast join of the #langs-row true-language totals;
    row_ppm is exact rounded integer division. Observed cells only —
    both engines group identically, so the sparse zero cells stay absent
    on both sides."""
    labels = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_true")
    )
    pred = language_id(spark, sf_dir).select("doc_id", "lang_pred")
    cells = (
        labels.join(pred, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    totals = labels.groupBy("lang_true").agg(
        F.count(F.lit(1)).cast("bigint").alias("row_total")
    )
    return cells.join(F.broadcast(totals), "lang_true").select(
        "lang_true",
        "lang_pred",
        "n_docs",
        ppm("n_docs", "row_total").alias("row_ppm"),
    )
