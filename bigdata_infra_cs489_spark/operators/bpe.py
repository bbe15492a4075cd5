"""Distributed BPE (byte-pair encoding) merge-table training — the
subword-tokenizer induction step of an LLM data pipeline.

No reference counterpart (north-star extension, iterative-trainer family
alongside k-means and SGD). Classic BPE (Sennrich et al. 2016, public
algorithm): start from characters, repeatedly merge the most frequent
adjacent symbol pair (ties broken lexicographically), emitting the merge
table that a tokenizer would replay at inference time.

Scale shape: training runs on the WORD VOCABULARY (word, count, symbol
array) — the corpus collapses to it with one hash aggregate, after which
every iteration touches only vocabulary rows (at web scale: millions of
rows, not trillions of tokens). Per merge: one pair-count aggregate
(partial+final), one 1-row argmax collect (model-sized driver traffic,
the k-means pattern), and a narrow ``aggregate`` fold that applies the
merge left-to-right non-overlapping — pure JVM column expressions, no
Python. Lineage is truncated per iteration with a lazy localCheckpoint
(the PPR pattern) so plan depth stays constant.

The whole loop is integer arithmetic on exact counts with a total
tie-break, so the DuckDB oracle replays it exactly: the same K
iterations unroll into pair-count/argmax CTEs plus a recursive
position-fold per merge (plans/catalog.py _bpe_with).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import ppm
from ..functions.text import tokenize
from ..sources.tables import load
from .assets import asset_path, ensure, read

N_MERGES = 8

_CHARS_EXPR = (
    "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
)

_PAIRS_EXPR = (
    "transform(sequence(1, size(syms) - 1),"
    " i -> struct(element_at(syms, i) as a, element_at(syms, i + 1) as b))"
)


def _merge_fold(a: str, b: str) -> str:
    """SQL fold applying merge (a, b) left-to-right, non-overlapping:
    append each symbol unless the previous output symbol is ``a`` and the
    current is ``b``, in which case replace the tail with the merged
    symbol. Tokens are [a-z]+ so embedding them as SQL literals is safe."""
    merged = a + b
    return f"""aggregate(syms, cast(array() as array<string>), (acc, x) ->
      case when size(acc) > 0 and element_at(acc, -1) = '{a}' and x = '{b}'
      then concat(slice(acc, 1, size(acc) - 1), array('{merged}'))
      else concat(acc, array(x)) end)"""


def word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt, syms): the corpus collapsed to its word vocabulary
    with occurrence counts and initial character symbol arrays."""
    toks = (
        load(spark, sf_dir, "documents", parallelize=True)
        .select(F.explode(tokenize("text")).alias("word"))
    )
    return (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", F.expr(_CHARS_EXPR).alias("syms"))
    )


# Hard cap on driver-loop merges. BPE's argmax-per-merge is inherently
# sequential — each merge's pair counts depend on the previous merge's
# rewrite — so this implementation pays ONE driver round-trip (a 1-row
# collect + a lazy checkpoint) per merge. That is the right trade at the
# registry's N_MERGES=8 (milliseconds of driver time, all heavy work
# distributed), but it does NOT extrapolate to production vocabularies:
# a 32k-merge GPT-style vocab would serialize 32k Spark jobs. At that
# scale train on the word-frequency TABLE driver-side (it is vocab-sized,
# ~1e5 rows even at 100 TB corpus scale — the standard practice: corpus
# -> distributed word count -> single-node BPE over the weighted
# vocabulary), or batch provably non-interacting merges per pass. The cap
# exists so nobody silently runs the driver loop into that regime.
MAX_DRIVER_MERGES = 64


def train_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> tuple[list[tuple], DataFrame]:
    """Learn ``n_merges`` merges; returns (merge table rows, the final
    segmented vocabulary). Merge rows are (merge_rank, left_sym,
    right_sym, merged, pair_count).

    ``n_merges`` is capped at MAX_DRIVER_MERGES — see the constant's
    comment for why the per-merge driver round-trip must not be scaled
    to real vocabularies."""
    if n_merges > MAX_DRIVER_MERGES:
        raise ValueError(
            f"n_merges={n_merges} exceeds MAX_DRIVER_MERGES="
            f"{MAX_DRIVER_MERGES}: the driver-loop trainer serializes one "
            "Spark job per merge. For production vocab sizes, run BPE "
            "single-node over the distributed word-frequency table "
            "(word_vocab()), which is vocab-sized, not corpus-sized."
        )
    df = word_vocab(spark, sf_dir).localCheckpoint(eager=False)
    merges: list[tuple] = []
    for k in range(n_merges):
        pairs = (
            df.where(F.size("syms") >= 2)
            .select("cnt", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
        )
        top = (
            pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((k, a, b, a + b, n))
        df = df.withColumn("syms", F.expr(_merge_fold(a, b))).localCheckpoint(
            eager=False
        )
    return merges, df


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(merge_rank, left_sym, right_sym, merged, pair_count): the learned
    merge table in training order — the tokenizer model artifact."""
    merges, _ = train_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string,"
        " merged string, pair_count bigint",
    )


# Bump on ANY change to the trainer or its inputs (tokenizer, merge
# count, the fold semantics) — the DEDUP_INDEX_VERSION discipline;
# tests/test_bpe.py::test_standing_bpe_vocab_matches_inline re-derives
# the inline training against the asset so a missed bump still fails CI
# on the test fixtures.
BPE_VOCAB_VERSION = 1
BPE_VOCAB_SCHEMA = "word STRING, cnt BIGINT, syms ARRAY<STRING>"


def bpe_vocab_path(sf_dir: str) -> str:
    """Standing segmented-vocabulary location for one data generation of
    the documents table, keyed on the merge count and BPE_VOCAB_VERSION."""
    return asset_path(
        sf_dir, "documents", f"bpevocab_v{BPE_VOCAB_VERSION}", f"m{N_MERGES}"
    )


def standing_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained segmented vocabulary (word, cnt, syms) served as a
    STANDING asset — the tokenizer model artifact a pipeline trains once
    and every encode job replays (exactly how a deployment treats its
    tokenizer: a model-registry entry, never retrained per batch). Built
    on first touch by the inline train_bpe loop (8 sequential
    pair-count/argmax jobs — the honest training price, paid once per
    data generation), then probed as a parquet scan by the
    encode/coverage/fertility cards. The registered bpe_merges card
    stays the inline training bootstrap. Values are bit-identical (exact
    integer counts, string symbol arrays; parquet round-trips both
    exactly); the DuckDB oracles replay the inline chain, unchanged."""
    import os

    path = ensure(
        bpe_vocab_path(sf_dir),
        ("vocab",),
        lambda tmp: train_bpe(spark, sf_dir)[1].write.parquet(
            os.path.join(tmp, "vocab")
        ),
    )
    return read(spark, path, "vocab", BPE_VOCAB_SCHEMA)


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, n): corpus frequency of each subword token after applying
    the learned merges — what the vocabulary's coverage looks like at
    this merge count."""
    df = standing_bpe_vocab(spark, sf_dir)
    return (
        df.select("cnt", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
    )


def bpe_encode_stats(
    spark: SparkSession, sf_dir: str, broadcast_vocab: bool = True
) -> DataFrame:
    """(doc_id, n_words, n_subwords, n_chars, fertility_micro,
    chars_per_subword_micro): the corpus ENCODED with the learned merge
    table — the tokenizer-apply step (and the fertility card: subwords
    per word, chars per subword) a pipeline reads to size a token budget
    and compare tokenizer candidates per language/source.

    Production shape: encoding never re-runs merges per token — the
    trained segmentation is a WORD -> subwords table, and the corpus
    pays ONE word-explode joined against it plus one partial-aggregated
    per-doc groupBy. Honest scale note: train_bpe's returned frame is
    the corpus's full DISTINCT-WORD vocabulary (not the ~1e5 merge
    vocabulary), which at web scale is hundreds of millions of rows —
    fine to broadcast at fixture scale, but past it a deployment either
    truncates to a capped vocabulary with an UNK fallback (the
    bpe_vocab_coverage sizing card) or runs the SHUFFLE join this
    function exposes as ``broadcast_vocab=False`` — same word-keyed
    equi-join, Catalyst plans the exchange on both sides, output pinned
    row-identical by test. Zero-token docs degrade to an all-zeros row
    via the docs spine. All derived rates are exact rounded integer
    division (micro units)."""
    vocab = standing_bpe_vocab(spark, sf_dir)
    seg = vocab.select(
        "word",
        F.size("syms").cast("bigint").alias("n_sub"),
        F.length("word").cast("bigint").alias("n_chars"),
    )
    if broadcast_vocab:
        seg = F.broadcast(seg)
    else:
        # defeat the auto-broadcast below the threshold so the plan truly
        # exercises the at-scale shuffle-join shape
        seg = seg.hint("SHUFFLE_HASH")
    words = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", F.explode(tokenize("text")).alias("word")
    )
    per_doc = (
        words.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_subwords"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )
    spine = load(spark, sf_dir, "documents").select("doc_id")
    return (
        spine.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_subwords", F.lit(0)).cast("bigint").alias("n_subwords"),
            F.coalesce("n_chars", F.lit(0)).cast("bigint").alias("n_chars"),
        )
        .select(
            "*",
            ppm("n_subwords", "n_words").alias("fertility_micro"),
            ppm("n_chars", "n_subwords").alias("chars_per_subword_micro"),
        )
    )


BPE_VOCAB_CAP = 24  # capped deployment vocabulary for the coverage card


def bpe_vocab_coverage(
    spark: SparkSession, sf_dir: str, cap: int = BPE_VOCAB_CAP
) -> DataFrame:
    """(vocab_cap, total_subword_occ, covered_subword_occ, coverage_ppm,
    total_word_occ, fully_covered_word_occ, word_coverage_ppm): what a
    CAPPED subword vocabulary covers — the card behind the UNK-fallback
    decision the encode stage's scale note calls for: keep the top
    ``cap`` subwords by corpus occurrence (count desc, token asc
    tie-break) and measure (a) the share of subword occurrences the cap
    retains and (b) the share of word occurrences whose EVERY subword
    survives (words that encode with zero UNKs).

    Shape: the trained segmentation explodes to (token, occurrences)
    [bpe_token_counts' aggregate], the top-cap set is a cap-sized
    driver-state collect (model-sized, the centroid/codebook
    discipline), and both coverage legs are one partial-aggregated pass
    over the vocabulary frame with the cap set as a literal IN-list —
    no second corpus scan, no join. Exact integer arithmetic in micro
    units throughout."""
    vocab = standing_bpe_vocab(spark, sf_dir)
    tok_occ = (
        vocab.select("cnt", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
    )
    top = [
        r["token"]
        for r in tok_occ.orderBy(F.desc("n"), F.asc("token")).limit(cap).collect()
    ]
    in_vocab = F.col("token").isin(top) if top else F.lit(False)
    sub = tok_occ.agg(
        F.sum("n").cast("bigint").alias("total_subword_occ"),
        F.coalesce(F.sum(F.when(in_vocab, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("covered_subword_occ"),
    )
    top_arr = F.array(*[F.lit(t) for t in top]) if top else F.array().cast(
        "array<string>"
    )
    all_in = F.forall("syms", lambda s: F.array_contains(top_arr, s))
    words = vocab.agg(
        F.sum("cnt").cast("bigint").alias("total_word_occ"),
        F.coalesce(F.sum(F.when(all_in, F.col("cnt"))), F.lit(0))
        .cast("bigint")
        .alias("fully_covered_word_occ"),
    )
    return (
        sub.crossJoin(F.broadcast(words))
        .select(
            F.lit(cap).cast("int").alias("vocab_cap"),
            "total_subword_occ",
            "covered_subword_occ",
            ppm("covered_subword_occ", "total_subword_occ").alias("coverage_ppm"),
            "total_word_occ",
            "fully_covered_word_occ",
            ppm("fully_covered_word_occ", "total_word_occ").alias("word_coverage_ppm"),
        )
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_docs, n_words, n_subwords, n_chars, fertility_micro,
    chars_per_subword_micro, subwords_per_doc_micro): per-LANGUAGE
    tokenizer fertility and compression rate for the learned BPE — the
    cross-language comparison card a multilingual pipeline reads before
    fixing a tokenizer (high-fertility languages burn the token budget
    fastest — the standard subwords-per-word audit from the multilingual
    tokenizer literature). Aggregates bpe_encode_stats' per-doc
    exact counters by documents.lang; every rate is exact integer
    (+d/2) DIV d micro arithmetic — integer-tie-free by construction on
    both engines, no float finish at all.

    Scale shape: one doc_id equi-join of the compact per-doc counter
    frame (4 int64 columns) against the (doc_id, lang) projection, then
    a partial-aggregated groupBy on ~#languages keys. The heavy stages
    (word explode, segmentation join) are bpe_encode_stats' own,
    unchanged; this card adds one narrow shuffle."""
    stats = bpe_encode_stats(spark, sf_dir).select(
        "doc_id", "n_words", "n_subwords", "n_chars"
    )
    langs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        langs.join(stats, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_subwords").cast("bigint").alias("n_subwords"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .select(
            "*",
            ppm("n_subwords", "n_words").alias("fertility_micro"),
            ppm("n_chars", "n_subwords").alias("chars_per_subword_micro"),
            ppm("n_subwords", "n_docs").alias("subwords_per_doc_micro"),
        )
    )
