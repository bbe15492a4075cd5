"""Exact-substring (repeated-span) dedup over token k-grams.

The span-level complement to the document-level near-dup family
(operators/dedup.py): instead of asking "which documents are near
copies", it asks "which token RANGES are verbatim copies of text that
occurs elsewhere in the corpus" — the operation Lee et al. 2021
("Deduplicating Training Data Makes Language Models Better") implement
with a corpus-wide suffix array. A suffix array is a sequential,
memory-resident structure; the Spark-native shape is the k-gram
fingerprint relation:

    scan -> explode one row per k-token window -> partial-aggregated
    gram count -> equi-join the dup keys back -> per-doc interval merge.

A window duplicated at length >= k is detected exactly (every length-k
sub-window collides), so recall vs the suffix array is exact for spans
>= SPAN_K tokens. Merged EXTENTS can over-approximate, though: two
distinct duplicated spans that overlap or abut within one doc merge
into a single reported range whose full content need not occur verbatim
anywhere else — fine for curation (strip/score), but not a byte-exact
maximal-match certificate. Cost is linear in corpus tokens; the count
combines map-side and a hot gram (corpus-wide boilerplate) stresses an
AQE-splittable JOIN, never a single window task (see _dup_hits); the
per-doc interval merge is a doc-partitioned window over the tiny hit
subset. repeated_spans_fp is the 100 TB shape: the
exchange key is the gram's 8-byte xxhash64 fingerprint instead of the
k-token string, shrinking shuffle rows to four fixed-width columns; the
string-key variant stays as the oracle-checkable twin and the two are
asserted identical on the fixtures.

No reference counterpart (north-star extension family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numerics import floor_round

from ..functions.text import tokenize
from ..sources.tables import load
from .assets import asset_path, ensure
from .dedup import NEW_BATCH_MOD, is_new_batch

SPAN_K = 5  # window width in tokens; minimum detectable duplicated span
SPAN_MIN_COUNT = 2  # corpus-wide occurrences for a window to count as dup
NOVELTY_BUCKET_DOCS = 50  # docs per ingestion increment in the novelty curve


def _grams_from_toks(toks: DataFrame) -> DataFrame:
    """_grams() over an already-tokenized (doc_id, toks) frame — the seam
    multi-leg consumers (contamination_scorecard) use to window a pinned
    token relation instead of re-tokenizing the corpus."""
    n = F.size("toks")
    return (
        toks.where(n >= SPAN_K)
        .select(
            "doc_id",
            n.cast("bigint").alias("n_tokens"),
            "toks",
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), (n - SPAN_K + 1).cast("bigint"))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "pos",
            F.concat_ws(" ", F.slice("toks", F.col("pos"), SPAN_K)).alias("gram"),
        )
    )


def _grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, pos, gram): one row per k-token window.

    pos is the 1-based token index of the window start; gram is the
    space-joined window content (the join/shuffle key)."""
    return _grams_from_toks(
        load(spark, sf_dir, "documents", parallelize=True).select(
            "doc_id", tokenize("text").alias("toks")
        )
    )


def _dup_hits(spark: SparkSession, sf_dir: str, narrow_key: bool = False) -> DataFrame:
    """(doc_id, n_tokens, pos) of windows whose gram occurs >= SPAN_MIN_COUNT
    times corpus-wide (across documents OR repeated inside one). A
    partial-aggregated gram count joined back on the key — no self-join
    of the gram relation, no gram-partitioned window.

    narrow_key=True exchanges the 8-byte xxhash64 fingerprint of the gram
    instead of its string content — the 100 TB shape: shuffle rows shrink
    from ~k tokens of text to (bigint fp, doc_id, bigint pos, bigint n),
    and the gram string is pruned before the exchange. A fp collision
    could only ADD a false dup hit (two distinct grams sharing a 64-bit
    hash); at 2^-64 per pair this is negligible, and
    tests/test_spans.py pins fp output == string output on the fixtures.

    Skew note: the corpus count is a partial-aggregated groupBy joined
    back, NOT a gram-partitioned window. A window would pin every row of
    a hot gram (one boilerplate sentence across millions of docs) in a
    single task and AQE cannot split skewed WINDOW partitions — it can
    split skewed JOIN partitions, which is exactly what the equi-join
    shape leaves it free to do. The map-side combine also shrinks the
    count exchange to distinct grams. Honest local price: the gram
    lineage is evaluated twice (count branch + join input; Catalyst has
    no common-subplan sharing here), measured ~1.4s -> ~2.3s at sf0.1 —
    accepted, because the double scan is embarrassingly parallel at any
    size while a hot-gram window partition is a single-task OOM."""
    g = _grams(spark, sf_dir)
    key = F.xxhash64("gram").alias("k") if narrow_key else F.col("gram").alias("k")
    g = g.select("doc_id", "n_tokens", "pos", key)
    dup_keys = (
        g.groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= SPAN_MIN_COUNT)
        .select("k")
    )
    return g.join(dup_keys, "k").select("doc_id", "n_tokens", "pos")


def _merge_intervals(
    hits: DataFrame, keys: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """(*keys, n_tokens, span_start, span_end, span_len) from a
    (*keys, n_tokens, pos) hit relation: hits [pos, pos+K-1] merge while
    overlapping or adjacent (next_pos <= prev_pos + K); positions are
    unique per key group so the lag ordering is deterministic. The window
    is key-partitioned over the tiny hit subset — never the corpus.
    ``keys`` widens the merge scope (e.g. ("suite", "doc_id") for the
    per-eval-suite contamination scorecard) without a second code path."""
    w = Window.partitionBy(*keys).orderBy("pos")
    prev = F.lag("pos").over(w)
    is_new = (prev.isNull() | (F.col("pos") > prev + SPAN_K)).cast("int")
    runs = hits.withColumn(
        "run",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return runs.groupBy(*keys, "run").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.min("pos").alias("span_start"),
        (F.max("pos") + SPAN_K - 1).alias("span_end"),
        (F.max("pos") + SPAN_K - F.min("pos")).alias("span_len"),
    )


def _merged_spans(
    spark: SparkSession, sf_dir: str, narrow_key: bool = False
) -> DataFrame:
    """Corpus-wide maximal merged duplicated regions."""
    return _merge_intervals(_dup_hits(spark, sf_dir, narrow_key=narrow_key))


def repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): every maximal token range
    whose content also occurs elsewhere in the corpus (>= SPAN_K tokens)."""
    return _merged_spans(spark, sf_dir).select(
        "doc_id", "span_start", "span_end", "span_len"
    )


def repeated_spans_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repeated_spans with the narrow 8-byte fingerprint exchange key —
    the variant a 100 TB corpus would run. Output contract is identical
    to repeated_spans (same DuckDB oracle applies): a 64-bit collision is
    the only way the two could diverge, and the equivalence is pinned by
    tests/test_spans.py on top of the per-round driver hash."""
    return _merged_spans(spark, sf_dir, narrow_key=True).select(
        "doc_id", "span_start", "span_end", "span_len"
    )


def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, dup_tokens, dup_fraction) for EVERY document:
    how much of each doc is corpus-duplicated text. The curation signal —
    docs above a dup_fraction threshold get their spans stripped or are
    dropped; docs shorter than SPAN_K trivially score 0."""
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", F.size(tokenize("text")).cast("bigint").alias("n_tokens")
    )
    return _span_coverage(docs, _merged_spans(spark, sf_dir), "dup_tokens")


def _span_coverage(spine: DataFrame, spans: DataFrame, dup_col: str) -> DataFrame:
    """(doc_id, n_tokens, <dup_col>, dup_fraction): every ``spine`` doc
    (doc_id, n_tokens) with the summed span_len of its merged ``spans``
    as dup_col; a doc without spans scores exact zeros."""
    cov = spans.groupBy("doc_id").agg(F.sum("span_len").alias(dup_col))
    dup = F.coalesce(dup_col, F.lit(0))
    return spine.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        dup.cast("bigint").alias(dup_col),
        floor_round(dup / F.greatest(F.col("n_tokens"), F.lit(1)), 6).alias(
            "dup_fraction"
        ),
    )


def strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, kept_tokens, clean_text): the corpus with every
    token inside a corpus-duplicated span REMOVED — the step that
    materializes the cleaned text dup_span_stats only scores. Removes
    every marked occurrence (both copies of a duplicated span), which is
    the deliberately conservative strip for the curate pipeline's
    below-threshold survivors; a keep-one-occurrence policy (Lee et al.)
    needs a global arbitration pass and is intentionally out of scope.

    Plan shape: the span relation reduces to a per-doc array of (tiny)
    merged intervals, broadcast back onto one corpus scan via a doc_id
    left join; the strip itself is a pure JVM higher-order expression
    (transform + exists), zero Python, zero extra shuffle beyond the
    span pipeline's one keyed exchange."""
    return _strip_tokens(spark, sf_dir, _merged_spans(spark, sf_dir))


def _strip_tokens(
    spark: SparkSession, sf_dir: str, spans_df: DataFrame
) -> DataFrame:
    """(doc_id, n_tokens, kept_tokens, clean_text): one corpus scan with
    every token inside a ``spans_df`` interval removed — the shared strip
    stage of strip_spans (remove ALL occurrences) and
    strip_spans_keep_first (remove all but the first)."""
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", tokenize("text").alias("toks")
    )
    sps = spans_df.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("sps")
    )
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    j = docs.join(sps, "doc_id", "left").select(
        "doc_id", "toks", F.coalesce("sps", empty).alias("sps")
    )
    indexed = F.transform(
        "toks", lambda t, i: F.struct(t.alias("t"), (i + 1).cast("bigint").alias("p"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            "sps",
            lambda r: (r["span_start"] <= s["p"]) & (s["p"] <= r["span_end"]),
        ),
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("kept_tokens"),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
    )


def _removed_hits_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, pos): duplicated-gram windows that are NOT
    their gram's globally-first occurrence (first = min (doc_id, pos)
    over the corpus). The arbitration core of the Lee-et-al keep-one
    policy: every duplicated gram retains exactly one occurrence.

    Skew shape: first-occurrence + count fold into ONE partial-
    aggregatable groupBy(gram) (min over the (doc_id, pos) ordering
    struct combines map-side, same discipline as the dup count), then
    one equi-join back on the gram key — a hot boilerplate gram becomes
    AQE-splittable join skew, never a gram-partitioned window task."""
    g = _grams(spark, sf_dir)
    firsts = (
        g.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("doc_id", "pos")).alias("first"),
        )
        .where(F.col("c") >= SPAN_MIN_COUNT)
        .select("gram", "first")
    )
    return (
        g.join(firsts, "gram")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "n_tokens", "pos")
    )


def strip_spans_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, kept_tokens, clean_text): span stripping under
    the Lee et al. 2021 KEEP-ONE-OCCURRENCE policy — for every duplicated
    k-gram the globally-first occurrence (min (doc_id, pos)) stays; all
    later occurrences are marked and their merged extents removed. The
    policy real curation pipelines run beside the conservative strip-all
    (strip_spans): the corpus keeps exactly one copy of every duplicated
    span instead of losing all copies.

    Note the inherent overlap subtlety (present in the suffix-array
    original too): a first occurrence's tokens can still fall inside the
    removed extent of a DIFFERENT gram's later occurrence, so
    "first occurrence survives" holds at the arbitration level
    (exactly one occurrence per gram is exempt from marking), while the
    final strip works on merged extents. Guaranteed invariants, pinned
    by tests: kept_tokens >= strip_spans' kept_tokens per doc, and every
    duplicated gram has exactly one unmarked occurrence.

    Scale shape: identical to strip_spans plus the first-occurrence
    argmin folded into the same groupBy(gram) exchange — no second scan,
    no window (see _removed_hits_keep_first)."""
    return _strip_tokens(
        spark, sf_dir, _merge_intervals(_removed_hits_keep_first(spark, sf_dir))
    )


def incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): for each document of a
    NEW crawl batch (dedup.is_new_batch, the same split as
    dedup.incremental_dedup_assign), the maximal token ranges whose
    content already occurs in the OLD corpus — the
    production shape of span dedup at 100 TB, where the corpus's distinct
    k-gram set is a maintained asset and each increment only probes it,
    never re-scanning old-vs-old.

    Scale shape: ONE left-semi equi-join of the increment's grams against
    the standing distinct-gram index (cost ∝ increment size + matched
    index partitions, keys uniform by construction), then the per-doc
    interval merge over the tiny hit subset. The old gram set IS the
    persisted table (standing_old_grams — built once per data
    generation, probed as a parquet scan; the fingerprint twin swaps
    the join key exactly as repeated_spans_fp does); the DuckDB oracle
    replays the inline chain and stays self-contained.
    Note the semantic difference from repeated_spans: only NEW-vs-OLD
    duplication counts — content repeated within the new batch alone is
    left for the batch's own intra-run pass."""
    return _merge_intervals(_incremental_hits(spark, sf_dir)).select(
        "doc_id", "span_start", "span_end", "span_len"
    )


# Bump on ANY change that alters the standing gram set (tokenizer,
# SPAN_K, the old/new batch convention) — the DEDUP_INDEX_VERSION
# discipline; tests/test_spans.py::test_standing_gram_index_matches_inline
# re-derives the inline distinct against the asset so a missed bump
# still fails CI on the test fixtures.
SPAN_INDEX_VERSION = 1


def span_index_path(sf_dir: str) -> str:
    """Standing gram-index location for one data generation of the
    documents table, keyed on the parameters that shape the gram set
    (SPAN_K, the new-batch modulus) and SPAN_INDEX_VERSION."""
    return asset_path(
        sf_dir,
        "documents",
        f"spanidx_v{SPAN_INDEX_VERSION}",
        f"k{SPAN_K}m{NEW_BATCH_MOD}",
    )


def standing_old_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDING corpus's distinct k-gram set served as a persisted
    asset — the maintained table every incremental_spans docstring in
    this module describes. Built on first touch (one explode + distinct
    over the old corpus, the cost a deployment pays once per corpus
    generation), then probed as a plain parquet scan by every increment
    query. Gram STRINGS are stored so the string-keyed oracle twin stays
    exact; the fingerprint probe derives xxhash64 from the stored
    strings (an index-sized projection — at 100 TB the persisted table
    would store the 8-byte fingerprints directly, as repeated_spans_fp's
    contract notes). Output is bit-identical to the inline distinct by
    construction; the DuckDB oracles replay the inline chain,
    unchanged."""
    import os

    path = ensure(
        span_index_path(sf_dir),
        ("grams_old",),
        lambda tmp: _grams(spark, sf_dir)
        .where(~is_new_batch())
        .select("gram")
        .distinct()
        .write.parquet(os.path.join(tmp, "grams_old")),
    )
    return spark.read.parquet(os.path.join(path, "grams_old"))


def _incremental_hits(
    spark: SparkSession, sf_dir: str, narrow_key: bool = False
) -> DataFrame:
    """(doc_id, n_tokens, pos): new-batch windows whose gram occurs in
    the standing old-corpus distinct-gram index. narrow_key=True probes
    by xxhash64 fingerprint — the shape of the PERSISTED index at scale
    (8-byte keys instead of k-token strings, both in storage and on the
    semi-join exchange).

    The old side reads the STANDING asset (standing_old_grams), so the
    per-increment job explodes ONLY the new batch — increment-sized
    work against a persisted index, the recurring shape every consumer
    docstring promises (previously the old corpus was re-exploded and
    re-distinct-ed inline per query)."""
    g = _grams(spark, sf_dir).where(is_new_batch())
    old_index = standing_old_grams(spark, sf_dir)
    if narrow_key:
        g = g.select("doc_id", "n_tokens", "pos", F.xxhash64("gram").alias("gram"))
        old_index = old_index.select(F.xxhash64("gram").alias("gram"))
    return (
        g.join(old_index, "gram", "leftsemi")
        .select("doc_id", "n_tokens", "pos")
    )


def incremental_spans_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_spans probing the fingerprint-keyed standing index —
    identical output contract (shares the string-key oracle; divergence
    needs a 64-bit collision), pinned by tests/test_spans.py."""
    return _merge_intervals(
        _incremental_hits(spark, sf_dir, narrow_key=True)
    ).select("doc_id", "span_start", "span_end", "span_len")


def _tagged_union(a: DataFrame, tag_a: str, b: DataFrame, tag_b: str) -> DataFrame:
    cols = a.columns
    return a.select(F.lit(tag_a).alias("variant"), *cols).unionByName(
        b.select(F.lit(tag_b).alias("variant"), *cols)
    )


def repeated_spans_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, doc_id, span_start, span_end, span_len): BOTH
    repeated-span plan variants — the string-key exchange ('string') and
    the xxhash64 fingerprint exchange ('fp') — in one card, so a single
    driver hash row externally pins both plans every rotation (the pair
    is row-identical by construction, so two separate registry slots
    would buy no extra evidence). The oracle derives the 'fp' rows from
    the string-key semantics; an fp divergence (plan bug or 64-bit
    collision) breaks the hash."""
    return _tagged_union(
        repeated_spans(spark, sf_dir), "string",
        repeated_spans_fp(spark, sf_dir), "fp",
    )


def incremental_spans_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, doc_id, span_start, span_end, span_len): both
    incremental new-vs-old span plans — string-keyed standing-index
    probe ('string') and fingerprint-keyed ('fp') — as one driver card;
    same consolidation rationale as repeated_spans_variants."""
    return _tagged_union(
        incremental_spans(spark, sf_dir), "string",
        incremental_spans_fp(spark, sf_dir), "fp",
    )


def strip_spans_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(variant, doc_id, n_tokens, kept_tokens, clean_text): both span
    STRIP policies — conservative strip-all ('all') and the Lee et al.
    keep-one-occurrence policy ('keep_first') — as one driver card.
    Unlike the _fp pairs these are genuinely different semantics (each
    side carries its own oracle leg), but one hash row still externally
    pins both plans per rotation."""
    return _tagged_union(
        strip_spans(spark, sf_dir), "all",
        strip_spans_keep_first(spark, sf_dir), "keep_first",
    )


def incremental_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, dup_old_tokens, dup_fraction) for EVERY
    new-batch document: how much of each incoming doc is text the
    standing corpus already contains — the per-increment complement of
    dup_span_stats, and the gate signal incremental_curate thresholds
    on. Docs shorter than SPAN_K trivially score 0."""
    docs = load(spark, sf_dir, "documents", parallelize=True).where(is_new_batch())
    return _span_coverage(
        docs.select(
            "doc_id", F.size(tokenize("text")).cast("bigint").alias("n_tokens")
        ),
        _merge_intervals(_incremental_hits(spark, sf_dir)),
        "dup_old_tokens",
    )


def corpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, distinct_grams, novel_grams, novelty_rate): marginal
    novelty of each ingestion increment of NOVELTY_BUCKET_DOCS documents
    (by doc_id order — the synthetic corpus's arrival order). A gram is
    novel in the first bucket it appears in; a flattening novelty_rate is
    the standing "this crawl increment adds nothing" curation signal.
    Two keyed exchanges (distinct per bucket, min per gram), both with
    partial aggregation."""
    pb = (
        _grams(spark, sf_dir)
        .select(
            F.floor(F.col("doc_id") / NOVELTY_BUCKET_DOCS).alias("bucket"), "gram"
        )
        .distinct()
    )
    first = pb.groupBy("gram").agg(F.min("bucket").alias("first_bucket"))
    return (
        pb.join(first, "gram")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("distinct_grams"),
            F.sum((F.col("first_bucket") == F.col("bucket")).cast("long")).alias(
                "novel_grams"
            ),
        )
        .select(
            "bucket",
            "distinct_grams",
            "novel_grams",
            floor_round(F.col("novel_grams") / F.col("distinct_grams"), 6).alias(
                "novelty_rate"
            ),
        )
    )


def contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_spans, contam_tokens, contam_ppm) for every
    TRAIN document: which spans of training text overlap the held-out
    benchmark at k-gram granularity — the GPT-3 appendix-C "dirty span"
    marking that position-level decontamination needs, one level finer
    than the document booleans of contamination_flags/contamination_near
    (a doc can be 0.1% contaminated — mask the span — or 90% — drop it;
    the booleans cannot tell them apart). Eval side is the
    CONTAM_EVAL_MAX_ID convention shared by the whole decontamination
    family.

    Shape (the _dup_hits/incremental-probe discipline): the eval k-gram
    set is benchmark-sized and distinct'd; the train side pays ONE
    equi-join of its gram stream against it (broadcast when the
    benchmark is small — always, by definition — cost ∝ train grams);
    marked hits merge per doc with the shared interval-merge window
    (doc-bounded hit subsets, never the corpus); the final aggregate is
    one partial-agg groupBy joined onto the train-doc spine so untouched
    docs report exact zeros. contam_ppm is rounded integer division of
    exact int64s."""
    from .dedup import CONTAM_EVAL_MAX_ID

    g = _grams(spark, sf_dir)
    eval_grams = (
        g.where(F.col("doc_id") < CONTAM_EVAL_MAX_ID).select("gram").distinct()
    )
    hits = (
        g.where(F.col("doc_id") >= CONTAM_EVAL_MAX_ID)
        .join(eval_grams, "gram")
        .select("doc_id", "n_tokens", "pos")
    )
    cov = _merge_intervals(hits).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("span_len").cast("bigint").alias("contam_tokens"),
    )
    spine = load(spark, sf_dir, "documents", parallelize=True).where(
        F.col("doc_id") >= CONTAM_EVAL_MAX_ID
    ).select("doc_id", F.size(tokenize("text")).cast("bigint").alias("n_tokens"))
    return spine.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("contam_tokens", F.lit(0)).cast("bigint").alias("contam_tokens"),
        F.expr(
            "CAST((coalesce(contam_tokens, 0L) * 1000000L + n_tokens div 2)"
            " div greatest(n_tokens, 1L) AS BIGINT)"
        ).alias("contam_ppm"),
    )


def contamination_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(suite, n_eval_docs, exact_docs, exact_hits, near_docs, span_docs,
    span_tokens, span_token_ppm): the cross-eval-suite decontamination
    REPORT — the three registered contamination legs (exact shingle hits
    = contamination_flags, banded-MinHash fuzzy = contamination_near,
    position-level spans = contamination_spans) aggregated per evaluation
    SUITE, where a suite is the held-out docs' ``lang`` value (each
    language's eval docs play one benchmark: the deployment shape, where
    MMLU / GSM8K / held-out-web are separate suites a release scorecard
    reports side by side — on the fixture, ``source`` is unique per eval
    doc, so ``lang`` is the column that yields real multi-doc suites).
    Per suite:

    - exact_docs / exact_hits — train docs sharing >= 1 distinct
      SHINGLE_N-gram with the suite, and the total distinct (doc,
      shingle) overlap mass;
    - near_docs — train docs whose best true-Jaccard against some eval
      doc OF THIS SUITE clears CONTAM_NEAR_THRESHOLD (band-candidate
      generation + exact verify, the contamination_near path);
    - span_docs / span_tokens / span_token_ppm — train docs with >= 1
      merged contaminated span vs the suite's k-gram set, the token mass
      inside those spans, and that mass as ppm of ALL train tokens.

    Shape: every leg keeps the decontamination family's asymmetry — the
    eval side is benchmark-sized by definition, so its distinct shingle
    set, signature bands, shingle arrays, and gram set all BROADCAST;
    the train corpus pays one map-side equi-join per leg (no corpus
    self-join, no shuffle of corpus text) and each leg ends in one
    partial-aggregatable groupBy(suite). The span merge reuses
    _merge_intervals keyed (suite, doc_id) — windows partition over the
    tiny hit subset only. The suite spine left-joins every leg so a
    clean suite reports exact zeros rather than vanishing."""
    from .dedup import (
        CONTAM_EVAL_MAX_ID,
        CONTAM_NEAR_THRESHOLD,
        SHINGLE_N,
        _shingle_expr,
        contamination_near_pairs,
        shingle_index,
        shingle_index_from_shingles,
        signature_bands_from_shingles,
    )

    docs = load(spark, sf_dir, "documents", parallelize=True)
    is_eval = F.col("doc_id") < CONTAM_EVAL_MAX_ID
    suites = docs.where(is_eval).select("doc_id", F.col("lang").alias("suite"))
    spine = suites.groupBy("suite").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_docs")
    )
    train = docs.where(~is_eval).select("doc_id", "text")
    evald = docs.where(is_eval).select("doc_id", "text")

    # Share the TRAIN-side token and shingle relations across the legs:
    # the three legs' derivations diverge before any exchange, so
    # AQE exchange reuse cannot share them, and the unpinned form
    # tokenized the full train corpus five times (shingle index, band
    # signatures, verify arrays, gram stream, token total) and ran the
    # shingle expression three times. One pinned token relation + one
    # pinned shingle relation computes each exactly once — the same
    # intermediates a production decontamination pass materializes. The
    # EVAL side stays unpinned: benchmark-sized by definition.
    toks_t = train.select(
        "doc_id", tokenize("text").alias("toks")
    ).localCheckpoint(eager=False)
    sh_t = toks_t.select(
        "doc_id", _shingle_expr(SHINGLE_N).alias("shingles")
    ).localCheckpoint(eager=False)

    # exact leg: distinct (suite, shingle) broadcast onto the train stream
    ev_sh = shingle_index(evald).join(suites, "doc_id").select("suite", "s").distinct()
    exact = (
        shingle_index_from_shingles(sh_t)
        .join(F.broadcast(ev_sh), "s")
        .groupBy("suite")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("exact_docs"),
            F.count(F.lit(1)).cast("bigint").alias("exact_hits"),
        )
    )

    # near leg: contamination_near's verified pairs over the pinned
    # shingle relation -> per-(suite, doc) best -> threshold count
    near = (
        contamination_near_pairs(signature_bands_from_shingles(sh_t), sh_t, evald)
        .join(
            F.broadcast(suites.select(F.col("doc_id").alias("eval_id"), "suite")),
            "eval_id",
        )
        .groupBy("suite", "doc_id")
        .agg(F.max("jaccard").alias("bj"))
        .where(F.col("bj") >= CONTAM_NEAR_THRESHOLD)
        .groupBy("suite")
        .agg(F.count(F.lit(1)).cast("bigint").alias("near_docs"))
    )

    # span leg: suite-tagged eval gram set broadcast onto the train gram
    # stream (windowed off the pinned token relation), merged per
    # (suite, doc)
    ev_g = (
        _grams_from_toks(evald.select("doc_id", tokenize("text").alias("toks")))
        .join(suites, "doc_id")
        .select("suite", "gram")
        .distinct()
    )
    hits = (
        _grams_from_toks(toks_t)
        .join(F.broadcast(ev_g), "gram")
        .select("suite", "doc_id", "n_tokens", "pos")
    )
    spanleg = (
        _merge_intervals(hits, keys=("suite", "doc_id"))
        .groupBy("suite")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("span_docs"),
            F.sum("span_len").cast("bigint").alias("span_tokens"),
        )
    )

    tot = toks_t.agg(
        F.coalesce(F.sum(F.size("toks")), F.lit(0)).cast("bigint").alias("tot")
    )
    return (
        spine.join(exact, "suite", "left")
        .join(near, "suite", "left")
        .join(spanleg, "suite", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "suite",
            "n_eval_docs",
            F.coalesce("exact_docs", F.lit(0)).cast("bigint").alias("exact_docs"),
            F.coalesce("exact_hits", F.lit(0)).cast("bigint").alias("exact_hits"),
            F.coalesce("near_docs", F.lit(0)).cast("bigint").alias("near_docs"),
            F.coalesce("span_docs", F.lit(0)).cast("bigint").alias("span_docs"),
            F.coalesce("span_tokens", F.lit(0)).cast("bigint").alias("span_tokens"),
            F.expr(
                "CAST((coalesce(span_tokens, 0L) * 1000000L + tot div 2)"
                " div greatest(tot, 1L) AS BIGINT)"
            ).alias("span_token_ppm"),
        )
    )


# --- repeat spectrum: all-scale exact-substring repetition ------------------

# widths 1, 2, 4, ..., 2^(REPEAT_LEVELS-1); 256 tokens comfortably spans
# the longest verbatim boilerplate the span family (fixed SPAN_K) can
# only see at one granularity
REPEAT_LEVELS = 9


def _token_contexts(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, id): the width-1 context relation (md5 of each
    token) that seeds the Rabin-Karp doubling chain. ``docs`` must carry
    (doc_id, toks)."""
    return docs.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select("doc_id", "pos", F.md5("tok").alias("id"))


def _doubling_levels(cur: DataFrame):
    """Yield (width, frame) for widths 1, 2, ..., 2^(REPEAT_LEVELS-1) of
    the Rabin-Karp doubling chain — the single-sourced recurrence behind
    repeat_spectrum, standing_old_contexts, and
    incremental_repeat_spectrum. A width-2w window id is
    md5(id_w(p) || ':' || id_w(p + w)); each doubling is ONE
    (doc_id, pos + w) equi-join plus a hash (co-partitioned on doc_id —
    a cluster deployment bucket-partitions by doc_id and every doubling
    join is shuffle-free), never a global sort, and windows never cross
    document boundaries. Per-level frames pin with a lazy
    localCheckpoint so per-level consumers never re-derive the chain."""
    width = 1
    for lvl in range(REPEAT_LEVELS):
        cur = cur.localCheckpoint(eager=False)
        yield width, cur
        if lvl + 1 < REPEAT_LEVELS:
            right = cur.select(
                "doc_id",
                (F.col("pos") - width).alias("pos"),
                F.col("id").alias("id_r"),
            )
            cur = cur.join(right, ["doc_id", "pos"]).select(
                "doc_id",
                "pos",
                F.md5(F.concat_ws(":", "id", "id_r")).alias("id"),
            )
            width *= 2


def repeat_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(width, total_positions, distinct_contexts, repeated_positions,
    repeated_ppm): for each window width 1, 2, 4, ..., 256 tokens, how
    much of the corpus's position mass sits inside a window whose exact
    token content occurs at least twice corpus-wide — the repeat
    SPECTRUM the fixed-k span family (SPAN_K grams) samples at a single
    scale. This is the suffix-array question ("what repeats, at every
    length?") asked the Spark-native way: Rabin-Karp doubling. A
    width-2w window id is md5(id_w(p) || ':' || id_w(p + w)) — each
    doubling is ONE (doc_id, pos+w) equi-join plus a hash, never a
    global sort (suffix-array construction needs log n total-order
    sorts; equality-only context ids need none). All-hex ids make the
    ':' concatenation unambiguous; windows never cross document
    boundaries. Counts are exact integers on both engines; the Python
    replay in tests/test_repeat_spectrum.py additionally verifies the
    md5 chain against true token-tuple counting (no collisions at
    fixture scale, and none expected anywhere: 128-bit ids).

    Scale shape: level L costs one increment-width equi-join of the
    (doc_id, pos, id) relation with itself (co-partitioned on doc_id —
    a cluster deployment bucket-partitions by doc_id and every doubling
    join is shuffle-free) plus one partial-aggregated groupBy(id);
    positions shrink monotonically as widths exceed document lengths.
    Per-level frames pin with a lazy localCheckpoint so level stats
    never re-derive the whole chain (the near_dup_method_audit
    precedent)."""
    from ..functions.text import tokenize
    from ..sources.tables import load

    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", tokenize("text").alias("toks")
    )
    # ONE width-tagged union + ONE groupBy instead of a per-level
    # groupBy + global agg pair: the per-level form shuffles the same
    # bytes through nine hash exchanges and nine single-partition aggs
    # (≈18 AQE stages of fixed overhead); tagging each level's (id) rows
    # with their width and aggregating (width, id) once computes
    # identical exact-integer counts through two exchanges. The width
    # spine (2^0..2^(L-1), in-plan) supplies the all-zero rows of empty
    # levels.
    levels = [
        cur.select(F.lit(width).cast("bigint").alias("width"), "id")
        for width, cur in _doubling_levels(_token_contexts(docs))
    ]
    u = levels[0]
    for fr in levels[1:]:
        u = u.unionByName(fr)
    per = u.groupBy("width", "id").agg(F.count(F.lit(1)).alias("c"))
    stats = per.groupBy("width").agg(
        F.sum("c").cast("bigint").alias("total_positions"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_contexts"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("repeated_positions"),
    )
    spine = spark.range(REPEAT_LEVELS).selectExpr(
        "CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT) AS width"
    )
    zero = F.lit(0).cast("bigint")
    return (
        spine.join(stats, "width", "left")
        .select(
            "width",
            F.coalesce("total_positions", zero).alias("total_positions"),
            F.coalesce("distinct_contexts", zero).alias("distinct_contexts"),
            F.coalesce("repeated_positions", zero).alias("repeated_positions"),
        )
        .select(
            "*",
            F.expr(
                "CAST((repeated_positions * 1000000L + total_positions div 2)"
                " div greatest(total_positions, 1L) AS BIGINT)"
            ).alias("repeated_ppm"),
        )
        .orderBy("width")
    )


# Bump on ANY change that alters the standing per-width context-id sets
# (tokenizer, REPEAT_LEVELS, the md5 doubling recurrence, the new-batch
# convention) — the DEDUP_INDEX_VERSION discipline;
# tests/test_incremental_repeat_spectrum.py::
# test_standing_contexts_match_inline re-derives the inline per-level
# distinct against the asset so a missed bump still fails CI.
SPECTRUM_INDEX_VERSION = 1


def spectrum_index_path(sf_dir: str) -> str:
    """Standing context-index location for one data generation of the
    documents table, keyed on the parameters that shape the id sets
    (REPEAT_LEVELS, the new-batch modulus) and SPECTRUM_INDEX_VERSION."""
    return asset_path(
        sf_dir,
        "documents",
        f"spectrumidx_v{SPECTRUM_INDEX_VERSION}",
        f"l{REPEAT_LEVELS}m{NEW_BATCH_MOD}",
    )


def standing_old_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(width, id): the STANDING corpus's distinct context-id set at
    every doubling width — repeat_spectrum's per-width vocabulary as a
    persisted asset. Built on first touch (one doubling chain over the
    old corpus, the cost a deployment pays once per corpus generation),
    PARTITIONED BY width so each increment probe prunes to exactly its
    level's directory, then served as a plain parquet scan. Output is
    bit-identical to the inline per-level distinct by construction; the
    DuckDB oracle replays the inline chain, unchanged."""
    import os

    def build(tmp: str) -> None:
        docs = (
            load(spark, sf_dir, "documents", parallelize=True)
            .where(~is_new_batch())
            .select("doc_id", tokenize("text").alias("toks"))
        )
        per_level = [
            frame.select(
                F.lit(width).cast("bigint").alias("width"), "id"
            ).distinct()
            for width, frame in _doubling_levels(_token_contexts(docs))
        ]
        out = per_level[0]
        for fr in per_level[1:]:
            out = out.unionByName(fr)
        out.write.partitionBy("width").parquet(os.path.join(tmp, "contexts_old"))

    path = ensure(spectrum_index_path(sf_dir), ("contexts_old",), build)
    # explicit schema: an all-new-batch corpus yields zero rows at every
    # width, and the partitionBy write then leaves no data file to infer
    # from — schema'd read returns the well-typed empty frame instead of
    # throwing (partition column `width` resolves from directory names
    # when partitions exist)
    return spark.read.schema("id string, width bigint").parquet(
        os.path.join(path, "contexts_old")
    )


def incremental_repeat_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(width, new_positions, dup_old_positions, dup_old_ppm): for each
    window width 1, 2, 4, ..., 2^(REPEAT_LEVELS-1) tokens, how much of
    the NEW crawl batch's position mass (dedup.is_new_batch, the family
    convention) is text whose exact token
    content ALREADY occurs in the standing corpus at that width —
    repeat_spectrum's recurring-path twin, completing the spectrum
    family the way incremental_spans completes the fixed-k span family:
    the corpus-side per-width context vocabulary is a maintained asset
    (standing_old_contexts) and each increment only probes it, never
    re-scanning old-vs-old. A steep small-width curve with a flat
    large-width tail says the increment shares vocabulary but not
    passages; a fat 64-256 tail is verbatim boilerplate the curation
    pass should strip before training.

    Scale shape: the doubling chain runs over the INCREMENT ONLY
    (increment-sized explode + one per-doc equi-join per level); each
    level then pays one equi-join of the increment's (pos, id) rows
    against the asset's width=w partition (directory-pruned parquet
    scan; md5 keys uniform by construction, left side partial-aggregates
    nothing until the final scalar agg). Counts are exact integers on
    both engines; the DuckDB oracle replays the full inline chain and
    stays self-contained, and the asset==inline equality is pinned by
    tests/test_incremental_repeat_spectrum.py."""
    docs = (
        load(spark, sf_dir, "documents", parallelize=True)
        .where(is_new_batch())
        .select("doc_id", tokenize("text").alias("toks"))
    )
    old = standing_old_contexts(spark, sf_dir)
    # Per-level PRUNED probes + ONE width-tagged union + ONE groupBy:
    # each level keeps its directory-pruned, broadcast-friendly
    # join against exactly its width partition of the asset (a single
    # (width, id) mega-join was A/B-measured ~5% slower — it trades the
    # pruned broadcast probes for one shuffled join), but the nine
    # per-level single-partition aggs collapse into one groupBy(width)
    # over the unioned (width, hit) rows — identical exact-integer
    # counts, ~9 fewer stage barriers. The width spine supplies empty
    # levels' zero rows.
    levels = []
    for width, cur in _doubling_levels(_token_contexts(docs)):
        old_w = old.where(F.col("width") == width).select(
            "id", F.lit(1).alias("hit")
        )
        levels.append(
            cur.join(old_w, "id", "left").select(
                F.lit(width).cast("bigint").alias("width"), "hit"
            )
        )
    u = levels[0]
    for fr in levels[1:]:
        u = u.unionByName(fr)
    stats = u.groupBy("width").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_positions"),
        F.coalesce(F.sum("hit"), F.lit(0))
        .cast("bigint")
        .alias("dup_old_positions"),
    )
    spine = spark.range(REPEAT_LEVELS).selectExpr(
        "CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT) AS width"
    )
    zero = F.lit(0).cast("bigint")
    return (
        spine.join(stats, "width", "left")
        .select(
            "width",
            F.coalesce("new_positions", zero).alias("new_positions"),
            F.coalesce("dup_old_positions", zero).alias("dup_old_positions"),
        )
        .select(
            "*",
            F.expr(
                "CAST((dup_old_positions * 1000000L + new_positions div 2)"
                " div greatest(new_positions, 1L) AS BIGINT)"
            ).alias("dup_old_ppm"),
        )
        .orderBy("width")
    )
