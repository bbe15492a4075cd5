"""End-to-end corpus curation: the "100 TB pretraining-data job" that the
rest of the repo's families exist to serve, composed as ONE declarative
DataFrame DAG with zero driver round-trips between stages:

    exact dedup (md5 canonical)               operators/dedup.py
      -> near-dup keep-best representative    operators/dedup.py
      -> quality gate                         operators/textstats.py
      -> repeated-span budget gate            operators/spans.py
      -> leakage-safe cluster-hashed split    operators/sampling.py
      -> greedy token-budget pack             operators/distsort.py

Stages meet only through doc_id-keyed narrow joins (no text column
crosses a stage boundary): the MinHash/CC lineage, the k-gram span
lineage, and the quality lineage each scan the corpus once and reduce to
per-doc scalars before joining. The expensive iterative cluster
assignment is computed ONCE and feeds both keep-best selection
(dedup.dedup_keep_best) and the split (a hash of the kept rep's
cluster_id, not a second cluster lineage); per-stage semantics stay
bit-identical to the standalone oracled operators, pinned by
tests/test_curate.py. The single total-order step (greedy packing,
_pack) rides the range-partitioned prefix machinery, never a
partition-less window; the quality and span-budget gates are written
once (quality_ok, span_budget_ok) for the bootstrap chain, the funnel
and the incremental verdict.

No reference counterpart (north-star extension family); the DuckDB twin
replays the identical chain in plans/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from . import assets
from .dedup import dedup_index_path, dedup_keep_best, is_new_batch, q_exact_dedup
from .distsort import with_running_totals
from .sampling import CLUSTER_SPLIT_SALT, TRAIN_PCT, VAL_PCT, split_col
from .spans import dup_span_stats
from .textstats import text_quality

CURATE_MIN_QUALITY = 0.5  # keep docs with quality_score >= this
# span gate kept in exact integer arithmetic (dup_tokens * DEN <= n_tokens)
# so the cross-engine comparison never rides on a rounded fraction
CURATE_MAX_DUP_DEN = 2  # i.e. drop docs with > 1/2 of tokens duplicated
CURATE_TOKEN_BUDGET = 12_000  # kept-token budget for the packed corpus

# the packed manifest's per-doc columns (its running total follows);
# kept_tokens = tokens left after span stripping
PACKED_COLS = (
    "doc_id",
    "cluster_id",
    "cluster_size",
    "split",
    "n_tokens",
    "dup_tokens",
    "kept_tokens",
    "quality_score",
)


def quality_ok() -> Column:
    """The quality gate: quality_score >= CURATE_MIN_QUALITY (NULL for a
    NULL score, so a missing score never passes)."""
    return F.col("quality_score") >= CURATE_MIN_QUALITY


def span_budget_ok(dup_col: str = "dup_tokens") -> Column:
    """The span-budget gate: at most 1/CURATE_MAX_DUP_DEN of n_tokens
    inside repeated spans, in exact integer arithmetic."""
    return F.col(dup_col) * CURATE_MAX_DUP_DEN <= F.col("n_tokens")


def _kept(gated: DataFrame, *extra: str) -> DataFrame:
    """PACKED_COLS (plus ``extra``) of the gated rows, kept_tokens derived."""
    kept_tokens = (F.col("n_tokens") - F.col("dup_tokens")).alias("kept_tokens")
    return gated.select(
        *[kept_tokens if c == "kept_tokens" else c for c in PACKED_COLS], *extra
    )


def _pack(
    kept: DataFrame,
    cum: str = "cum_kept_tokens",
    budget: int | None = CURATE_TOKEN_BUDGET,
) -> DataFrame:
    """Greedy quality-first pack: the running kept_tokens total ``cum``
    in pack order (quality desc, doc_id) over the distsort prefix
    machinery, cut to the rows that fit ``budget`` (no cut when None)."""
    packed = with_running_totals(
        kept, [F.desc("quality_score"), F.asc("doc_id")], {cum: "kept_tokens"}
    )
    return packed if budget is None else packed.where(F.col(cum) <= budget)


def _shard_start(cum: str, shard_tokens: int) -> Column:
    """Shard of the doc whose span ends at running total ``cum``: the
    shard where its span STARTS, (cum - kept_tokens) DIV shard_tokens."""
    return F.expr(f"CAST(({cum} - kept_tokens) DIV {shard_tokens} AS BIGINT)")


def corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, split, n_tokens, dup_tokens,
    kept_tokens, quality_score, cum_kept_tokens): the curated, packed
    corpus — one row per document that (a) is the canonical copy of its
    exact-duplicate class, (b) is the keep-best representative of its
    near-dup cluster, (c) passes the quality gate, (d) has at most
    1/CURATE_MAX_DUP_DEN of its tokens inside corpus-repeated spans, and
    (e) fits the greedy quality-first token budget counted over
    kept_tokens (= tokens remaining after span stripping). The split
    column is the leakage-safe cluster-hashed train/val/test assignment.
    """
    return _pack(_kept(_curate_gated(spark, sf_dir)))


# Bump on ANY plan-affecting change to the corpus_curate lineage that the
# keyed constant tuple below can't see (pack-order expression edits, a new
# gate, an upstream operator's internal formula) — the DEDUP_INDEX_VERSION
# discipline; the standing manifest below is keyed on it, and
# tests/test_curate.py::test_standing_manifest_matches_inline re-derives
# the inline lineage against the asset so a missed bump still fails CI
# on the test fixtures.
CURATE_MANIFEST_VERSION = 1


def _curate_plan_key() -> str:
    """Short digest of every NAMED value-shaping input to the
    corpus_curate lineage beyond the dedup-index key: the split salt and
    percentages (leakage-safe split), the span-gate window parameters,
    and the gate/budget constants. Centralized in one tuple so adding a
    constant to the lineage has one obvious place to key it — a missed
    CURATE_MANIFEST_VERSION bump after changing any of these cannot
    serve a stale manifest. Literal formula edits
    (e.g. inside text_quality) still need the version bump."""
    import hashlib

    from .spans import SPAN_K, SPAN_MIN_COUNT

    parts = (
        CLUSTER_SPLIT_SALT,
        TRAIN_PCT,
        VAL_PCT,
        SPAN_K,
        SPAN_MIN_COUNT,
        CURATE_MIN_QUALITY,
        CURATE_MAX_DUP_DEN,
        CURATE_TOKEN_BUDGET,
    )
    return hashlib.md5(repr(parts).encode()).hexdigest()[:10]


def curate_manifest_path(sf_dir: str) -> str:
    """Standing-manifest location for one data generation: keyed on the
    dedup standing-index key (the cluster lineage is an input to
    curation) plus a digest of the curate-plan constants
    (_curate_plan_key) and CURATE_MANIFEST_VERSION, so fixture
    regeneration, a dedup-parameter change, a split/span/gate constant
    change, or a curate-plan change each invalidate the asset."""
    import os

    base = os.path.basename(dedup_index_path(sf_dir))
    return os.path.join(
        assets.INDEX_ROOT,
        f"curate_v{CURATE_MANIFEST_VERSION}_{base}_k{_curate_plan_key()}",
    )


def standing_packed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate's packed manifest served as a STANDING asset — the
    persisted table a recurring training-data job maintains (every
    consumer docstring in this module already describes it as exactly
    that; this makes the description literal). Built on first touch by
    running the inline corpus_curate lineage once, then probed as a
    plain parquet scan. The packed manifest is budget-bounded
    (Σ kept_tokens <= CURATE_TOKEN_BUDGET), so the asset is export-sized
    — tiny relative to the corpus — and the probe is O(export), which is
    the 100 TB-correct recurring shape: export_shards / training_export
    / incremental_training_export are manifest READERS, not corpus
    re-curators. Output is bit-identical to the inline lineage by
    construction (same plan, materialized once; parquet round-trips
    int64/double/string exactly); the DuckDB oracles replay the full
    inline chain, unchanged — every sweep row certifies asset ==
    oracle."""
    import os

    path = assets.ensure(
        curate_manifest_path(sf_dir),
        ("packed",),
        lambda tmp: corpus_curate(spark, sf_dir).write.parquet(
            os.path.join(tmp, "packed")
        ),
    )
    return spark.read.parquet(os.path.join(path, "packed"))


def _curate_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared bootstrap chain up to (and including) the v1 gates:
    canonical-copy ∩ keep-best rep, cluster-hashed split, span and
    quality lineages joined as per-doc scalars, quality + span-budget
    gates applied. corpus_curate packs this directly; corpus_curate_v2
    joins its audit lineages and adds its gates on top."""
    exact_ok = (
        q_exact_dedup(spark, sf_dir).where(~F.col("is_duplicate")).select("doc_id")
    )
    # The iterative MinHash/CC cluster assignment is the expensive stage;
    # dedup_keep_best reads it from the STANDING cluster asset
    # (dedup.standing_full_clusters — built once per data generation,
    # probed as a parquet scan afterwards), and the split is a pure hash
    # expression on the surviving rep's cluster_id, so the cluster
    # lineage is paid once: no second lineage, no extra join.
    reps = dedup_keep_best(spark, sf_dir).select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        split_col("cluster_id", CLUSTER_SPLIT_SALT).alias("split"),
    )
    spans = dup_span_stats(spark, sf_dir).select("doc_id", "n_tokens", "dup_tokens")
    qual = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    return (
        reps.join(exact_ok, "doc_id")
        .join(spans, "doc_id")
        .join(qual, "doc_id")
        .where(quality_ok() & span_budget_ok())
    )


# Gopher rules enforced by corpus_curate_v2. Only flag_word_count carries
# signal on the synthetic fixture corpus (single-line word soup passes
# the shape rules vacuously and always fails flag_stopwords, which would
# empty the corpus) — a deployment sets the full rule tuple it trusts;
# the gate is rule-name-generic.
CURATE_GOPHER_RULES: tuple[str, ...] = ("flag_word_count",)


def corpus_curate_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_curate + the Gopher, PII and line-dedup families as
    first-class stages: the Gopher rule gate (CURATE_GOPHER_RULES must
    all hold) and two audit lineages every production corpus card
    carries — n_redactions
    (PII substitutions the export stage applies, counted on the
    decorated fixture twin per the pii.py convention) and dup_lines
    (pseudo-line occurrences this doc loses to corpus line dedup's
    keep-first arbitration). Same output contract as corpus_curate plus
    (n_redactions, dup_lines), same single-computation cluster lineage,
    all new stages doc_id-keyed scalar joins — the DAG stays one
    declarative plan with zero extra corpus scans of text beyond each
    lineage's own.

    n_redactions is counted AFTER budget packing, on the packed subset
    only (a left-semi prune feeds the PII lineage): redaction is an
    export-time decoration, so only exported docs need the
    (measured-dominant — 11.3 s of v2's 21.9 s at sf1) corpus-wide regex
    scan. Values are identical — the PII count is per-doc and packing
    doesn't depend on it — but the regex leg's cost tracks the EXPORT
    size, not the corpus size, which is the 100 TB-correct shape."""
    from .docquality import gopher_metrics
    from .linededup import dedup_lines_keep_first, token_window_lines
    from .pii import decorate_with_pii, redaction_counts

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    gates = gopher_metrics(docs).select("doc_id", *CURATE_GOPHER_RULES)
    lines = dedup_lines_keep_first(docs, token_window_lines(docs)).select(
        "doc_id",
        (F.col("n_lines") - F.col("kept_lines")).cast("bigint").alias("dup_lines"),
    )
    gate_ok = None
    for r in CURATE_GOPHER_RULES:
        c = F.col(r)
        gate_ok = c if gate_ok is None else (gate_ok & c)
    gated = (
        _curate_gated(spark, sf_dir)
        .join(gates, "doc_id")
        .where(gate_ok)
        .join(lines, "doc_id")
    )
    packed = _pack(_kept(gated, "dup_lines"))
    # the packed set is export-sized (token budget / min doc size rows);
    # the lazy local checkpoint materializes the curate lineage ONCE and
    # both consumers below (the PII prune and the final join) read it —
    # the graph.py S3/S4 reuse discipline, without which the semi-join
    # would recompute the whole gated+window lineage a second time
    packed = packed.localCheckpoint(eager=False)
    pii = redaction_counts(
        decorate_with_pii(
            docs.join(packed.select("doc_id"), "doc_id", "leftsemi")
        )
    )
    return packed.join(pii, "doc_id", "left").select(
        *PACKED_COLS,
        F.coalesce("n_redactions", F.lit(0)).cast("bigint").alias("n_redactions"),
        "dup_lines",
        "cum_kept_tokens",
    )


def incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, dup_old_tokens, quality_score, matched,
    cluster_id, split, verdict): the RECURRING form of corpus_curate —
    audit every document of a new crawl increment against the STANDING
    corpus assets only, never re-touching old-vs-old work. This is the
    job that actually runs daily at 100 TB; corpus_curate is its
    bootstrap. Per new doc, first matching verdict wins:

      drop_exact    its md5 digest already exists in the old corpus
      drop_neardup  the LSH probe assigned it to an existing near-dup
                    cluster (the standing corpus already has a kept
                    representative)
      drop_quality  quality_score below CURATE_MIN_QUALITY
      drop_spans    more than 1/CURATE_MAX_DUP_DEN of its tokens are
                    spans the old corpus already contains
      kept          joins the corpus (as a new singleton cluster)

    split is hashed on the ASSIGNED cluster_id — a new doc matched into
    an old cluster inherits that cluster's split, so near-duplicates of
    standing training documents can never drift into the eval split
    across increments (the cross-increment leakage-safety property).

    Scale shape: one digest semi-probe, one LSH band probe + verify
    (incremental_dedup_assign), one gram-index semi-probe
    (incremental_span_stats), one narrow quality scan — every stage is
    increment-sized against persisted-asset-shaped indexes; nothing
    iterates over the old corpus except the standing-cluster rebuild,
    which on a real deployment is the maintained table this fixture
    recomputes for a self-contained oracle."""
    from ..operators.dedup import incremental_dedup_assign
    from ..operators.spans import incremental_span_stats

    # parallelize: the quality leg below tokenizes the increment per-row
    # (the same reason textstats._docs opts in) — a single-file fixture
    # would otherwise run that scan as one task
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text"
    )
    old_digests = (
        docs.where(~is_new_batch()).select(F.md5("text").alias("dig")).distinct()
    )
    exact = (
        docs.where(is_new_batch())
        .select("doc_id", F.md5("text").alias("dig"))
        .join(old_digests.withColumn("hit", F.lit(1)), "dig", "left")
        .select("doc_id", F.coalesce("hit", F.lit(0)).alias("exact_dup"))
    )
    assign = incremental_dedup_assign(spark, sf_dir)
    spans = incremental_span_stats(spark, sf_dir).select(
        "doc_id", "n_tokens", "dup_old_tokens"
    )
    # quality is a per-row metric: score ONLY the increment (the
    # corpus-wide text_quality joined to new doc_ids scanned and
    # tokenized 10x the rows this leg needs — the one stage here that
    # was not increment-sized)
    from .textstats import quality_metrics

    qual = quality_metrics(docs.where(is_new_batch())).select(
        "doc_id", "quality_score"
    )
    # a NULL score makes ~quality_ok() NULL: the row falls through to
    # the next `when`
    verdict = (
        F.when(F.col("exact_dup") == 1, "drop_exact")
        .when(F.col("matched") == 1, "drop_neardup")
        .when(~quality_ok(), "drop_quality")
        .when(~span_budget_ok("dup_old_tokens"), "drop_spans")
        .otherwise("kept")
    )
    return (
        assign.join(exact, "doc_id")
        .join(spans, "doc_id")
        .join(qual, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_old_tokens",
            "quality_score",
            "matched",
            "cluster_id",
            split_col("cluster_id", CLUSTER_SPLIT_SALT).alias("split"),
            verdict.alias("verdict"),
        )
    )


CURATE_FUNNEL_STAGES = (
    "corpus",
    "exact_canonical",
    "neardup_representative",
    "quality_gate",
    "span_budget_gate",
    "token_budget_pack",
)


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage_no, stage, n_docs, n_tokens, dropped_docs): the curation
    funnel card — cumulative survivors (documents and their pre-strip
    tokens) after each gate of the corpus_curate chain, plus how many
    documents the stage dropped. This is the table every production
    pipeline prints per run: it makes a silently over-aggressive gate
    (or a broken upstream batch) visible as a step change before anyone
    trains on the output.

    Stage semantics are bit-identical to corpus_curate's own gates
    (canonical exact copy -> keep-best near-dup representative ->
    quality >= CURATE_MIN_QUALITY -> span budget -> greedy token-budget
    pack), pinned by the consistency test against corpus_curate's
    output. Shape: per-doc boolean flags assembled with doc_id-keyed
    narrow joins, then ONE aggregate of conditional exact-integer sums
    unpivoted into the six stage rows — the funnel itself adds no
    extra corpus scan beyond the flag lineages. The pack-membership
    flag (f5) is DERIVED from the funnel's own flag frame (the f4
    survivors re-packed by the same (quality desc, doc_id) running
    total and budget), not by invoking corpus_curate — the f4 set IS
    corpus_curate's kept set by definition, so the packed subsets
    coincide without paying a second CC + span + quality lineage (~2.6 s
    of 5.0 s at sf0.1). tests/test_curate.py still pins f5 ==
    corpus_curate membership INDEPENDENTLY by running both."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    toks = dup_span_stats(spark, sf_dir).select("doc_id", "n_tokens", "dup_tokens")
    exact_ok = (
        q_exact_dedup(spark, sf_dir)
        .where(~F.col("is_duplicate"))
        .select("doc_id", F.lit(1).alias("e"))
    )
    reps = dedup_keep_best(spark, sf_dir).select("doc_id", F.lit(1).alias("r"))
    qual = text_quality(spark, sf_dir).select(
        "doc_id",
        "quality_score",
        quality_ok().alias("q"),
    )
    f1 = F.col("e").isNotNull()
    f2 = f1 & F.col("r").isNotNull()
    f3 = f2 & F.coalesce("q", F.lit(False))
    f4 = f3 & span_budget_ok()
    flags = (
        docs.join(toks, "doc_id")
        .join(exact_ok, "doc_id", "left")
        .join(reps, "doc_id", "left")
        .join(qual, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "quality_score",
            (F.col("n_tokens") - F.col("dup_tokens")).alias("kept_tokens"),
            f1.alias("f1"),
            f2.alias("f2"),
            f3.alias("f3"),
            f4.alias("f4"),
        )
        # one narrow materialization: the packed-membership derivation
        # below and the stage aggregate both read this frame, and the
        # flag lineages (spans, exact dedup, keep-best probe, quality)
        # must not replay per consumer (graph.py reuse discipline)
        .localCheckpoint(eager=False)
    )
    packed = _pack(
        flags.where(F.col("f4")).select("doc_id", "kept_tokens", "quality_score")
    ).select("doc_id", F.lit(1).alias("p"))
    f = flags.join(packed, "doc_id", "left").select(
        "n_tokens",
        "f1",
        "f2",
        "f3",
        "f4",
        F.col("p").isNotNull().alias("f5"),
    )

    def _pair(flag, i):
        cond = F.lit(True) if flag is None else F.col(flag)
        return [
            F.coalesce(F.sum(F.when(cond, 1)), F.lit(0))
            .cast("bigint")
            .alias(f"d{i}"),
            F.coalesce(F.sum(F.when(cond, F.col("n_tokens"))), F.lit(0))
            .cast("bigint")
            .alias(f"t{i}"),
        ]

    agg = f.agg(
        *_pair(None, 0),
        *_pair("f1", 1),
        *_pair("f2", 2),
        *_pair("f3", 3),
        *_pair("f4", 4),
        *_pair("f5", 5),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_no"),
                F.lit(name).alias("stage"),
                F.col(f"d{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
                (
                    F.lit(0).cast("bigint")
                    if i == 0
                    else (F.col(f"d{i-1}") - F.col(f"d{i}")).cast("bigint")
                ).alias("dropped_docs"),
            )
            for i, name in enumerate(CURATE_FUNNEL_STAGES)
        ]
    )
    return agg.select(F.explode(rows).alias("s")).select("s.*")


SHARD_TOKENS = 2000  # kept-token capacity per export shard (fixture-scale)


def export_shards(
    spark: SparkSession, sf_dir: str, shard_tokens: int = SHARD_TOKENS
) -> DataFrame:
    """(shard_id, n_docs, shard_tokens, min_doc, max_doc): the export
    manifest of the curated corpus — documents are laid into fixed-
    capacity shards in pack order (quality desc, doc_id), each doc
    assigned to the shard where its span STARTS:
    shard_id = (cum_kept_tokens - kept_tokens) DIV capacity. This is
    the writer plan a training job consumes (shard file sizes, doc
    membership anchors for spot checks); at 100 TB it is literally the
    DataFrameWriter's partitionBy column.

    Shape: the packed manifest already carries the exact running totals
    (distsort prefix machinery), so sharding is one integer projection
    plus a partial-aggregated groupBy(shard_id) — no new ordering work,
    no window. min/max_doc are exemplar anchors (the
    link_indegree_hist convention), not pack-order endpoints. The
    manifest is read from the STANDING asset (standing_packed_corpus —
    export-sized parquet probe, values bit-identical to the inline
    lineage): a shard writer is a manifest READER, and re-curating the
    corpus per export run is not the 100 TB shape."""
    packed = standing_packed_corpus(spark, sf_dir)
    sharded = packed.select(
        "doc_id",
        "kept_tokens",
        _shard_start("cum_kept_tokens", shard_tokens).alias("shard_id"),
    )
    return sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("kept_tokens").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def training_export(
    spark: SparkSession,
    sf_dir: str,
    shard_tokens: int = SHARD_TOKENS,
    seq_len: int | None = None,
) -> DataFrame:
    """(shard_id, n_docs, shard_tokens, train_docs, val_docs, test_docs,
    train_tokens, val_tokens, test_tokens, span_tokens, first_seq_id,
    n_seqs): the one-card TRAINING-RUN EXPORT — the release artifact a
    training job consumes, composing the whole pipeline the way
    corpus_curate composes the dedup family:

    - shard layout (export_shards' arithmetic): docs land in the shard
      where their span STARTS over the curated kept-token stream;
    - split balance per shard (split_balance_report's concern): the
      leakage-safe cluster-hashed split corpus_curate already carries,
      reconciled per shard in docs AND tokens — train+val+test counts
      telescope to n_docs and token sums to shard_tokens EXACTLY, so a
      torn export can never pass the card;
    - sequence layout (pack_manifest's concern, over the EXPORT stream):
      span_tokens is the shard's capacity slice of the packed stream
      (min((s+1)·cap, T) − s·cap; Σ span_tokens = Σ shard_tokens = T,
      the exact global reconciliation), and first_seq_id/n_seqs are the
      fixed-length training sequences starting inside the slice
      (n_seqs = ceil(end/seq_len) − ceil(start/seq_len)) — the
      boundary-attention manifest anchor.

    Shape: the standing packed manifest supplies the exact running
    totals (distsort prefix machinery, materialized once per data
    generation — standing_packed_corpus), so the whole card is one
    integer projection + one partial-aggregated groupBy(shard_id) +
    a broadcast 1-row total over an export-sized parquet probe — no new
    ordering work, no window, integer arithmetic end-to-end (the DuckDB
    twin replays the full inline chain and stays exact)."""
    return training_export_core(
        standing_packed_corpus(spark, sf_dir),
        shard_tokens=shard_tokens,
        seq_len=seq_len,
    )


def incremental_training_export(
    spark: SparkSession,
    sf_dir: str,
    shard_tokens: int = SHARD_TOKENS,
    seq_len: int | None = None,
) -> DataFrame:
    """(shard_id, n_docs, shard_tokens, new_docs, new_tokens,
    span_tokens, first_seq_id, n_seqs): the INCREMENTAL form of
    training_export — new/changed shards only, for an append-only
    increment.

    Stream semantics: the STANDING export is the packed corpus
    restricted to pre-batch documents (corpus_curate rows outside
    dedup.is_new_batch, running totals recomputed over the
    restriction — the fixture's self-contained
    stand-in for the persisted manifest the previous run published);
    the increment is incremental_curate's verdict='kept' documents
    (kept_tokens = n_tokens - dup_old_tokens, the tokens surviving
    old-corpus span stripping) APPENDED after the standing stream in
    (quality desc, doc_id) order. Appending — never re-sorting the old
    stream — is what makes the export incremental: every shard strictly
    before the append boundary (t_old DIV capacity) is byte-identical
    to the standing export, so the job emits ONLY the boundary shard
    and beyond. Exact reconciliation, pinned by test + oracle: the
    delta rows equal the full append-stream export's tail row-for-row,
    Σ new_tokens telescopes to the increment's kept tokens, and
    Σ span_tokens over (standing prefix + delta) = t_old + t_new.

    Scale shape: the standing side is one projection + window over the
    STANDING packed manifest (standing_packed_corpus — an export-sized
    parquet probe, not a corpus re-curation); the increment side is
    increment-sized (incremental_curate's probes); the export arithmetic
    is training_export_core's — integer projections, one partial-agg
    groupBy(shard_id), broadcast 1-row totals. At 100 TB the recurring
    job touches standing ASSETS plus the increment, never old-vs-old."""
    # the standing stream feeds the boundary total AND the append
    # stream; the source is already an export-sized parquet probe
    # (standing_packed_corpus), so the pin only spares the re-window
    old_packed = _pack(
        standing_packed_corpus(spark, sf_dir)
        .where(~is_new_batch())
        .select("doc_id", "split", "kept_tokens", "quality_score"),
        budget=None,
    ).localCheckpoint(eager=False)
    kept_new = (
        incremental_curate(spark, sf_dir)
        .where(F.col("verdict") == "kept")
        .select(
            "doc_id",
            "split",
            (F.col("n_tokens") - F.col("dup_old_tokens")).alias("kept_tokens"),
            "quality_score",
        )
    )
    new_packed = _pack(kept_new, "cum_new", budget=None)
    t_old = old_packed.agg(
        F.coalesce(F.sum("kept_tokens"), F.lit(0)).cast("bigint").alias("t_old")
    )
    stream = (
        old_packed.select(
            "doc_id",
            "split",
            "kept_tokens",
            F.col("cum_kept_tokens").cast("bigint").alias("cum_kept_tokens"),
        )
        .unionByName(
            new_packed.crossJoin(F.broadcast(t_old)).select(
                "doc_id",
                "split",
                "kept_tokens",
                (F.col("cum_new") + F.col("t_old"))
                .cast("bigint")
                .alias("cum_kept_tokens"),
            )
        )
    )
    full = training_export_core(stream, shard_tokens=shard_tokens, seq_len=seq_len)
    new_agg = (
        new_packed.crossJoin(F.broadcast(t_old))
        .select(
            "kept_tokens",
            _shard_start("cum_new + t_old", shard_tokens).alias("shard_id"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("new_docs"),
            F.sum("kept_tokens").cast("bigint").alias("new_tokens"),
        )
    )
    boundary = t_old.select(
        F.expr(f"CAST(t_old DIV {shard_tokens} AS BIGINT)").alias("boundary")
    )
    zero = F.lit(0).cast("bigint")
    return (
        full.crossJoin(F.broadcast(boundary))
        .where(F.col("shard_id") >= F.col("boundary"))
        .join(F.broadcast(new_agg), "shard_id", "left")
        .select(
            "shard_id",
            "n_docs",
            "shard_tokens",
            F.coalesce("new_docs", zero).alias("new_docs"),
            F.coalesce("new_tokens", zero).alias("new_tokens"),
            "span_tokens",
            "first_seq_id",
            "n_seqs",
        )
    )


def training_export_core(
    packed: DataFrame,
    shard_tokens: int = SHARD_TOKENS,
    seq_len: int | None = None,
) -> DataFrame:
    """training_export's plan over an injectable packed corpus (any
    DataFrame carrying doc_id, split, kept_tokens, cum_kept_tokens) —
    the unit-test seam that lets the spine zero-fill paths (a doc
    out-sizing the shard capacity; a zero-kept-token doc starting
    exactly at the total) be pinned on crafted frames the real curated
    fixtures don't produce."""
    from .textstats import SEQ_LEN

    if seq_len is None:
        seq_len = SEQ_LEN
    # narrow once, materialize once: the shard aggregate, the 1-row
    # total, and the spine bound all read this frame — without the pin
    # the caller's packed lineage (corpus_curate's gates + window for
    # training_export) replays per consumer (measured 4.16 -> 3.33 s
    # at sf0.1)
    packed = packed.select(
        "doc_id", "split", "kept_tokens", "cum_kept_tokens"
    ).localCheckpoint(eager=False)
    sharded = packed.select(
        "doc_id",
        "split",
        "kept_tokens",
        _shard_start("cum_kept_tokens", shard_tokens).alias("shard_id"),
    )

    def _split(s: str) -> F.Column:
        return F.when(F.col("split") == s, F.lit(1)).otherwise(F.lit(0))

    def _split_tok(s: str) -> F.Column:
        return F.when(F.col("split") == s, F.col("kept_tokens")).otherwise(
            F.lit(0)
        )

    agg = sharded.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("kept_tokens").cast("bigint").alias("shard_tokens"),
        F.sum(_split("train")).cast("bigint").alias("train_docs"),
        F.sum(_split("val")).cast("bigint").alias("val_docs"),
        F.sum(_split("test")).cast("bigint").alias("test_docs"),
        F.sum(_split_tok("train")).cast("bigint").alias("train_tokens"),
        F.sum(_split_tok("val")).cast("bigint").alias("val_tokens"),
        F.sum(_split_tok("test")).cast("bigint").alias("test_tokens"),
    )
    total = packed.agg(
        F.sum("kept_tokens").cast("bigint").alias("total_tokens")
    )
    # Full shard spine 0..last: a doc with
    # kept_tokens > cap spans shards no doc STARTS in; without spine
    # rows those shards vanish and Σ span_tokens = T silently breaks —
    # the exact reconciliation the card exists to enforce. The spine is
    # one sequence() over the broadcast 1-row total (n_shards rows —
    # shards are release-artifact-sized, so the array stays tiny even
    # at 100 TB), left-joining the doc aggregate with zero fills.
    # last = max(ceil(T/cap)-1, max assigned shard_id): a ZERO-kept-token
    # doc whose span starts exactly at T
    # (T an exact multiple of cap) is assigned shard_id = T DIV cap =
    # n_shards; a spine cut at n_shards-1 would silently drop that doc
    # from the manifest. Extending the spine keeps it as an explicit
    # zero-span trailing shard (span_tokens = 0, n_seqs = 0), so doc
    # accounting AND the Σ span_tokens = T reconciliation both hold.
    n_shards = F.expr(
        f"CAST((total_tokens + {shard_tokens - 1}) DIV {shard_tokens}"
        " AS BIGINT)"
    )
    max_shard = agg.agg(
        F.coalesce(F.max("shard_id"), F.lit(-1)).cast("bigint").alias("max_shard")
    )
    spine = (
        total.crossJoin(F.broadcast(max_shard))
        .select(
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.greatest(n_shards - F.lit(1), F.col("max_shard")),
                )
            ).alias("shard_id"),
            F.greatest(n_shards - F.lit(1), F.col("max_shard")).alias("last_shard"),
        )
        # sequence(0, -1) yields [0, -1] when the corpus is empty; the
        # bound filter keeps the empty corpus producing an empty spine
        .where((F.col("shard_id") >= 0) & (F.col("shard_id") <= F.col("last_shard")))
        .select("shard_id")
    )
    zero = F.lit(0).cast("bigint")
    agg = spine.join(F.broadcast(agg), "shard_id", "left").select(
        "shard_id",
        *[
            F.coalesce(F.col(c), zero).alias(c)
            for c in (
                "n_docs", "shard_tokens", "train_docs", "val_docs",
                "test_docs", "train_tokens", "val_tokens", "test_tokens",
            )
        ],
    )
    out = agg.crossJoin(F.broadcast(total))
    start = F.col("shard_id") * shard_tokens
    end = F.least(
        (F.col("shard_id") + F.lit(1)) * shard_tokens, F.col("total_tokens")
    )
    ceil_div = lambda x: F.expr(f"({x} + {seq_len - 1}) DIV {seq_len}")  # noqa: E731
    return out.select(
        "shard_id",
        "n_docs",
        "shard_tokens",
        "train_docs",
        "val_docs",
        "test_docs",
        "train_tokens",
        "val_tokens",
        "test_tokens",
        (end - start).cast("bigint").alias("span_tokens"),
        ceil_div(f"shard_id * {shard_tokens}").cast("bigint").alias(
            "first_seq_id"
        ),
        (
            ceil_div(
                f"least((shard_id + 1) * {shard_tokens}, total_tokens)"
            )
            - ceil_div(f"shard_id * {shard_tokens}")
        ).cast("bigint").alias("n_seqs"),
    )
