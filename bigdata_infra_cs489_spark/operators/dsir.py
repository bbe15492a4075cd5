"""DSIR-style importance scoring for data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

The selection step a modern pretraining pipeline runs when it has a
small HIGH-QUALITY target corpus and a huge raw crawl: learn bag-of-
hashed-ngram unigram models for both, score every raw document by its
average per-token log importance ratio log p_target(x) - log p_raw(x),
and keep the top-scoring documents — upweighting raw text that "looks
like" the target distribution. No reference counterpart (north-star
extension family, the data-mixing shelf next to lang_temperature_rates).

Determinism/scale design (the lang_temperature_rates discipline):
- features are tokens hashed into DSIR_BUCKETS by the portable h8, so
  the feature space is fixed-size at any corpus scale and the DuckDB
  twin reproduces bucket ids bit-for-bit;
- the two bucket count tables are ONE partial-aggregated pass each,
  B rows total — model-sized state, broadcast back for scoring;
- each bucket's smoothed log-ratio is computed ONCE (two libm logs of
  identical doubles on both engines) and immediately rounded half-up to
  a scaled int64 (micro-nats), so every per-document score is EXACT
  integer arithmetic — a float dot product would make the 6dp rounding
  depend on accumulation order, which no engine pins;
- per-document scoring is groupBy(doc_id, bucket) -> broadcast join on
  the B-row ratio table -> one partial-aggregated integer sum; a hot
  bucket (stopwords all hash somewhere) is AQE-splittable join skew,
  never a window;
- selection is a global top-K with (score, -doc_id) ordering —
  TakeOrderedAndProject, bounded driver state at any corpus size.

The target corpus here is the deterministic doc_id % DSIR_TARGET_MOD
== 0 slice standing in for "curated high-quality data" (the
contamination_flags convention); a deployment passes its real target
table to the core functions.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h8
from ..functions.text import exploded_tokens
from ..sources.tables import load
from .assets import asset_path, ensure, read

DSIR_BUCKETS = 1024  # hashed-ngram feature-space size (fixed at any scale)
DSIR_TARGET_MOD = 13  # doc_id % MOD == 0 plays the high-quality target set
DSIR_TOP_K = 100  # raw documents kept by the selection step
_MICRO = 1_000_000


def dsir_logratios(target: DataFrame, raw: DataFrame) -> DataFrame:
    """(bucket, lr_micro): add-one-smoothed log importance ratio
    log((t_b+1)/(T+B)) - log((r_b+1)/(R+B)) per feature bucket, rounded
    half-up to int64 MICRO-NATS so downstream sums are exact integer
    arithmetic. B rows of model-sized state; the two corpus passes are
    the inherent minimum (each distribution is a global aggregate).

    The totals are finished driver-side from the already-B-row count
    tables (the lang_mixture_rates O(tiny) collect discipline), keeping
    the log computation a single Python math.log per bucket — identical
    doubles to DuckDB's ln() via the shared libm, and only the ROUNDED
    integer crosses into the distributed plan.

    Both distributions come from ONE corpus pass: target and raw are
    unioned with a side tag and partially aggregated by (side, bucket)
    — <= 2B result rows for one token-stream scan, where per-side
    _bucketed_counts calls would scan the corpus twice (the two
    lineages are opaque to Catalyst's subplan sharing)."""
    tagged = target.select(F.lit(1).alias("side"), "text").unionByName(
        raw.select(F.lit(0).alias("side"), "text")
    )
    toks = exploded_tokens(tagged, keep=("side",))
    counts = (
        toks.select("side", (h8(F.col("word")) % DSIR_BUCKETS).alias("bucket"))
        .groupBy("side", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    tc = {int(r["bucket"]): int(r["n"]) for r in counts if r["side"] == 1}
    rc = {int(r["bucket"]): int(r["n"]) for r in counts if r["side"] == 0}
    t_total = sum(tc.values())
    r_total = sum(rc.values())
    spark = target.sparkSession
    rows = [
        (
            b,
            int(
                math.floor(
                    (
                        math.log((tc.get(b, 0) + 1) / (t_total + DSIR_BUCKETS))
                        - math.log((rc.get(b, 0) + 1) / (r_total + DSIR_BUCKETS))
                    )
                    * _MICRO
                    + 0.5
                )
            ),
        )
        for b in range(DSIR_BUCKETS)
    ]
    return spark.createDataFrame(rows, "bucket bigint, lr_micro bigint")


def dsir_doc_scores(target: DataFrame, raw: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, score_micro, avg_logratio): every RAW document
    scored by its total and per-token average log importance ratio.
    score_micro is the exact integer dot product of the doc's bucket
    counts with the micro-nat ratio table; avg_logratio = score_micro /
    (n_tokens * 1e6) rounded to 6dp — a single division of identical
    int64 pairs on both engines. Zero-token docs score 0."""
    lr = dsir_logratios(target, raw)
    per_doc_bucket = (
        exploded_tokens(raw, keep=("doc_id",))
        .select("doc_id", (h8(F.col("word")) % DSIR_BUCKETS).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    scored = (
        per_doc_bucket.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lr_micro")).alias("score_micro"),
        )
    )
    return (
        raw.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("score_micro", F.lit(0)).cast("bigint").alias("score_micro"),
            # floor-micro, NOT round(x, 6): score_micro/n_tokens is an
            # integer ratio, so EXACT .5-micro ties are common (7 docs
            # at sf1, e.g. -218876/56 = -3908.5) and Spark/DuckDB break
            # decimal ties differently; floor(x + 0.5) is one identical
            # IEEE op on both engines.
            # Convention note: floor(x + 0.5) is
            # round-half-UP toward +inf, so negative exact ties go UP
            # (-3908.5 -> -3908) — deliberate, mirrored in the DuckDB
            # twin and the repo-wide floor_round standard
            # (functions/numerics.py)
            (
                F.floor(
                    F.coalesce("score_micro", F.lit(0))
                    / F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1))
                    + F.lit(0.5)
                ).cast("bigint")
                / F.lit(float(_MICRO))
            ).alias("avg_logratio"),
        )
    )


def dsir_select_topk(
    target: DataFrame, raw: DataFrame, k: int = DSIR_TOP_K
) -> DataFrame:
    """(rank, doc_id, n_tokens, avg_logratio): the k raw documents most
    target-like by average log importance ratio (avg desc, doc_id asc
    tie-break) — the kept set of the DSIR selection step. Global top-k
    via TakeOrderedAndProject; the in-top-k rank is then attached with
    the bounded N^2 broadcast self-join (the weighted_sample_topn
    pattern — no partition-less window)."""
    return _select_topk_from_scores(dsir_doc_scores(target, raw), k)


def _select_topk_from_scores(scores: DataFrame, k: int = DSIR_TOP_K) -> DataFrame:
    """dsir_select_topk's selection over an explicit score frame — the
    seam that lets the registered wrapper serve the scores from the
    standing table while tests inject crafted frames."""
    scores = scores.select("doc_id", "n_tokens", "avg_logratio")
    top = scores.orderBy(F.desc("avg_logratio"), F.asc("doc_id")).limit(k)
    other = top.select(
        F.col("doc_id").alias("o_id"), F.col("avg_logratio").alias("o_s")
    )
    ahead = (F.col("o_s") > F.col("avg_logratio")) | (
        (F.col("o_s") == F.col("avg_logratio")) & (F.col("o_id") < F.col("doc_id"))
    )
    return (
        top.join(F.broadcast(other), ahead, "left")
        .groupBy("doc_id", "n_tokens", "avg_logratio")
        .agg((F.count("o_id") + 1).cast("int").alias("rank"))
        .select("rank", "doc_id", "n_tokens", "avg_logratio")
    )


def _split_target_raw(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text"
    )
    is_target = (F.col("doc_id") % DSIR_TARGET_MOD) == 0
    return docs.where(is_target), docs.where(~is_target)


def dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query-shaped entry: score every raw doc against the
    deterministic fixture target slice."""
    target, raw = _split_target_raw(spark, sf_dir)
    return dsir_doc_scores(target, raw)


# Bump on ANY change to the scoring lineage (tokenizer, bucket count,
# the target/raw split, the ratio arithmetic) — the DEDUP_INDEX_VERSION
# discipline; tests/test_dsir.py::test_standing_dsir_scores_match_inline
# re-derives the inline lineage against the asset so a missed bump
# still fails CI on the test fixtures.
DSIR_SCORES_VERSION = 1
DSIR_SCORES_SCHEMA = (
    "doc_id BIGINT, n_tokens BIGINT, score_micro BIGINT, avg_logratio DOUBLE"
)


def dsir_scores_path(sf_dir: str) -> str:
    """Standing score-table location for one data generation of the
    documents table, keyed on the bucket count, the target modulus and
    DSIR_SCORES_VERSION."""
    return asset_path(
        sf_dir,
        "documents",
        f"dsirscores_v{DSIR_SCORES_VERSION}",
        f"b{DSIR_BUCKETS}t{DSIR_TARGET_MOD}",
    )


def standing_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc DSIR importance-weight table (doc_id, n_tokens,
    score_micro, avg_logratio) served as a STANDING asset — the
    maintained per-doc weight column a data-mixing pipeline attaches to
    its corpus once per target definition and every selection/resample
    job reads (Xie et al. 2023 compute weights once, then draw). Built
    on first touch by the inline dsir_scores lineage, probed as a
    parquet scan by the selection and resampling cards; the registered
    dsir_scores card stays the inline bootstrap. Values bit-identical
    (exact int64 score_micro/n_tokens; avg_logratio is the floor-micro
    double, which parquet round-trips exactly); the DuckDB oracles
    replay the inline chain, unchanged."""
    import os

    path = ensure(
        dsir_scores_path(sf_dir),
        ("scores",),
        lambda tmp: dsir_scores(spark, sf_dir).write.parquet(
            os.path.join(tmp, "scores")
        ),
    )
    return read(spark, path, "scores", DSIR_SCORES_SCHEMA)


def dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query-shaped entry for the selection step — reads the
    standing weight table (standing_dsir_scores)."""
    return _select_topk_from_scores(standing_dsir_scores(spark, sf_dir))


# --- importance RESAMPLING (the paper's actual selection rule) -------------

DSIR_RESAMPLE_K = 100  # documents drawn by the resampling step
DSIR_GUMBEL_SALT = "dsir-gumbel-v1"  # version the draw without new data


def dsir_resample_topk(
    target: DataFrame, raw: DataFrame, k: int = DSIR_RESAMPLE_K
) -> DataFrame:
    """(rank, doc_id, n_tokens, avg_logratio, gumbel_key): k raw
    documents drawn WITHOUT replacement with probability proportional to
    the importance weight exp(sum-of-token log ratios) — the resampling
    rule of Xie et al. 2023 §2, which dsir_select_topk's deterministic
    top-k only approximates at temperature 0.

    Sampling ∝ softmax(log w_i) without replacement is exactly the
    Gumbel-top-k trick: key_i = log w_i + G_i with G_i standard Gumbel,
    take the k largest keys. Determinism/scale discipline:
    - G_i = -ln(-ln(u_i)) with u_i = (h8(doc_id || salt) % 1e6 + 0.5) /
      1e6 — the repo's salted-hash uniform, identical on both engines
      and collision-free in (0, 1);
    - log w_i = score_micro / 1e6: ONE float op on the exact integer
      score, then one shared-libm log pair for the Gumbel — the 6dp
      rounded key is engine-stable (the lang_temperature discipline);
    - selection is a global top-k on (gumbel_key desc, doc_id asc) —
      TakeOrderedAndProject, bounded driver state at any corpus size;
      the in-sample rank is attached with the bounded k^2 broadcast
      self-join (no partition-less window)."""
    return _resample_from_scores(dsir_doc_scores(target, raw), k)


def _resample_from_scores(
    scores: DataFrame, k: int = DSIR_RESAMPLE_K
) -> DataFrame:
    """dsir_resample_topk's draw over an explicit score frame — the
    seam that lets the registered wrapper serve the scores from the
    standing table while tests inject crafted frames."""
    u = (
        h8(F.concat(F.col("doc_id").cast("string"), F.lit(DSIR_GUMBEL_SALT)))
        % _MICRO
        + F.lit(0.5)
    ) / F.lit(float(_MICRO))
    keyed = scores.withColumn(
        "gumbel_key",
        F.round(
            F.col("score_micro") / F.lit(float(_MICRO)) - F.log(-F.log(u)), 6
        ),
    )
    top = keyed.orderBy(F.desc("gumbel_key"), F.asc("doc_id")).limit(k)
    other = top.select(
        F.col("doc_id").alias("o_id"), F.col("gumbel_key").alias("o_k")
    )
    ahead = (F.col("o_k") > F.col("gumbel_key")) | (
        (F.col("o_k") == F.col("gumbel_key")) & (F.col("o_id") < F.col("doc_id"))
    )
    return (
        top.join(F.broadcast(other), ahead, "left")
        .groupBy("doc_id", "n_tokens", "avg_logratio", "gumbel_key")
        .agg((F.count("o_id") + 1).cast("int").alias("rank"))
        .select("rank", "doc_id", "n_tokens", "avg_logratio", "gumbel_key")
    )


def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query-shaped entry for the resampling step — reads the
    standing weight table (standing_dsir_scores)."""
    return _resample_from_scores(standing_dsir_scores(spark, sf_dir))


# --- corpus drift monitoring (the data-mixing shelf's QA gate) --------------

DRIFT_BUCKET_PPM = 1000  # a bucket is "shifted" when |p - q| >= this


def token_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus drift card: (n_old_tokens, n_new_tokens, tvd_micro,
    js_micro, n_shifted_buckets) comparing the NEW crawl batch's hashed
    token distribution against the standing corpus's — the monitor a
    recurring ingest runs before letting an increment into training
    (a scraper regression, language flip, or spam flood shows up as a
    step change in total-variation / Jensen-Shannon distance long
    before any downstream eval moves). Slices follow the
    incremental-family convention (dedup.is_new_batch).

    Determinism/scale design (the dsir_logratios discipline): both
    distributions come from ONE tagged token-stream pass partially
    aggregated to <= 2*DSIR_BUCKETS rows (model-sized at any corpus
    scale); each bucket's |p-q| and JS terms are computed once from
    identical int64-count divisions and immediately rounded half-up to
    micro units, so the cross-bucket sums are EXACT integer arithmetic
    — a float sum over buckets would make the report depend on
    accumulation order, which DuckDB's unordered aggregate does not
    pin. Zero-token slices degrade to an all-zeros row."""
    from .dedup import is_new_batch

    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text"
    )
    tagged = docs.select(is_new_batch().cast("int").alias("side"), "text")
    toks = exploded_tokens(tagged, keep=("side",))
    counts = (
        toks.select("side", (h8(F.col("word")) % DSIR_BUCKETS).alias("bucket"))
        .groupBy("side", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    old = {int(r["bucket"]): int(r["n"]) for r in counts if r["side"] == 0}
    new = {int(r["bucket"]): int(r["n"]) for r in counts if r["side"] == 1}
    return drift_card_from_counts(spark, old, new)


def drift_card_from_counts(
    spark: SparkSession, old: dict[int, int], new: dict[int, int]
) -> DataFrame:
    """The drift card's driver-side finish over two model-sized
    bucket-count dicts (<= DSIR_BUCKETS entries each) — shared by the
    batch operator and its streaming twin so the card arithmetic can
    never diverge between them."""
    n_old, n_new = sum(old.values()), sum(new.values())
    tvd = js = shifted = 0
    if n_old and n_new:
        for b in range(DSIR_BUCKETS):
            p = old.get(b, 0) / float(n_old)
            q = new.get(b, 0) / float(n_new)
            if p == 0.0 and q == 0.0:
                continue
            d = int(math.floor(abs(p - q) * _MICRO + 0.5))
            tvd += int(math.floor(abs(p - q) * 0.5 * _MICRO + 0.5))
            if d >= DRIFT_BUCKET_PPM:
                shifted += 1
            m = (p + q) / 2.0
            t = 0.0
            if p > 0.0:
                t += 0.5 * p * math.log(p / m)
            if q > 0.0:
                t += 0.5 * q * math.log(q / m)
            js += int(math.floor(t * _MICRO + 0.5))
    return spark.createDataFrame(
        [(n_old, n_new, tvd, js, shifted)],
        "n_old_tokens bigint, n_new_tokens bigint, tvd_micro bigint,"
        " js_micro bigint, n_shifted_buckets bigint",
    )
