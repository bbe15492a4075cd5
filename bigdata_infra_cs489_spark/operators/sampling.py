"""Deterministic hash-based sampling and dataset splitting.

A training-data pipeline needs samples and train/val/test splits that are
(a) reproducible across runs and engines, (b) stable under repartitioning,
and (c) assignable in a single narrow pass with no shuffle. Seeded
``df.sample`` gives none of these across engines (RNG streams are
partition-dependent), so both operators here derive the decision from the
shared portable hash (functions/hashing.h8) of the row key: the DuckDB
oracle reproduces membership bit-for-bit, and at 100 TB the operators are
pure map-side filters/projections that parallelize trivially.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h8
from ..sources.tables import load

SAMPLE_PCT = 10  # events_hash_sample keeps h8(event_id) % 100 < 10
SPLIT_SALT = "split-v1"  # version the split without touching the data
TRAIN_PCT = 80
VAL_PCT = 10  # test = remainder


def events_hash_sample(
    spark: SparkSession, sf_dir: str, pct: int = SAMPLE_PCT
) -> DataFrame:
    """Reproducible ~pct% sample of events keyed on event_id — the same
    rows come back on every run, engine, and partitioning."""
    ev = load(spark, sf_dir, "events")
    bucket = h8(F.col("event_id").cast("string")) % 100
    return ev.where(bucket < pct).select("event_id", "user_id", "event_type")


def split_col(key: str, salt: str) -> Column:
    """train/val/test (TRAIN_PCT/VAL_PCT/rest) by h8(key || salt) % 100.
    The salt versions the split: bumping it reshuffles membership
    deterministically."""
    bucket = h8(F.concat(F.col(key).cast("string"), F.lit(salt))) % 100
    return (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, split): salted-hash assignment of every document to
    train/val/test (80/10/10). Joining any feature table on doc_id
    inherits the split without re-deriving it."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", split_col("doc_id", SPLIT_SALT).alias("split"))


MIX_SALT = "mix-v1"
_PPM = 1_000_000


def lang_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, total_tokens, keep_ppm): per-language keep rates that
    rebalance the corpus to an equal-token-mass mixture — the data-mixing
    step of a training pipeline, here with uniform targets (the smallest
    language is kept whole; every other is downsampled toward its mass).

    keep_ppm = (min_total * 1e6) DIV total — pure int64 arithmetic so the
    DuckDB oracle reproduces the rate bit-for-bit with no fp-rounding
    hazard (int64 caps the exact path around ~1e12 total tokens; past
    that, switch the ppm computation to decimal).

    Scale shape: ONE partial-aggregated pass over the corpus down to
    #langs rows, collected to the driver (the same O(tiny) collect
    discipline as the PPR scalars and distsort offsets) where the min and
    the per-language ppm are finished — referencing the global min as a
    second DataFrame branch would make Catalyst evaluate the whole
    tokenize+agg subtree twice (no common-subplan sharing across a
    self-cross-join), doubling the corpus scans."""
    from .textstats import text_quality

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    toks = text_quality(spark, sf_dir).select("doc_id", "n_tokens")
    totals = sorted(
        docs.join(toks, "doc_id")
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("total_tokens"))
        .collect(),
        key=lambda r: r["lang"],
    )
    # the mixture floor is the smallest POSITIVE mass: a language whose
    # docs all tokenize to zero tokens contributes nothing and gets
    # keep_ppm=0 (rather than dividing by zero / dragging mn to 0)
    mn = min((r["total_tokens"] for r in totals if r["total_tokens"]), default=0)
    return spark.createDataFrame(
        [
            (
                r["lang"],
                r["total_tokens"],
                mn * _PPM // r["total_tokens"] if r["total_tokens"] else 0,
            )
            for r in totals
        ],
        "lang string, total_tokens bigint, keep_ppm bigint",
    )


def lang_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang): the documents kept by the equal-token-mass mixture
    (lang_mixture_rates) via the salted portable hash — a map-side filter
    against a broadcast #langs-row rate table, reproducible across
    engines and partitionings like every sampler in this module."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = lang_mixture_rates(spark, sf_dir).select("lang", "keep_ppm")
    bucket = h8(F.concat(F.col("doc_id").cast("string"), F.lit(MIX_SALT))) % _PPM
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("keep_ppm"))
        .select("doc_id", "lang")
    )


MIX_ALPHA = 0.3  # the mT5/XLM-R temperature-sampling exponent
TEMP_MIX_SALT = "temp-mix-v1"


def _r6(x: float) -> float:
    """Half-UP 6dp round for positives — matches Spark F.round and DuckDB
    round(); Python's built-in round is banker's and would diverge on
    exact .5 boundaries."""
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def lang_temperature_rates(
    spark: SparkSession, sf_dir: str, alpha: float = MIX_ALPHA
) -> DataFrame:
    """(lang, total_tokens, p_raw, p_temp, keep_ppm): temperature-based
    language mixing — the multilingual-pretraining standard (mT5/XLM-R):
    sampling mass q_l ∝ p_l^alpha with alpha < 1 upweights low-resource
    languages without the equal-mass flattening of lang_mixture_rates.
    p_raw is the corpus's natural token share, p_temp the temperature-
    adjusted target share, keep_ppm the per-document keep rate that
    realizes the target (normalized so the most-upweighted language is
    kept whole).

    Cross-engine float care: total_tokens are exact int64; each pow term
    is immediately rounded half-up to a scaled int64 (w_i = ⌊t^α·1e6 +
    0.5⌋ — ONE libm pow per language, identical doubles on both engines,
    the weighted_sample_topn precedent), so the normalizing sum is EXACT
    integer arithmetic and order-independent — a float sum would make
    the 6dp rounding of p_temp depend on accumulation order, which
    DuckDB's scan-order aggregate does not pin. p_raw/p_temp are then
    single divisions of identical int64 pairs, rounded half-up to 6dp on
    BOTH engines, and keep_ppm derives from the ROUNDED shares, so every
    downstream value is bit-deterministic. Zero-token languages emit all
    zeros. Same O(#langs) driver-side finish as lang_mixture_rates (a
    second DataFrame branch for the global sums would double the corpus
    scans)."""
    import math

    from .textstats import text_quality

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    toks = text_quality(spark, sf_dir).select("doc_id", "n_tokens")
    totals = sorted(
        (
            (r["lang"], int(r["total_tokens"]))
            for r in docs.join(toks, "doc_id")
            .groupBy("lang")
            .agg(F.sum("n_tokens").alias("total_tokens"))
            .collect()
        ),
    )
    grand = sum(t for _, t in totals)
    wis = {
        lang: (int(math.floor(t**alpha * 1e6 + 0.5)) if t else 0)
        for lang, t in totals
    }
    s = sum(wis.values())
    # float()/float() on BOTH operands before dividing, matching the
    # DuckDB twin's CAST(... AS DOUBLE)/CAST(... AS DOUBLE) exactly:
    # Python int/int true division is correctly rounded from the exact
    # rational, which can differ in the last ulp from double/double once
    # an operand exceeds 2^53 — reachable for s/grand at 100 TB scale
    # (micro-scaled pow weights summed over languages).
    shares = [
        (
            lang,
            t,
            _r6(float(t) / float(grand)) if t else 0.0,
            _r6(float(wis[lang]) / float(s)) if t else 0.0,
        )
        for lang, t in totals
    ]
    weights = {lang: (pt / pr if pr else 0.0) for lang, _, pr, pt in shares}
    wmax = max(weights.values(), default=0.0)
    rows = [
        (
            lang,
            t,
            pr,
            pt,
            int((1_000_000 * weights[lang] / wmax) + 0.5) if wmax else 0,
        )
        for lang, t, pr, pt in shares
    ]
    return spark.createDataFrame(
        rows,
        "lang string, total_tokens bigint, p_raw double, p_temp double, "
        "keep_ppm bigint",
    )


def lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang): the documents kept by the temperature mixture —
    a map-side filter against the broadcast #langs-row rate table via the
    salted portable hash, deterministic across engines/partitionings."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = lang_temperature_rates(spark, sf_dir).select("lang", "keep_ppm")
    bucket = h8(F.concat(F.col("doc_id").cast("string"), F.lit(TEMP_MIX_SALT))) % _PPM
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("keep_ppm"))
        .select("doc_id", "lang")
    )


CAP_PER_SOURCE = 15
CAP_SALT = "cap-v1"
CAP_N_BUCKETS = 32  # salt fan-out for the hot-source two-phase top-k


def source_capped_sample(
    spark: SparkSession, sf_dir: str, cap: int = CAP_PER_SOURCE
) -> DataFrame:
    """(doc_id, source): at most ``cap`` documents per source — the
    per-domain cap every web-corpus pipeline applies so no single crawl
    host dominates the mixture. Membership is deterministic: docs rank
    within their source by salted portable hash (doc_id tie-break), so
    the kept set is stable across runs, engines, and partitionings, and
    the DuckDB oracle replays it bit-for-bit.

    Scale shape: a per-source count (one partial-aggregated shuffle to
    #sources rows) splits the corpus first — sources already under the
    cap pass through with a broadcast anti-join and NEVER pay a sort.
    The oversized tail goes through a TWO-PHASE salted top-k instead of
    a per-source window: phase 1 ranks within (source, salt bucket) —
    the bucket is derived from the rank hash itself, so a hot source
    spreads over CAP_N_BUCKETS tasks — keeping at most ``cap`` rows per
    bucket; phase 2 re-ranks only the ≤ cap·CAP_N_BUCKETS survivors per
    source. The global per-source top-cap is contained in the union of
    per-bucket top-caps (fewer than cap rows precede any winner
    globally, hence in its own bucket), so the result is identical to a
    single per-source rank while window state stays bounded at ANY
    source skew — a domain holding half the crawl never concentrates in
    one task."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    big = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > cap)
        .select("source")
    )
    under_cap = docs.join(F.broadcast(big), "source", "left_anti")
    rk = h8(F.concat(F.col("doc_id").cast("string"), F.lit(CAP_SALT)))
    w1 = Window.partitionBy("source", "bucket").orderBy(
        F.asc("rk"), F.asc("doc_id")
    )
    survivors = (
        docs.join(F.broadcast(big), "source")
        .withColumn("rk", rk)
        .withColumn("bucket", (F.col("rk") % CAP_N_BUCKETS).cast("int"))
        .withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= cap)
    )
    w2 = Window.partitionBy("source").orderBy(F.asc("rk"), F.asc("doc_id"))
    capped = survivors.withColumn("rn", F.row_number().over(w2)).where(
        F.col("rn") <= cap
    )
    return under_cap.select("doc_id", "source").unionByName(
        capped.select("doc_id", "source")
    )


STRATA_RATES = (100, 50, 20, 5)  # keep-% per quality quartile, best first
STRATA_SALT = "strata-v1"


def quality_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, quartile): quality-aware downsampling — keep all of the
    best quality quartile and progressively less of worse ones
    (STRATA_RATES), the selection step that rebalances a web-scale corpus
    toward its high-quality tail without discarding diversity entirely.

    Membership composes the two deterministic primitives of this package:
    the quartile comes from distributed ntile(4) over the quality order
    (range-partitioned prefix ranks, operators/distsort.py — no
    single-partition sort, 2 narrow columns), the keep/drop decision from
    the salted portable hash — so the sample is reproducible across runs,
    engines and partitionings, and the oracle replays it bit-for-bit.
    """
    from .distsort import with_ntile
    from .textstats import text_quality

    q = text_quality(spark, sf_dir)
    strat = with_ntile(
        q.select("doc_id", "quality_score"),
        [F.desc("quality_score"), F.asc("doc_id")],
        4,
        "quartile",
    )
    rate = F.element_at(
        F.array(*[F.lit(r) for r in STRATA_RATES]), F.col("quartile")
    )
    bucket = h8(F.concat(F.col("doc_id").cast("string"), F.lit(STRATA_SALT))) % 100
    return strat.where(bucket < rate).select("doc_id", "quartile")


CLUSTER_SPLIT_SALT = "cluster-split-v1"


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, split): train/val/test assignment hashed on
    the NEAR-DUPLICATE CLUSTER id instead of the doc id — every member of
    a near-dup cluster lands in the same split, so paraphrased/templated
    copies of a training document can never leak into the eval set. The
    split a dedup-aware pipeline actually evaluates against.

    Scale shape: cluster assignment is the iterative min-label connected
    components (band-join candidate cost, O(diameter) rounds); the split
    itself is a pure map-side salted-hash projection on top — same
    portable h8 contract as dataset_split, so the two splits are
    directly comparable.
    """
    from .dedup import standing_full_clusters

    clusters = standing_full_clusters(spark, sf_dir)
    return clusters.select(
        "doc_id",
        "cluster_id",
        split_col("cluster_id", CLUSTER_SPLIT_SALT).alias("split"),
    )


WEIGHTED_SAMPLE_N = 50
WEIGHTED_SAMPLE_SALT = "wsample-v1"
_U32 = float(1 << 32)


def weighted_sample_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rank, doc_id, n_chars, key): deterministic weighted sampling
    WITHOUT replacement via Efraimidis-Spirakis exponential keys — each
    doc draws u = hash-uniform(0,1) and ranks by u^(1/w) with w its
    quality weight (here n_chars), so inclusion probability is
    proportional to weight and the N winners are exactly one weighted
    draw-without-replacement sample. The distributed-sampling primitive
    `df.sample` can't give: reproducible across engines AND weighted.

    Scale shape: the key is a pure map-side column expression off the
    portable h8; selection is a global top-N (TakeOrderedAndProject — 
    per-partition heaps, no sort, no shuffle of the corpus). Keys round
    to 6dp with doc_id tie-break before ranking so the cross-engine
    order never rides on pow()'s last ulp."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    u = (
        h8(F.concat(F.col("doc_id").cast("string"), F.lit(WEIGHTED_SAMPLE_SALT)))
        + F.lit(0.5)
    ) / F.lit(_U32)
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col("n_chars")), 6
    ).alias("key")
    ranked = docs.select("doc_id", "n_chars", key).orderBy(
        F.desc("key"), F.asc("doc_id")
    )
    top = ranked.limit(WEIGHTED_SAMPLE_N)
    # rank within the bounded top-N via the same N^2 broadcast self-join
    # trick heavy_key_report uses (no partition-less window)
    other = top.select(
        F.col("doc_id").alias("o_id"), F.col("key").alias("o_key")
    )
    ahead = (F.col("o_key") > F.col("key")) | (
        (F.col("o_key") == F.col("key")) & (F.col("o_id") < F.col("doc_id"))
    )
    return (
        top.join(F.broadcast(other), ahead, "left")
        .groupBy("doc_id", "n_chars", "key")
        .agg((F.count("o_id") + 1).cast("int").alias("rank"))
        .select("rank", "doc_id", "n_chars", "key")
    )


MIX_TRAIN_BUDGET = 50_000  # tokens the mixture plan draws (fixture-scale)


def source_mixture_plan(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = MIX_ALPHA,
    budget: int = MIX_TRAIN_BUDGET,
) -> DataFrame:
    """(source, n_docs, total_tokens, p_raw, p_temp, draw_tokens,
    epochs_micro): the per-source data-mixing plan — the table a
    pretraining run is configured from (the LLaMA-style "sampling
    proportion + epochs" card): temperature-weighted target shares over
    SOURCES (q_s ∝ tokens_s^alpha, the lang_temperature_rates math on the
    source axis), the token draw each source contributes to a fixed
    training budget, and the effective epochs (passes over the source's
    data, in exact ppm) that draw implies — upweighted low-resource
    sources show epochs > 1.0, downweighted head sources < 1.0.

    Determinism: the same integer-scaled pow-weight discipline as
    lang_temperature_rates (one libm pow per source, immediately scaled
    to int64; exact integer normalization; single rounded divisions of
    identical int64 pairs). draw_tokens derives from the ROUNDED p_temp
    (floor(p_temp * budget + 0.5)), epochs_micro by rounded integer
    division of exact int64s — bit-deterministic end-to-end. Driver-side
    finish is O(#sources) rows, the established model-sized bound."""
    import math

    from .textstats import text_quality

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    toks = text_quality(spark, sf_dir).select("doc_id", "n_tokens")
    totals = sorted(
        (r["source"], int(r["n_docs"]), int(r["total_tokens"]))
        for r in docs.join(toks, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .collect()
    )
    grand = sum(t for _, _, t in totals)
    wis = {
        src: (int(math.floor(t**alpha * 1e6 + 0.5)) if t else 0)
        for src, _, t in totals
    }
    s = sum(wis.values())
    rows = []
    for src, nd, t in totals:
        p_raw = _r6(float(t) / float(grand)) if t else 0.0
        p_temp = _r6(float(wis[src]) / float(s)) if t else 0.0
        draw = int(math.floor(p_temp * budget + 0.5))
        epochs = (draw * _PPM + t // 2) // t if t else 0
        rows.append((src, nd, t, p_raw, p_temp, draw, epochs))
    return spark.createDataFrame(
        rows,
        "source string, n_docs bigint, total_tokens bigint, p_raw double, "
        "p_temp double, draw_tokens bigint, epochs_micro bigint",
    )


def split_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(split, lang, n_docs, expected_micro, deviation_ppm): the split
    QA gate — for every (split, language) stratum, the observed count
    against the expectation implied by the split's target percentages
    and the language's corpus share, with the relative deviation in ppm
    (divisor rescaled to whole docs so the integer arithmetic holds at
    any stratum size). A salted-hash split is only pseudo-random; this is the
    audit a release runs to prove no stratum drifted (a language whose
    doc ids cluster could silently starve val/test).

    Shape: one groupBy(split, lang) count + one groupBy(lang) count and
    a broadcast join of the #langs-sized totals — everything partial-
    aggregated; expectation and deviation are exact integer micro/ppm
    arithmetic on both engines."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    splits = dataset_split(spark, sf_dir)
    joined = docs.join(splits, "doc_id")
    per = joined.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    lang_tot = joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("lang_docs")
    )
    # the stratum spine is splits × langs, NOT the observed strata: a
    # fully starved (split, lang) cell — the report's own motivating
    # failure — must appear as an explicit n_docs = 0 row with its full
    # deviation, never be silently absent
    split_names = spark.createDataFrame(
        [("train",), ("val",), ("test",)], "split string"
    )
    spine = lang_tot.crossJoin(F.broadcast(split_names))
    pct = (
        F.when(F.col("split") == "train", F.lit(TRAIN_PCT))
        .when(F.col("split") == "val", F.lit(VAL_PCT))
        .otherwise(F.lit(100 - TRAIN_PCT - VAL_PCT))
        .cast("bigint")
    )
    # expected_micro = lang_docs * pct% in exact micro-docs
    expected = (F.col("lang_docs") * pct * 10_000).cast("bigint")
    return (
        spine.join(F.broadcast(per), ["split", "lang"], "left")
        .select(
            "split",
            "lang",
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            "lang_docs",
        )
        .select(
            "split",
            "lang",
            "n_docs",
            expected.alias("expected_micro"),
            # relative deviation in ppm with a MILLI-doc divisor: the
            # whole-doc flooring of the earlier form inflated deviation
            # up to 2x for strata expecting ~2 docs and unboundedly
            # below 1 expected doc (a QA gate that over-alarms on tiny
            # language strata). diff*1000 / (expected/1000) keeps the
            # intermediate at milli-doc magnitude — int64-safe to
            # ~9.2e9-doc strata — while quantization error stays <=
            # 0.1% of the expectation
            F.expr(
                "CAST(abs(n_docs * 1000000L - expected_micro) * 1000L"
                " div greatest(expected_micro div 1000L, 1L) AS BIGINT)"
            ).alias("deviation_ppm"),
        )
    )
