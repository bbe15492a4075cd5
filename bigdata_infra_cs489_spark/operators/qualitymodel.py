"""Model-based quality filtering: train a fast linear classifier to
imitate an expensive quality gate, then score the whole corpus.

The "quality classifier" stage of modern pretraining pipelines (the
GPT-3 / LLaMA / palm-style setup: a cheap hashed-bag-of-words linear
model is fit against trusted labels, then thresholded over the raw
crawl). Here the trusted gate is the repo's own text_quality score at a
fixed operating point — the realistic distillation loop where a slow
rule/scorer labels a corpus slice and the linear model generalizes it —
and the learner is the SAME order-sensitive sequential SGD fold as the
reference spam trainer (operators/ml.py _sgd_fold,
TrainSpamClassifier.scala:68-85), so the trainer carries the identical
recursive-CTE value oracle.

Scale/determinism design (the ml.py disciplines):
- feature derivation (portable h8 token hash mod FEATURE_MOD) and
  scoring (explode ⋈ broadcast(weights) ⋈ partial-aggregated sum) are
  fully distributed;
- the sequential fold is the algorithm's own scale constraint, funneled
  through one applyInPandas group exactly like spam_train — a
  deployment either samples the label slice (classifier training sets
  are small by design) or swaps in a parallel learner;
- the label threshold compares the 6dp-ROUNDED quality score on both
  engines, so the label can never flip on a last-ulp disagreement;
- the report is one partial-aggregated pass of exact integer counts
  with ppm rates derived by rounded integer division (the
  gopher_pass_rates discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import ppm
from ..functions.text import tokenize
from ..sources.tables import load
from .ml import _feature_id, _score, _sgd_fold
from .textstats import text_quality

# Fixed operating point for the trusted gate: keep iff the 6dp-rounded
# text_quality score clears this (≈ the fixture corpus median, so the
# training labels are balanced and the learner has real signal).
QUALITY_THRESHOLD = 0.56


def quality_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(docid, label keep|drop, features array<int>): the distillation
    training set — every document, labeled by the trusted gate."""
    docs = load(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text"
    )
    tq = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    return docs.join(tq, "doc_id").select(
        F.col("doc_id").alias("docid"),
        F.when(F.col("quality_score") >= QUALITY_THRESHOLD, "keep")
        .otherwise("drop")
        .alias("label"),
        F.transform(tokenize("text"), _feature_id).alias("features"),
    )


def train_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(feature, weight): one sequential SGD pass in docid order over the
    labeled corpus — bit-for-bit the spam fold with keep=1/drop=0."""
    ds = quality_training_set(spark, sf_dir)
    prepared = ds.select(
        F.lit(0).alias("g"),
        F.col("docid").cast("double").alias("sort_key"),
        "docid",
        F.when(F.col("label") == "keep", 1).otherwise(0).alias("is_spam"),
        "features",
    )
    return prepared.groupBy("g").applyInPandas(
        lambda pdf: _sgd_fold(pdf), schema="feature int, weight double"
    )


def apply_quality_classifier(
    spark: SparkSession, sf_dir: str, weights: DataFrame | None = None
) -> DataFrame:
    """(doc_id, label, score, pred): the whole corpus scored by the
    trained model; pred keep iff score > 0."""
    if weights is None:
        weights = train_quality_classifier(spark, sf_dir)
    ds = quality_training_set(spark, sf_dir)
    scored = _score(ds, weights)
    # Threshold on the 6dp-ROUNDED score (the same value the row exports),
    # mirroring the rounded label threshold in quality_training_set — a
    # weight-sum within float-noise of 0 must not flip keep/drop across
    # engines or partition orderings.
    rounded = F.round("score", 6)
    return scored.select(
        F.col("docid").alias("doc_id"),
        "label",
        rounded.alias("score"),
        F.when(rounded > 0, "keep").otherwise("drop").alias("pred"),
    )


# --- registered-query-shaped entries ---------------------------------------


def quality_model_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return train_quality_classifier(spark, sf_dir).select(
        "feature", F.round("weight", 6).alias("weight")
    )


def quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_quality_classifier(spark, sf_dir)


def quality_model_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row gate-vs-model agreement report: exact integer confusion
    counts plus ppm accuracy — what a pipeline owner reads before
    trusting the cheap model at the gate's operating point. In-sample by
    construction (the fixture corpus is both label slice and target);
    a deployment scores held-out data with the same plan."""
    scored = apply_quality_classifier(spark, sf_dir)
    agree = (F.col("label") == F.col("pred")).cast("bigint")
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.sum((F.col("label") == "keep").cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("n_keep_label"),
        F.coalesce(F.sum((F.col("pred") == "keep").cast("bigint")), F.lit(0))
        .cast("bigint")
        .alias("n_keep_pred"),
        F.coalesce(F.sum(agree), F.lit(0)).cast("bigint").alias("n_agree"),
    ).select(
        "*",
        ppm("n_agree", "n_docs").alias("accuracy_ppm"),
    )
