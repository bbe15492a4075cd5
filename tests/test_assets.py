"""The standing-asset mechanism (operators/assets.py): key, gate, temp
build and publish, exercised through the helper itself and through every
standing entry point that rides it.

- a failed build leaves no temp directory behind;
- concurrent first-touch builds publish exactly one complete copy;
- a warm hit writes nothing (the read-only index-root contract).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from bigdata_infra_cs489_spark.operators import (
    bpe,
    curate,
    dedup,
    dsir,
    index,
    similarity,
    spans,
    text_analytics,
    vector_index,
)
from bigdata_infra_cs489_spark.operators.assets import ensure
from bigdata_infra_cs489_spark.operators.bpe import standing_bpe_vocab
from bigdata_infra_cs489_spark.operators.curate import standing_packed_corpus
from bigdata_infra_cs489_spark.operators.dedup import (
    ensure_dedup_index,
    standing_full_clusters,
)
from bigdata_infra_cs489_spark.operators.dsir import standing_dsir_scores
from bigdata_infra_cs489_spark.operators.index import q_term_lookup
from bigdata_infra_cs489_spark.operators.similarity import standing_kmeans_centroids
from bigdata_infra_cs489_spark.operators.spans import (
    standing_old_contexts,
    standing_old_grams,
)
from bigdata_infra_cs489_spark.operators.text_analytics import standing_lm_scores
from bigdata_infra_cs489_spark.operators.vector_index import ensure_vector_index


def test_failed_build_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """A build whose Spark job fails mid-write must not leak its
    ``*.build-*`` directory under the asset key or the index root."""
    from pyspark.sql import functions as F

    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "documents.parquet").write_bytes(b"d" * 64)

    def failing_scores(spark, _sf_dir):
        boom = F.raise_error(F.lit("injected build failure")).cast("long")
        return spark.range(4).select((F.col("id") + boom).alias("doc_id"))

    monkeypatch.setattr(dsir, "dsir_scores", failing_scores)
    path = dsir.dsir_scores_path(str(sf_dir))
    with pytest.raises(Exception, match="injected build failure"):
        dsir.standing_dsir_scores(spark, str(sf_dir))
    root, key = os.path.split(path)
    leaked = [p for p in os.listdir(root) if p.startswith(key) and ".build-" in p]
    if os.path.isdir(path):
        leaked += [p for p in os.listdir(path) if ".build-" in p]
    assert leaked == []


def test_concurrent_first_touch_publishes_one_copy(tmp_path):
    """Eight threads first-touch one key at once; every build is slow
    enough that all of them miss the gate and race on the publish."""
    path = str(tmp_path / "key")
    subs = ("a", "b")

    def build(tmp: str) -> None:
        time.sleep(0.2)
        for sub in subs:
            d = os.path.join(tmp, sub)
            os.makedirs(d)
            with open(os.path.join(d, "part-0"), "w") as f:
                f.write(tmp)
            open(os.path.join(d, "_SUCCESS"), "w").close()

    start = threading.Barrier(8, timeout=30)

    def touch(_i):
        start.wait()
        return ensure(path, subs, build)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            results = list(ex.map(touch, range(8), timeout=60))
    finally:
        sys.setswitchinterval(switch)
    assert results == [path] * 8
    for sub in subs:
        assert sorted(os.listdir(os.path.join(path, sub))) == ["_SUCCESS", "part-0"]
    debris = [
        p
        for p in os.listdir(tmp_path) + os.listdir(path)
        if ".build-" in p or ".torn-" in p
    ]
    assert debris == [], f"unpublished build debris: {debris}"


def _read_sub(spark, path: str, sub: str):
    return spark.read.parquet(os.path.join(path, sub))


# Every standing entry point, as (spark, sf_dir) -> DataFrame.
STANDING = {
    "dedup_index": lambda s, d: _read_sub(s, ensure_dedup_index(s, d), "clusters"),
    "clusters_full": standing_full_clusters,
    "vector_index": lambda s, d: _read_sub(s, ensure_vector_index(s, d), "ivf"),
    "kmeans_centroids": standing_kmeans_centroids,
    "term_index": q_term_lookup,
    "packed_corpus": standing_packed_corpus,
    "bpe_vocab": standing_bpe_vocab,
    "dsir_scores": standing_dsir_scores,
    "old_grams": standing_old_grams,
    "old_contexts": standing_old_contexts,
    "lm_scores": standing_lm_scores,
}


@pytest.mark.parametrize("name", sorted(STANDING))
def test_warm_hit_writes_nothing(spark, sf_smoke, monkeypatch, name):
    """Once built, a standing asset is served with no filesystem write:
    the second call must succeed with rename/makedirs/rmtree forbidden
    and return the same rows."""
    fn = STANDING[name]
    cold = sorted(map(repr, fn(spark, sf_smoke).collect()))

    def forbidden(*_a, **_k):
        raise AssertionError(f"{name}: warm hit wrote to the index root")

    monkeypatch.setattr(os, "rename", forbidden)
    monkeypatch.setattr(os, "makedirs", forbidden)
    monkeypatch.setattr(shutil, "rmtree", forbidden)
    warm = sorted(map(repr, fn(spark, sf_smoke).collect()))
    assert warm == cold


def _kmeans_path(sf_dir: str) -> str:
    return similarity.kmeans_model_path(
        sf_dir, similarity.N_CENTROIDS, similarity.KMEANS_ITERATIONS
    )


_DEDUP = dedup.DEDUP_INDEX_SCHEMAS

# Every standing entry point's asset key and declared {sub: DDL}.
DECLARED = {
    "dedup_index": (
        dedup.dedup_index_path,
        {sub: _DEDUP[sub] for sub in ("clusters", "bands", "shingles")},
    ),
    "clusters_full": (
        dedup.dedup_index_path,
        {"clusters_full": _DEDUP["clusters_full"]},
    ),
    "vector_index": (vector_index.vector_index_path, vector_index.VECTOR_INDEX_SCHEMAS),
    "kmeans_centroids": (_kmeans_path, {"centroids": similarity.KMEANS_MODEL_SCHEMA}),
    "term_index": (index.term_index_path, {"postings": index.TERM_INDEX_SCHEMA}),
    "packed_corpus": (
        curate.curate_manifest_path,
        {"packed": curate.CURATE_MANIFEST_SCHEMA},
    ),
    "bpe_vocab": (bpe.bpe_vocab_path, {"vocab": bpe.BPE_VOCAB_SCHEMA}),
    "dsir_scores": (dsir.dsir_scores_path, {"scores": dsir.DSIR_SCORES_SCHEMA}),
    "old_grams": (spans.span_index_path, {"grams_old": spans.SPAN_INDEX_SCHEMA}),
    "old_contexts": (
        spans.spectrum_index_path,
        {"contexts_old": spans.SPECTRUM_INDEX_SCHEMA},
    ),
    "lm_scores": (
        text_analytics.lm_scores_path,
        {"scores": text_analytics.LM_SCORES_SCHEMA},
    ),
}


# Partition columns take their type from directory names. ``width`` is
# declared BIGINT, the type its builder writes, where inference gives INT.
WIDENED = {("contexts_old", "width"): LongType()}


@pytest.mark.parametrize("name", sorted(STANDING))
def test_declared_schema_matches_footer(spark, sf_smoke, name):
    """Each published subdir's declared DDL is the schema Spark infers
    for it: the footer's columns and types, then the partition columns
    with the types their directory names infer to (WIDENED aside). A
    declared column the files lack would read as NULLs."""
    STANDING[name](spark, sf_smoke)
    key, schemas = DECLARED[name]
    for sub, ddl in schemas.items():
        root = os.path.join(key(sf_smoke), sub)
        parts = glob.glob(os.path.join(root, "**", "part-*.parquet"), recursive=True)
        assert parts, f"{name}/{sub}: no data file to check the declared schema against"
        inferred = spark.read.parquet(root).schema
        expected = StructType(
            [
                StructField(f.name, WIDENED.get((sub, f.name), f.dataType), f.nullable)
                for f in inferred
            ]
        )
        assert StructType.fromDDL(ddl) == expected, (name, sub)
