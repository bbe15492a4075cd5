"""The standing-asset mechanism (operators/assets.py): key, gate, temp
build and publish, exercised through the helper itself and through every
standing entry point that rides it.

- a failed build leaves no temp directory behind;
- concurrent first-touch builds publish exactly one complete copy;
- a warm hit writes nothing (the read-only index-root contract).
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from bigdata_infra_cs489_spark.operators import dsir
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
