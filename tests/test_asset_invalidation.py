"""Standing-asset invalidation keys, pinned.

Every write-once asset is keyed on (fixture size, mtime_ns) + the
value-shaping parameters + a bumpable ``*_VERSION`` constant. These
tests pin the two invalidation triggers the keying claims:

- regenerating a fixture IN PLACE with identical bytes (same size, new
  mtime) must change every asset key — a pipeline that rewrites its
  input parquet gets fresh assets even when the content round-trips;
- bumping each version constant must change its asset's key — the
  documented recipe for shipping a plan change to the builder.

Pure path-function tests: nothing builds, no SparkSession.
"""

from __future__ import annotations

import os


def _touch_fixtures(d) -> str:
    """A fake fixture directory: the path functions only stat() the
    parquet files, never read them."""
    (d / "documents.parquet").write_bytes(b"d" * 64)
    (d / "embeddings.parquet").write_bytes(b"e" * 64)
    return str(d)


def _all_asset_paths(sf_dir: str) -> dict[str, str]:
    from bigdata_infra_cs489_spark.operators.bpe import bpe_vocab_path
    from bigdata_infra_cs489_spark.operators.curate import curate_manifest_path
    from bigdata_infra_cs489_spark.operators.dedup import dedup_index_path
    from bigdata_infra_cs489_spark.operators.dsir import dsir_scores_path
    from bigdata_infra_cs489_spark.operators.similarity import (
        KMEANS_ITERATIONS,
        N_CENTROIDS,
        kmeans_model_path,
    )
    from bigdata_infra_cs489_spark.operators.spans import (
        span_index_path,
        spectrum_index_path,
    )
    from bigdata_infra_cs489_spark.operators.text_analytics import lm_scores_path
    from bigdata_infra_cs489_spark.operators.vector_index import vector_index_path

    return {
        "dedup_index": dedup_index_path(sf_dir),
        "span_index": span_index_path(sf_dir),
        "spectrum_index": spectrum_index_path(sf_dir),
        "curate_manifest": curate_manifest_path(sf_dir),
        "dsir_scores": dsir_scores_path(sf_dir),
        "lm_scores": lm_scores_path(sf_dir),
        "bpe_vocab": bpe_vocab_path(sf_dir),
        "kmeans_model": kmeans_model_path(sf_dir, N_CENTROIDS, KMEANS_ITERATIONS),
        "vector_index": vector_index_path(sf_dir),
    }


def test_fixture_regen_same_size_new_mtime_forces_rebuild(tmp_path):
    sf_dir = _touch_fixtures(tmp_path)
    before = _all_asset_paths(sf_dir)
    # same bytes, same size — only the mtime moves (in-place regen)
    for name in ("documents.parquet", "embeddings.parquet"):
        p = os.path.join(sf_dir, name)
        st = os.stat(p)
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    after = _all_asset_paths(sf_dir)
    unchanged = [k for k in before if before[k] == after[k]]
    assert unchanged == [], f"asset keys blind to fixture regen: {unchanged}"


def test_version_bump_forces_rebuild(tmp_path, monkeypatch):
    from bigdata_infra_cs489_spark.operators import (
        bpe,
        curate,
        dedup,
        dsir,
        similarity,
        spans,
        text_analytics,
    )

    sf_dir = _touch_fixtures(tmp_path)
    before = _all_asset_paths(sf_dir)
    for mod, const, key in (
        (dedup, "DEDUP_INDEX_VERSION", "dedup_index"),
        (spans, "SPAN_INDEX_VERSION", "span_index"),
        (spans, "SPECTRUM_INDEX_VERSION", "spectrum_index"),
        (curate, "CURATE_MANIFEST_VERSION", "curate_manifest"),
        (dsir, "DSIR_SCORES_VERSION", "dsir_scores"),
        (text_analytics, "LM_SCORES_VERSION", "lm_scores"),
        (bpe, "BPE_VOCAB_VERSION", "bpe_vocab"),
        (similarity, "KMEANS_MODEL_VERSION", "kmeans_model"),
    ):
        monkeypatch.setattr(mod, const, getattr(mod, const) + 1)
        assert _all_asset_paths(sf_dir)[key] != before[key], (
            f"bumping {const} did not change the {key} key"
        )
        monkeypatch.setattr(mod, const, getattr(mod, const) - 1)
    assert _all_asset_paths(sf_dir) == before  # restored


def test_curate_plan_constants_are_keyed(tmp_path, monkeypatch):
    """The round-13 advisory: value-affecting curate constants beyond
    the dedup-index key must invalidate the manifest WITHOUT a manual
    version bump — each constant in _curate_plan_key's tuple moves the
    path on its own."""
    from bigdata_infra_cs489_spark.operators import curate

    sf_dir = _touch_fixtures(tmp_path)
    before = curate.curate_manifest_path(sf_dir)
    for const, bumped in (
        ("CLUSTER_SPLIT_SALT", "other-salt"),
        ("TRAIN_PCT", 81),
        ("VAL_PCT", 11),
        ("CURATE_MIN_QUALITY", 0.6),
        ("CURATE_MAX_DUP_DEN", 3),
        ("CURATE_TOKEN_BUDGET", 13_000),
    ):
        monkeypatch.setattr(curate, const, bumped)
        assert curate.curate_manifest_path(sf_dir) != before, (
            f"curate manifest key blind to {const}"
        )
        monkeypatch.undo()
    # the span-gate window parameters live in spans but shape dup_tokens
    from bigdata_infra_cs489_spark.operators import spans

    monkeypatch.setattr(spans, "SPAN_K", spans.SPAN_K + 1)
    assert curate.curate_manifest_path(sf_dir) != before
    monkeypatch.undo()
    assert curate.curate_manifest_path(sf_dir) == before


def test_asset_mechanism_lives_in_one_module():
    """The key signature, the temp-build naming and the publish helper
    exist only in operators/assets.py; every asset reaches them through
    asset_path / ensure."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bigdata_infra_cs489_spark",
    )
    owner = os.path.join("operators", "assets.py")
    offenders = []
    for d, _, files in os.walk(pkg):
        for f in files:
            rel = os.path.relpath(os.path.join(d, f), pkg)
            if not f.endswith(".py") or rel == owner:
                continue
            with open(os.path.join(d, f)) as fh:
                text = fh.read()
            offenders += [
                (rel, tok)
                for tok in ("st_mtime_ns", ".build-", "_publish_subdir")
                if tok in text
            ]
    assert offenders == []
