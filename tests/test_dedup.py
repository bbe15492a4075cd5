"""Dedup operators: oracle parity at sf0.01 plus positive-case tests with
injected near-duplicates (the fixtures contain few real dups)."""

from __future__ import annotations

import pytest

from .oracle import assert_matches_oracle

DEDUP = [
    "dedup_exact",
    "minhash_signatures",
    "minhash_near_duplicates",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "simhash_near_duplicates",
    "near_duplicate_clusters",
    "contamination_flags",
    "boilerplate_ngrams",
    "boilerplate_fraction",
]


@pytest.mark.parametrize("name", DEDUP)
def test_matches_oracle(spark, sf_correct, name):
    import __spark_entry__ as entrymod

    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    assert_matches_oracle(q(spark, sf_correct), sql, sf_correct)


@pytest.fixture(scope="module")
def synthetic_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    near = base.replace("today", "tonight")  # 1-word change -> high jaccard
    far = "completely different content about spark query engines and shuffles"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], ["doc_id", "text"]
    )


def test_exact_dedup_positive(spark, synthetic_docs):
    from bigdata_infra_cs489_spark.operators.dedup import exact_dedup

    rows = {r.doc_id: r for r in exact_dedup(synthetic_docs).collect()}
    assert rows[1].canonical_id == 0 and rows[1].is_duplicate
    assert not rows[0].is_duplicate and not rows[3].is_duplicate


def test_minhash_finds_near_duplicate(spark, synthetic_docs):
    from bigdata_infra_cs489_spark.operators.dedup import minhash_near_duplicates

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_near_duplicates(synthetic_docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5  # near-dup found via LSH
    assert not any(3 in p for p in pairs)  # unrelated doc never paired


def test_simhash_identical_docs_zero_hamming(spark, synthetic_docs):
    from bigdata_infra_cs489_spark.operators.dedup import simhash_near_duplicates

    rows = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_duplicates(synthetic_docs).collect()
    }
    assert rows[(0, 1)] == 0


def test_ngram_jaccard_sparse(spark, synthetic_docs):
    from bigdata_infra_cs489_spark.operators.dedup import ngram_jaccard_pairs

    rows = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(synthetic_docs, min_jaccard=0.3).collect()
    }
    assert rows[(0, 1)] == 1.0
    assert (0, 3) not in rows


def test_minhash_signatures_match_python_replay(spark):
    """Signatures equal a hashlib-based replay of the same construction
    (shingle -> md5-prefix base hash -> (a_i*x+b_i) mod P mins) —
    independent of the DuckDB oracle."""
    import hashlib
    import re

    from bigdata_infra_cs489_spark.operators.dedup import (
        MINHASH_PRIME,
        NUM_HASHES,
        SHINGLE_N,
        minhash_params,
        minhash_signatures,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "completely different text here",
        "ab",  # shorter than the shingle width
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(docs).collect()}

    def tokenize_py(line):
        toks = [
            re.sub(r"(^[^a-z]+|[^a-z]+$)", "", t)
            for t in re.split(r"[ \t\n\x0b\f\r]+", line.lower())
        ]
        return [t for t in toks if t]

    def shingles_py(line):
        toks = tokenize_py(line)
        if len(toks) >= SHINGLE_N:
            grams = [
                " ".join(toks[i : i + SHINGLE_N])
                for i in range(len(toks) - SHINGLE_N + 1)
            ]
        else:
            grams = [" ".join(toks)]
        return list(dict.fromkeys(grams))

    def h8_py(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    params = minhash_params(NUM_HASHES)
    for i, text in enumerate(texts):
        xs = [h8_py(s) for s in shingles_py(text)]
        want = [min((a * x + b) % MINHASH_PRIME for x in xs) for a, b in params]
        assert got[i] == want, f"doc {i}"


def test_boilerplate_flags_planted_template(spark, synthetic_docs):
    """Docs 0/1/2 share the synthetic base sentence's shingles (>= 3 docs)
    -> those shingles are boilerplate and the unrelated doc 3 has none."""
    from bigdata_infra_cs489_spark.operators.dedup import boilerplate_fraction

    rows = {r.doc_id: r for r in boilerplate_fraction(synthetic_docs).collect()}
    assert rows[0].boiler_frac > 0.8  # near-identical trio: mostly template
    assert rows[3].n_boiler == 0 and rows[3].boiler_frac == 0.0


def test_connected_components_chain(spark):
    """A~B, B~C, D~E: transitive closure must merge {A,B,C} under min id
    and keep {D,E} separate; isolated F stays a singleton."""
    from bigdata_infra_cs489_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_contamination_flags_on_planted_leak(spark):
    """A corpus doc that verbatim-contains an eval doc's text must flag
    with many hits; an unrelated doc must not flag."""
    from bigdata_infra_cs489_spark.operators.dedup import contamination_flags

    eval_docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (100, "prefix words the quick brown fox jumps over the lazy dog suffix"),
            (101, "completely unrelated text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in contamination_flags(corpus, eval_docs).collect()}
    assert got[100]["contaminated"] and got[100]["n_hits"] >= 5
    assert not got[101]["contaminated"] and got[101]["n_hits"] == 0


def test_incremental_assign_matches_oracle_and_semantics(spark, sf_smoke):
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    name = "incremental_dedup_assign"
    assert_matches_oracle(
        entrymod.queries()[name](spark, sf_smoke),
        entrymod.oracle_sql()[name],
        sf_smoke,
    )

    from bigdata_infra_cs489_spark.operators.dedup import (
        NEW_BATCH_MOD,
        incremental_dedup_assign,
    )
    from bigdata_infra_cs489_spark.sources.tables import load

    rows = incremental_dedup_assign(spark, sf_smoke).collect()
    n_new = (
        load(spark, sf_smoke, "documents")
        .where(f"doc_id % {NEW_BATCH_MOD} = {NEW_BATCH_MOD - 1}")
        .count()
    )
    assert len(rows) == n_new, "every new-batch doc gets an assignment"
    for r in rows:
        if not r.matched:
            assert r.cluster_id == r.doc_id, "unmatched docs are singletons"
        else:
            assert r.cluster_id % NEW_BATCH_MOD != NEW_BATCH_MOD - 1, (
                "matched docs join an OLD cluster (old min-label id)"
            )


def test_prefix_join_is_lossless_and_prunes(spark, sf_smoke):
    """PPJoin prefix filtering: identical verified-pair output to the
    full shingle-index join, from a strictly smaller posting index."""
    from bigdata_infra_cs489_spark.operators.dedup import (
        _docs,
        _prefix_index,
        jaccard_prefix_join,
        ngram_jaccard_pairs,
        shingle_index,
    )

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_prefix_join(spark, sf_smoke).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(_docs(spark, sf_smoke)).collect()
    }
    assert got == want

    docs = _docs(spark, sf_smoke)
    full = shingle_index(docs).count()
    pruned = _prefix_index(docs).count()
    assert pruned < full, "prefix filter must actually shrink the index"


def test_prefix_join_wins_under_skew(spark, sf_smoke):
    """The regime prefix filtering exists for: a boilerplate-heavy
    corpus where a handful of hot shingles make the naive index
    self-join superlinear (sum over shingles of df^2), while the
    frequency-ordered prefixes push exactly those shingles into the
    pruned tail. Asserts the MECHANISM (candidate volume), which is
    deterministic, rather than wall-clock, which is not: on this
    corpus the prefix join's candidate-pair rows must be at least 10x
    fewer than the naive self-join's intermediate rows — and the
    verified output must still be identical (losslessness under
    skew)."""
    from pyspark.sql import functions as F

    from bigdata_infra_cs489_spark.operators.dedup import (
        _docs,
        _ordered_sets,
        _prefix_candidates,
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
        shingle_index,
    )

    boiler = (
        "subscribe to our newsletter for updates terms of service apply "
        "all rights reserved contact us at the office for more details "
        "privacy policy cookie notice copyright two thousand twenty four"
    )
    docs = _docs(spark, sf_smoke).select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.concat_ws(" ", "text", F.lit(boiler)))
        .otherwise(F.col("text"))
        .alias("text"),
    )

    idx = shingle_index(docs)
    naive_mid = (
        idx.alias("a")
        .join(idx.alias("b"), "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    pref_mid = _prefix_candidates(_ordered_sets(docs)).count()
    assert pref_mid * 10 < naive_mid, (
        f"prefix filter should collapse the hot-shingle join: "
        f"naive={naive_mid} prefix_candidates={pref_mid}"
    )

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in jaccard_prefix_pairs(docs).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs).collect()
    }
    assert got == want, "prefix filtering must stay lossless under skew"


def test_minhash_estimator_error_is_bounded(spark, sf_smoke):
    import __spark_entry__ as entrymod

    from .oracle import assert_matches_oracle

    name = "minhash_estimate_error"
    assert_matches_oracle(
        entrymod.queries()[name](spark, sf_smoke),
        entrymod.oracle_sql()[name],
        sf_smoke,
    )

    from bigdata_infra_cs489_spark.operators.dedup import minhash_estimate_error

    [r] = minhash_estimate_error(spark, sf_smoke).collect()
    assert r.n_pairs > 0
    assert 0 <= r.mean_abs_err <= r.max_abs_err <= 0.5, (
        "128-hash MinHash estimates high-Jaccard pairs within 0.5 abs error"
    )


def test_standing_dedup_index_is_write_once(spark, sf_smoke):
    """The persisted bands/clusters/shingles asset builds on first touch
    and is reused (not rewritten) by every subsequent increment probe —
    the vector_index write-once/probe-many contract."""
    import os

    from bigdata_infra_cs489_spark.operators.dedup import (
        ensure_dedup_index,
        incremental_dedup_assign,
    )

    path = ensure_dedup_index(spark, sf_smoke)
    markers = [
        os.path.join(path, sub, "_SUCCESS")
        for sub in ("clusters", "bands", "shingles")
    ]
    assert all(os.path.exists(m) for m in markers)
    before = [os.stat(m).st_mtime_ns for m in markers]
    incremental_dedup_assign(spark, sf_smoke).collect()  # probe: no rebuild
    assert [os.stat(m).st_mtime_ns for m in markers] == before


def test_publish_subdir_race_semantics(tmp_path):
    """The round-9 advisory on ensure_dedup_index's fallback, pinned:
    a dst that already carries _SUCCESS always stands (the publisher's
    copy is discarded, never the published dir); a TORN dst is replaced;
    a rename race that loses to a concurrent complete publish is treated
    as success instead of raising."""
    import os

    from bigdata_infra_cs489_spark.operators.assets import _publish_subdir

    def build(name: str, marker: bool, payload: str) -> str:
        d = tmp_path / name
        d.mkdir()
        (d / "part-0").write_text(payload)
        if marker:
            (d / "_SUCCESS").write_text("")
        return str(d)

    # 1. complete dst stands: src discarded, dst payload untouched
    src = build("src1", True, "loser")
    dst = build("dst1", True, "winner")
    _publish_subdir(src, dst)
    assert (tmp_path / "dst1" / "part-0").read_text() == "winner"
    assert os.path.exists(src)  # caller's rmtree(tmp) cleans the temp root

    # 2. torn dst (no _SUCCESS) is replaced by the complete build
    src = build("src2", True, "fresh")
    dst = build("dst2", False, "torn")
    _publish_subdir(src, dst)
    assert (tmp_path / "dst2" / "part-0").read_text() == "fresh"
    assert os.path.exists(tmp_path / "dst2" / "_SUCCESS")

    # 3. missing dst: plain publish
    src = build("src3", True, "new")
    _publish_subdir(src, str(tmp_path / "dst3"))
    assert (tmp_path / "dst3" / "part-0").read_text() == "new"


def test_publish_subdir_toctou_complete_copy_survives(tmp_path, monkeypatch):
    """The round-13 advisory, pinned: if dst COMPLETES between the
    _SUCCESS re-check and the move-aside rename (the racer finishes at
    exactly that instant), the moved-aside dir is a complete copy a
    reader may already have resolved — it must be published back, never
    rmtree'd. Simulated deterministically by a rename wrapper that drops
    _SUCCESS into dst at the move-aside call."""
    import os

    from bigdata_infra_cs489_spark.operators.assets import _publish_subdir

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0").write_text("loser")
    (src / "_SUCCESS").write_text("")
    dst = tmp_path / "dst"
    dst.mkdir()  # torn at probe time: data, no _SUCCESS yet
    (dst / "part-0").write_text("racer")

    real_rename = os.rename

    def racing_rename(a, b):
        if str(a) == str(dst) and ".torn-" in str(b):
            (dst / "_SUCCESS").write_text("")  # the racer completes NOW
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", racing_rename)
    _publish_subdir(str(src), str(dst))
    # the racer's complete copy stands at dst — republished, not deleted
    assert (dst / "part-0").read_text() == "racer"
    assert os.path.exists(dst / "_SUCCESS")
    # and no stray torn directory leaks next to it
    assert [p for p in os.listdir(tmp_path) if ".torn-" in p] == []


def test_new_batch_split_and_jaccard_verify_written_once():
    """The new-batch split (dedup.is_new_batch) and the exact shingle-set
    Jaccard (dedup.set_jaccard) are each written once, in dedup.py;
    every operator and stream reaches them through those names.
    index.py's phrase-position intersection is a different mechanism
    (no size ratio), so the Jaccard pattern is its size-of-intersect
    numerator."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "bigdata_infra_cs489_spark"
    owner = pkg / "operators" / "dedup.py"
    for pattern in ("% NEW_BATCH_MOD", "size(F.array_intersect("):
        hits = {
            str(py.relative_to(pkg)): py.read_text().count(pattern)
            for d in ("operators", "streaming")
            for py in (pkg / d).rglob("*.py")
        }
        hits = {k: n for k, n in hits.items() if n}
        assert hits == {str(owner.relative_to(pkg)): 1}, (pattern, hits)
