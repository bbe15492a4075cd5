"""Materialized (write-once / probe-many) vector ANN index.

The reference's index family is build-once, point-lookup-many: the
inverted text index is written as a partitioned MapFile and every query
seeks into one partition (BuildInvertedIndexCompressed.java:187,
BooleanRetrievalCompressed.java:31-37 reads the prebuilt index). The text
side of this engine already mirrors that (operators/index.py
``write_bucketed_index``); this module is the VECTOR equivalent, closing
the gap where ``ivf_topk``/``lsh_topk`` re-scanned and re-assigned the
whole corpus inside every query plan.

Layouts (both plain partitioned parquet — partition pruning comes from
directory layout, no metastore needed):

- ``<path>/ivf``: (vec_id, embedding) partitioned by ``centroid_id``.
  A probe collects the query's top-``nprobe`` centroid ids (a scalar-sized
  driver collect over the C-row centroid table, same discipline as the
  PPR scalars) and scans ONLY those directories — ``nprobe/C`` of the
  corpus instead of all of it, enforced as a literal PartitionFilter the
  plan shows (tests assert it).
- ``<path>/lsh``: (vec_id, embedding) partitioned by ``(band, band_val)``
  — one hash table per band, the classic banded-LSH index layout. Each
  vector appears once per band (LSH_N_BANDS-fold replication): that
  storage trade is exactly what makes a probe touch only the
  ``n_bands / 2^band_bits`` fraction of data sharing a band value with
  the query, with the embedding stored in-bucket so reranking needs no
  join back to the corpus.

The index path is keyed on the source parquet's (size, mtime), so a
regenerated fixture triggers a rebuild instead of serving stale buckets.
At cluster scale the same layout works unchanged on any shared
filesystem; rebuilds are one broadcast-join pass over the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .assets import asset_path, ensure, read
from .similarity import (
    LSH_BAND_BITS,
    LSH_N_BANDS,
    N_CENTROIDS,
    N_HYPERPLANES,
    N_PROBE,
    QUERY_VEC_ID,
    TOP_K,
    _emb,
    _exact_rerank,
    _hyperplanes,
    _lsh_query_code,
    lsh_bands,
    lsh_codes,
)


VECTOR_INDEX_SCHEMAS = {
    "ivf": "vec_id BIGINT, embedding ARRAY<DOUBLE>, centroid_id INT",
    "lsh": "vec_id BIGINT, embedding ARRAY<DOUBLE>, band INT, band_val INT",
}


def vector_index_path(sf_dir: str) -> str:
    """Index location for one data generation of the embeddings table,
    keyed on the centroid and hyperplane counts."""
    return asset_path(
        sf_dir, "embeddings", "vecidx", f"c{N_CENTROIDS}_h{N_HYPERPLANES}"
    )


def write_vector_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build both index layouts in one pass each over the corpus.

    IVF assignment is the zero-shuffle literal-argmax column of
    ``ivf_assignments`` computed inline on the scan (no join; the only
    exchange is the partitioned write's re-cluster on the C-valued
    partition column). The LSH side explodes each code into its
    LSH_N_BANDS (band, band_val) rows — the deliberate replication that
    makes every band a self-contained hash table."""
    from .similarity import _centroid_rows, _nearest_centroid_col

    emb = _emb(spark, sf_dir)
    cents = _centroid_rows(spark, sf_dir, N_CENTROIDS)
    (
        emb.select(
            "vec_id",
            "embedding",
            _nearest_centroid_col(cents).alias("centroid_id"),
        )
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "ivf"))
    )
    banded = lsh_bands(lsh_codes(spark, sf_dir, N_HYPERPLANES)).select(
        "vec_id", "band", "band_val"
    )
    (
        emb.join(banded, "vec_id")
        .repartition("band", "band_val")
        .write.mode("overwrite")
        .partitionBy("band", "band_val")
        .parquet(os.path.join(path, "lsh"))
    )


def ensure_vector_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the index iff this data generation doesn't have one yet."""
    return ensure(
        vector_index_path(sf_dir),
        ("ivf", "lsh"),
        lambda tmp: write_vector_index(spark, sf_dir, tmp),
    )


def append_to_vector_index(
    spark: SparkSession, sf_dir: str, path: str, new_vectors: DataFrame
) -> None:
    """Incremental maintenance: assign NEW vectors against the index's
    EXISTING quantizers (centroids / hyperplanes derive deterministically
    from the indexed data generation, so appended rows land in the same
    bucket space) and append their files into the partitioned layouts —
    no rebuild, no touch of existing files. This is the ingest path a
    live corpus needs: probes see appended vectors immediately because
    partition directories are re-listed per query. Compaction of
    accumulated small files is `table_ops.compact_parquet`'s job.

    Concurrency note: appends are file-additive (existing files are
    never touched), so a probe racing an append sees a consistent
    PREFIX of the index — eventual-consistency ingest semantics, unlike
    the all-or-nothing _SUCCESS-gated publish of the base build. A
    deployment needing snapshot-isolated probes layers a table format
    (manifest-committed file sets) on top; single-writer-many-reader is
    the contract here.

    ``new_vectors``: (vec_id, embedding array<double>) rows."""
    from .similarity import (
        _centroid_rows,
        _hyperplanes,
        _nearest_centroid_col,
        lsh_codes_for,
    )

    cents = _centroid_rows(spark, sf_dir, N_CENTROIDS)
    (
        new_vectors.select(
            "vec_id",
            "embedding",
            _nearest_centroid_col(cents).alias("centroid_id"),
        )
        .repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "ivf"))
    )
    hmat = _hyperplanes(spark, sf_dir, N_HYPERPLANES)
    new_codes = lsh_codes_for(spark, new_vectors, hmat)
    banded = lsh_bands(new_codes).select("vec_id", "band", "band_val")
    (
        new_vectors.join(banded, "vec_id")
        .select("vec_id", "embedding", "band", "band_val")
        .repartition("band", "band_val")
        .write.mode("append")
        .partitionBy("band", "band_val")
        .parquet(os.path.join(path, "lsh"))
    )


def ivf_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """ANN top-k probing the MATERIALIZED IVF buckets: identical results
    to ``ivf_topk`` (same probe rule, same oracle), but the corpus-wide
    assignment happened once at build time — the probe reads only the
    ``nprobe`` pruned partitions. The centroid ranking is an
    O(C)-row job over the raw table (vec_id < C pushes into the scan) and
    its result is a literal IN-filter, so pruning is static, visible in
    the plan, and needs no dynamic-partition-pruning machinery."""
    from .similarity import _model_rows, _rank_centroids_local

    path = ensure_vector_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    cents, qvec = _model_rows(spark, sf_dir, N_CENTROIDS, query_vec_id)
    probed = (
        _rank_centroids_local(cents, qvec, nprobe) if qvec is not None else []
    )
    idx = read(spark, path, "ivf", VECTOR_INDEX_SCHEMAS["ivf"]).where(
        F.col("centroid_id").isin(probed)
    )
    cand = idx.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return _exact_rerank(cand, emb, query_vec_id, k)


def lsh_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
) -> DataFrame:
    """ANN top-k probing the MATERIALIZED banded-LSH hash tables:
    identical results to ``lsh_topk``. The query's band values are a
    driver-side model-sized computation (same float64 matmul as the
    build); each (band, band_val) pair is one literal partition filter,
    so the scan touches LSH_N_BANDS directories out of
    LSH_N_BANDS * 2^LSH_BAND_BITS. Candidates arriving from several bands
    dedupe on vec_id before the rerank; embeddings come from the bucket
    itself — no join back to the corpus."""
    path = ensure_vector_index(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    _, qcode = _lsh_query_code(spark, sf_dir, query_vec_id)
    mask = (1 << LSH_BAND_BITS) - 1
    cond = None
    for b in range(LSH_N_BANDS):
        qval = (qcode >> (b * LSH_BAND_BITS)) & mask
        c = (F.col("band") == b) & (F.col("band_val") == qval)
        cond = c if cond is None else (cond | c)
    idx = read(spark, path, "lsh", VECTOR_INDEX_SCHEMAS["lsh"]).where(cond)
    cand = idx.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).dropDuplicates(["vec_id"])
    return _exact_rerank(cand, emb, query_vec_id, k)


def ivfpq_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """The full production ANN read path: partition pruning from the
    MATERIALIZED IVF buckets x compressed ADC scoring — what a
    billion-vector serving system actually executes per query. The scan
    touches only the nprobe pruned directories (literal PartitionFilter,
    no assignment recompute — the bucket IS the assignment), and each
    surviving vector scores via the m distance-table lookups instead of
    a full-precision distance. Results are identical to the scan-side
    ivfpq_topk, so it shares that oracle."""
    from .similarity import (
        PQ_K,
        PQ_M,
        _model_rows,
        _pq_adc_dist,
        _rank_centroids_local,
        _subc_from_rows,
    )

    path = ensure_vector_index(spark, sf_dir)
    rows, qvec = _model_rows(
        spark, sf_dir, max(N_CENTROIDS, PQ_K), query_vec_id
    )
    if qvec is None:
        return spark.createDataFrame([], "vec_id bigint, approx_dist double")
    cents = [(i, v) for i, v in rows if i < N_CENTROIDS]
    subc = _subc_from_rows(rows, PQ_M, PQ_K)
    probed = _rank_centroids_local(cents, qvec, nprobe)
    idx = read(spark, path, "ivf", VECTOR_INDEX_SCHEMAS["ivf"]).where(
        F.col("centroid_id").isin(probed)
    )
    return (
        idx.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        .select(
            "vec_id", F.round(_pq_adc_dist(qvec, subc), 6).alias("approx_dist")
        )
        .orderBy(F.asc("approx_dist"), F.asc("vec_id"))
        .limit(k)
    )
