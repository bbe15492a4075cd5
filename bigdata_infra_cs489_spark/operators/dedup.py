"""Deduplication operators for large-scale training-data pipelines.

No reference counterpart (the reference's only dedup is per-line token
dedup, PairsPMI.java:59-61 / SURVEY §2.7 E3); these are the BASELINE.json
north-star extensions, designed Spark-first for 100 TB corpora:

- exact:    hash-groupBy on content digest; one shuffle on the digest.
- MinHash+LSH: shingle -> K minhashes -> B bands; candidate pairs come from
  an equi-join on band keys (shuffle on band key, never a cross join), then
  are verified with true Jaccard via a shingle equi-join.
- SimHash:  per-token hash bit-vote -> 32-bit fingerprint; near-dup pairs
  via block-LSH (4 blocks of 8 bits; pigeonhole: hamming <= 3 guarantees an
  intact shared block, so the block equi-join finds every such pair).
- n-gram Jaccard: sparse similarity via the inverted shingle index
  (pairs sharing >= 1 shingle), never materializing the O(n^2) pair space.

Every hash is derived from md5 so the DuckDB oracle can reproduce values
bit-for-bit. Core operators take a documents DataFrame (doc_id, text) so
tests can inject synthetic near-duplicates; registered queries wrap the
fixture loader.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numerics import floor_round
from ..functions.text import tokenize
from ..sources.tables import load
from .assets import asset_path, ensure

NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows per band
MINHASH_PRIME = 4294967311  # smallest prime > 2^32: universal-hash modulus


def minhash_params(num_hashes: int = NUM_HASHES) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal family h_i(x) = (a_i*x + b_i) mod P.

    Shared with the DuckDB oracle (catalog.py interpolates the same
    constants), so signatures are reproducible cross-engine."""
    return [
        (2 * i + 1, (2654435769 * (i + 1)) % MINHASH_PRIME)
        for i in range(num_hashes)
    ]
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 32
SIMHASH_BLOCKS = 4  # 8 bits each -> catches all pairs with hamming <= 3
HAMMING_THRESHOLD = 3


# the shared portable hash primitive (single owner: functions/hashing.py)
from ..functions.hashing import h8 as _h8  # noqa: E402


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents", parallelize=True).select("doc_id", "text")


# --- exact dedup ------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, canonical_id, is_duplicate): canonical = min doc_id per
    content digest. Grouping on the 128-bit digest, not the full text,
    keeps shuffle rows narrow at 100 TB.

    Skew shape: partial-aggregated groupBy + equi-join back, NOT a
    digest-partitioned window — a mass-duplicated text (empty docs,
    error pages: millions of identical copies is a REAL 100 TB corpus
    feature) would pin every copy's row in one window task, and AQE can
    split skewed join partitions but not skewed window partitions. The
    map-side combine reduces the agg exchange to one row per distinct
    digest before any task sees a full duplicate class."""
    digests = docs.select("doc_id", F.md5("text").alias("dig"))
    canon = digests.groupBy("dig").agg(F.min("doc_id").alias("canonical_id"))
    return (
        digests.join(canon, "dig")
        .select(
            "doc_id",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


# --- shingling + MinHash ----------------------------------------------------


def _shingle_expr(n: int) -> Column:
    """Distinct word n-grams of the ``toks`` column; documents shorter than
    n tokens contribute their whole token string."""
    ngrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
    )
    return F.array_distinct(
        F.when(F.size("toks") >= n, ngrams).otherwise(
            F.array(F.concat_ws(" ", "toks"))
        )
    )


def shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingles array<string>): distinct word n-grams per doc."""
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    return toks.select("doc_id", _shingle_expr(n).alias("shingles"))


def shingle_index(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, s): the exploded (inverted-index-shaped) form of shingles().

    The explode is fused into the same projection that builds the array:
    naming the array column in one select and exploding it in a later one
    lets InferFiltersFromGenerate + predicate pushdown substitute the whole
    (interpreted, non-codegen) higher-order shingle expression into an
    inferred ``size(...) > 0 AND isnotnull(...)`` filter below the project —
    measured ~14x slower at sf0.1 because the expression then runs ~4x per
    row. Keep the generator expression inline."""
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    return toks.select("doc_id", F.explode(_shingle_expr(n)).alias("s"))


def shingle_index_from_shingles(sh: DataFrame) -> DataFrame:
    """shingle_index() over an already-built (doc_id, shingles) frame —
    the seam multi-leg consumers (contamination_scorecard) use to derive
    every shingle view from ONE pinned shingle relation instead of
    re-tokenizing the corpus per leg.

    ONLY pass a PINNED frame (localCheckpoint/persist): exploding a
    named array column from a live plan re-triggers the
    InferFiltersFromGenerate substitution shingle_index()'s fused form
    exists to avoid (~14x, see its docstring); a checkpoint boundary
    makes the array data, not expression, so the trap can't fire."""
    return sh.select("doc_id", F.explode("shingles").alias("s"))


def minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int = NUM_HASHES
) -> DataFrame:
    """minhash_signatures() over an already-built (doc_id, shingles)
    frame — identical expression tree from the explode down."""
    return _minhash_of_index(shingle_index_from_shingles(sh), num_hashes)


def _minhash_of_index(idx: DataFrame, num_hashes: int) -> DataFrame:
    """The MinHash body over an exploded (doc_id, s) shingle index; the
    caller builds the index (see shingle_index for why the explode must
    stay fused on a live plan)."""
    based = idx.select("doc_id", _h8(F.col("s")).alias("x"))
    hashed = based.select(
        "doc_id",
        *[
            ((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
            for i, (a, b) in enumerate(minhash_params(num_hashes))
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def signature_bands_from_shingles(
    sh: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """signature_bands() over an already-built (doc_id, shingles) frame."""
    return _bands_of_signatures(
        minhash_signatures_from_shingles(sh, num_hashes), num_hashes, num_bands
    )


def _bands_of_signatures(
    sigs: DataFrame, num_hashes: int, num_bands: int
) -> DataFrame:
    """(doc_id, band, band_key) from (doc_id, sig): each signature split
    into num_bands slices of num_hashes // num_bands values."""
    rows = num_hashes // num_bands
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda b: F.concat_ws(
                    ":",
                    F.transform(
                        F.slice("sig", b * rows + 1, rows),
                        lambda v: v.cast("string"),
                    ),
                ),
            )
        ).alias("band", "band_key"),
    )


def minhash_signatures(docs: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """(doc_id, sig array<bigint>): sig[i] = min over shingles of
    (a_i * h8(shingle) + b_i) mod P — K universal-hash draws over ONE md5
    per shingle (the textbook MinHash construction; hashing each shingle K
    times with md5 was 16x the digest work for the same estimator).

    Shape: explode shingles -> base hash + K affine combinations per row,
    all codegen'd -> groupBy(doc).min per hash -> array. min is a partial
    aggregation, so map-side combine applies at any scale."""
    return _minhash_of_index(shingle_index(docs), num_hashes)


def signature_bands(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(doc_id, band, band_key): each signature split into its LSH bands,
    band content rendered as the canonical ':'-joined string — the
    equi-join key for both whole-corpus pairing and incremental
    new-batch assignment."""
    return _bands_of_signatures(
        minhash_signatures(docs, num_hashes), num_hashes, num_bands
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs: docs sharing any full band of the
    signature. Equi-join on (band index, band values) — the shuffle key is
    the band content, so cost scales with collisions, not with n^2."""
    bands = signature_bands(docs, num_hashes, num_bands)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def set_jaccard(a: str, b: str) -> Column:
    """True Jaccard of two shingle-set array columns, 6dp. floor_round,
    not F.round: intersect/union is an exact integer ratio, so its
    half-up ties must round the same way on both engines."""
    return floor_round(
        F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)), 6
    )


def jaccard_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Attach true shingle-set Jaccard to (doc_a, doc_b) pairs."""
    sh = shingles(docs)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", set_jaccard("sh_a", "sh_b").alias("jaccard"))
    )


def minhash_near_duplicates(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """LSH candidates verified at true Jaccard >= threshold."""
    cand = lsh_candidate_pairs(docs)
    return jaccard_pairs(docs, cand).where(F.col("jaccard") >= threshold)


# --- n-gram Jaccard via inverted shingle index ------------------------------


def ngram_jaccard_pairs(docs: DataFrame, min_jaccard: float = 0.5) -> DataFrame:
    """All pairs with Jaccard >= min_jaccard, computed sparsely: equi-join
    the exploded shingle index with itself, count common shingles per pair,
    then jaccard = common / (|A| + |B| - common). Pairs sharing no shingle
    never materialize."""
    idx = shingle_index(docs)
    # shingles are distinct per doc, so count(*) of the index == |shingle set|
    counts = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = idx.select(F.col("doc_id").alias("doc_a"), "s")
    b = idx.select(F.col("doc_id").alias("doc_b"), "s")
    common = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return common.select(
        "doc_a", "doc_b", floor_round(jac, 6).alias("jaccard")
    ).where(floor_round(jac, 6) >= min_jaccard)


# --- SimHash ----------------------------------------------------------------


def simhash_fingerprints(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): per-token md5 hash, tf-weighted bit votes, sign
    -> fingerprint. The vote is bits separate partial-aggregatable sums
    (no collect_list), so map-side combine applies at any scale."""
    from ..functions.text import exploded_tokens

    toks = (
        exploded_tokens(docs, keep=("doc_id",))
        .withColumnRenamed("word", "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", _h8(F.col("tok")))
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright("h", j).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = HAMMING_THRESHOLD,
    blocks: int = SIMHASH_BLOCKS,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs with hamming <= max_hamming.

    Block-LSH: split the fingerprint into ``blocks`` equal bit blocks and
    equi-join on (block index, block value); any pair within the hamming
    budget shares at least one intact block (pigeonhole), so recall is
    exact while the join stays linear in collisions.
    """
    block_bits = bits // blocks
    fps = simhash_fingerprints(docs, bits)
    mask = (1 << block_bits) - 1
    block_vals = F.array(
        *[
            F.shiftright("simhash", b * block_bits)
            .bitwiseAND(F.lit(mask))
            .cast("bigint")
            for b in range(blocks)
        ]
    )
    blocked = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(block_vals).alias("block", "block_val"),
    )
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"), "block", "block_val"
    )
    b = blocked.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"), "block", "block_val"
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["block", "block_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- registered query wrappers ---------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(_docs(spark, sf_dir))


def q_minhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(_docs(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(_docs(spark, sf_dir))


def q_simhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_duplicates(_docs(spark, sf_dir))


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(id, cluster_id): connected components by iterative min-label
    propagation — each round every node adopts the smallest label among
    itself and its neighbors, converging in O(component diameter) rounds
    (detected by the monotonically decreasing global label sum; labels
    never increase, so an unchanged sum IS the fixpoint).

    Per round: one equi-join of labels onto edge sources, one groupBy(dst)
    min, one left join back — all shuffles keyed by node id. Fine for the
    short-diameter components dedup produces; a high-diameter graph would
    want the large-star/small-star variant (same building blocks, fewer
    rounds). `localCheckpoint(eager=False)` truncates lineage; the
    convergence aggregate both computes and pins it (an eager checkpoint
    would run the round's shuffles twice).

    ``nodes``: one `id` column; ``edges``: (src, dst), any direction.
    """
    # pin the symmetrized edges once — they are re-joined every round, and
    # without this the full upstream lineage (for dedup clustering: the
    # whole shingle->MinHash->LSH pipeline) would re-execute per iteration
    both = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = nodes.select("id", F.col("id").alias("label"))
    prev_sum = None
    for _ in range(max_iter):
        nbr_min = (
            both.join(labels, both.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr_min, labels.id == nbr_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select("id", F.col("label").alias("cluster_id"))


def q_near_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id): transitive closure of the MinHash near-dup
    pairs — the step that turns pairwise 'A~B, B~C' verdicts into dedup
    groups with a canonical (minimum) id per group; singleton docs are
    their own cluster."""
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    pairs = q_minhash_near_duplicates(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(nodes, pairs)
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


BOILERPLATE_MIN_DOCS = 3  # a shingle in >= this many docs is boilerplate


def boilerplate_ngrams(
    corpus: DataFrame, n: int = SHINGLE_N, min_docs: int = BOILERPLATE_MIN_DOCS
) -> DataFrame:
    """(s, n_docs): word n-grams shared by >= min_docs distinct documents —
    the corpus-frequent template/boilerplate spans (nav chrome, license
    headers, scraped-site furniture) a CCNet-style cleaning pass strips
    before training. Per-doc-distinct shingles (shingle_index) make the
    count a distinct-document count with ONE partial-aggregated shuffle —
    no distinct pass, no doc-pair expansion."""
    return (
        shingle_index(corpus, n)
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def boilerplate_fraction(
    corpus: DataFrame,
    n: int = SHINGLE_N,
    min_docs: int = BOILERPLATE_MIN_DOCS,
    n_salts: int = 16,
) -> DataFrame:
    """(doc_id, n_shingles, n_boiler, boiler_frac): how much of each
    document is corpus-frequent boilerplate — the per-doc quality signal
    a mixing pipeline thresholds on (a page that is 90% template text is
    not worth training on even if globally unique).

    Shape: two passes over the shingle stream, the inherent minimum (the
    boilerplate set is a global aggregate the second pass conditions on) —
    pass 1 computes per-shingle doc counts, pass 2 joins the flags and
    folds n_shingles and n_boiler in ONE per-doc aggregation. The join
    key is the shingle, and this join is skewed BY CONSTRUCTION: the
    boilerplate side is precisely the corpus's hottest shingles (a
    license header present in half the crawl is one join key). So the
    flag join goes through salted_join (functions/skew.py) — each hot
    shingle spreads across ``n_salts`` tasks structurally, rather than
    relying on AQE's skew split observing the hot partition at runtime.
    ``n_salts=1`` degenerates to the plain join (tests pin parity)."""
    from ..functions.skew import salted_join

    sh = shingle_index(corpus, n)
    boiler = boilerplate_ngrams(corpus, n, min_docs).select(
        "s", F.lit(1).alias("is_boiler")
    )
    joined = (
        sh.join(boiler, "s", "left")
        if n_salts <= 1
        else salted_join(sh, boiler, "s", n_salts=n_salts, how="left")
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("is_boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            floor_round(F.col("n_boiler") / F.col("n_shingles"), 6).alias(
                "boiler_frac"
            ),
        )
    )


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_ngrams(_docs(spark, sf_dir))


def q_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_fraction(_docs(spark, sf_dir))


CONTAM_EVAL_MAX_ID = 20  # doc_id < 20 stand in for the held-out benchmark


def contamination_flags(
    corpus: DataFrame, eval_docs: DataFrame, n: int = SHINGLE_N
) -> DataFrame:
    """(doc_id, n_hits, contaminated): benchmark decontamination — flag
    every training document sharing at least one distinct word n-gram
    with a held-out evaluation set, the standard leakage check run before
    an LLM training mix ships.

    Shape: both sides reduce to (doc, shingle) streams; the eval side is
    benchmark-sized (thousands of docs, not terabytes), so its distinct
    shingle set broadcasts and the check is a map-side semi-join over the
    corpus shingle stream — no shuffle of the corpus, no text movement.
    n_hits counts the doc's distinct overlapping shingles (a triage
    severity signal: 1 hit ~ phrase coincidence, hundreds ~ verbatim
    inclusion).
    """
    corpus_sh = shingle_index(corpus, n)
    eval_sh = shingle_index(eval_docs, n).select("s").distinct()
    hits = (
        corpus_sh.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def q_contamination_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return contamination_flags(
        docs.where(F.col("doc_id") >= CONTAM_EVAL_MAX_ID),
        docs.where(F.col("doc_id") < CONTAM_EVAL_MAX_ID),
    )


# --- edit-distance near-dup verify ------------------------------------------

EDIT_SIM_MIN = 0.5


def edit_distance_pairs(
    docs: DataFrame, pairs: DataFrame, min_sim: float = EDIT_SIM_MIN
) -> DataFrame:
    """(doc_a, doc_b, edit_dist, edit_sim): character-level Levenshtein
    verification of candidate pairs, keeping pairs with normalized
    similarity 1 - dist/max(len) >= min_sim. The character-exact
    complement to the token-level Jaccard verify: catches small in-token
    edits that shingle sets miss.

    Never all-pairs: candidates come from the MinHash LSH bands, so the
    quadratic Levenshtein cost is paid only on band collisions; the texts
    travel to the pair only for the surviving candidate set.
    """
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    dist = F.levenshtein("ta", "tb")
    sim = F.lit(1.0) - dist / F.greatest(
        F.length("ta"), F.length("tb"), F.lit(1)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            floor_round(sim, 6).alias("edit_sim"),
        )
        .where(F.col("edit_sim") >= min_sim)
    )


def q_edit_distance_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return edit_distance_pairs(docs, lsh_candidate_pairs(docs))


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_id, doc_id, n_chars, cluster_size): canonical-document
    selection — for every near-duplicate cluster (q_near_duplicate_clusters)
    keep the single best representative (longest text, doc_id tie-break)
    and report how many near-dups it subsumes. This is the step a training
    pipeline actually ships: pairwise verdicts -> clusters -> ONE kept doc
    per cluster, everything else dropped.

    Scale shape: the cluster assignment is the iterative min-label CC
    (O(diameter) rounds, band-join candidate cost); the selection on top
    is one join on doc_id plus ONE partial-aggregatable argmax groupBy —
    max_by over the (n_chars, -doc_id) ordering struct, NOT a
    cluster-partitioned row_number window. Mega-clusters are a real
    100 TB feature (millions of identical error-page copies also collide
    in every MinHash band), and a window would pin each such cluster in
    a single task — AQE splits skewed joins, never skewed windows — while
    max_by/count combine map-side to one row per cluster before any task
    sees a full duplicate class. Output is bit-identical to the old
    window form (same ordering rule; pinned by the unchanged oracle).
    """
    quality = load(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    clusters = standing_full_clusters(spark, sf_dir)
    best = (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max_by(
                F.struct("doc_id", "n_chars"),
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid")),
            ).alias("_b"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
    )
    return best.select(
        "cluster_id",
        F.col("_b.doc_id").alias("doc_id"),
        F.col("_b.n_chars").alias("n_chars"),
        "cluster_size",
    )


NEW_BATCH_MOD = 10  # doc_id % 10 == 9 plays the freshly-crawled batch


def is_new_batch() -> Column:
    """True for the freshly crawled batch (doc_id modulo NEW_BATCH_MOD
    is NEW_BATCH_MOD - 1); every other document is the standing corpus.
    The one definition of the split every incremental operator uses."""
    return (F.col("doc_id") % NEW_BATCH_MOD) == (NEW_BATCH_MOD - 1)


# Code-version component of the standing-index key: BUMP whenever the
# tokenize/shingle/minhash IMPLEMENTATION changes in a value-affecting
# way (the numeric constants are in the key already, but a code change
# to h8/shingles/tokenize would otherwise leave a stale on-disk index
# that surfaces as confusing sweep failures instead of a rebuild).
DEDUP_INDEX_VERSION = 1


def dedup_index_path(sf_dir: str) -> str:
    """Standing-index location for one data generation of the documents
    table. The MinHash/LSH parameters and DEDUP_INDEX_VERSION are part
    of the key so a constant or implementation change also invalidates;
    the verify threshold shapes the persisted CLUSTERS (pairs are kept
    at jaccard >= threshold before CC), so it is keyed too."""
    jpct = round(JACCARD_THRESHOLD * 100)
    return asset_path(
        sf_dir,
        "documents",
        f"dedupidx_v{DEDUP_INDEX_VERSION}",
        f"h{NUM_HASHES}b{NUM_BANDS}n{SHINGLE_N}m{NEW_BATCH_MOD}j{jpct}",
    )


def write_dedup_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the standing near-dup assets of the OLD corpus once:

    - ``clusters``  (old_id, cluster_id): the iterative min-label CC over
      the old corpus's verified MinHash pairs — the expensive part, paid
      at build time only;
    - ``bands``     (old_id, band, band_key): the LSH index the increment
      band-joins against;
    - ``shingles``  (old_id, sh_o): the shingle sets the Jaccard verify
      needs for the old side of each candidate pair.

    All three are plain parquet (band_key is high-cardinality and every
    band is probed, so partition pruning buys nothing here; the probe's
    equi-join shuffles both sides on the band key, and at 100 TB the
    standing side would be bucketed by band_key via table_ops bucketing
    to pre-shuffle the big side once)."""
    import os

    old_docs = _docs(spark, sf_dir).where(~is_new_batch())

    old_pairs = minhash_near_duplicates(old_docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    (
        connected_components(
            old_docs.select(F.col("doc_id").alias("id")), old_pairs
        )
        .select(F.col("id").alias("old_id"), "cluster_id")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "clusters"))
    )
    (
        signature_bands(old_docs)
        .select(F.col("doc_id").alias("old_id"), "band", "band_key")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "bands"))
    )
    (
        shingles(old_docs)
        .select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_o"))
        .write.mode("overwrite")
        .parquet(os.path.join(path, "shingles"))
    )


def ensure_dedup_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the standing index iff this data generation doesn't have one
    yet."""
    return ensure(
        dedup_index_path(sf_dir),
        ("clusters", "bands", "shingles"),
        lambda tmp: write_dedup_index(spark, sf_dir, tmp),
    )


def standing_full_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus near-dup cluster map (doc_id, cluster_id) served as a
    STANDING asset: the materialized output of q_near_duplicate_clusters,
    built on first touch under the same keyed index directory as the
    incremental bands/clusters/shingles (own ``clusters_full`` subdir)
    and probed as a plain parquet scan afterwards. This is the warm path
    the curate flagship rides: a recurring 100 TB curation job maintains
    its cluster map as a table and only the bootstrap pays the iterative
    CC. Output is bit-identical to the inline lineage by construction
    (same plan, materialized once); the DuckDB oracles are unchanged."""
    import os

    path = ensure(
        dedup_index_path(sf_dir),
        ("clusters_full",),
        lambda tmp: q_near_duplicate_clusters(spark, sf_dir).write.parquet(
            os.path.join(tmp, "clusters_full")
        ),
    )
    return spark.read.parquet(os.path.join(path, "clusters_full"))


def incremental_dedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, matched): assign a NEW document batch to the
    EXISTING near-duplicate clusters without re-clustering the world —
    the production shape of dedup at 100 TB, where the corpus's clusters
    are a maintained asset and each crawl increment only band-joins
    against the standing LSH index. New docs whose best verified match
    (Jaccard >= threshold, ties to the smallest old doc) lands in an old
    cluster inherit that cluster_id; the rest become singletons.

    Scale shape: the old corpus's bands/clusters/shingles are a PERSISTED
    asset (ensure_dedup_index — the vector_index write-once/probe-many
    pattern, built by the iterative CC on first touch and reused by every
    subsequent increment), so the registered query prices what a
    deployment actually pays per crawl increment: one band equi-join
    (cost ∝ collisions) + one Jaccard verify against the stored shingle
    sets + one per-new-doc argmax — a partial-aggregatable max_by over
    (jaccard, -old_id), NOT a new_id-partitioned window: a new doc
    band-colliding with a huge standing cluster (the mass-duplicate
    shape) would otherwise pin all its verified matches in one window
    task, while max_by combines them map-side to a single row per new
    doc. Never touches old-old pairs again. Output is bit-identical to
    the self-contained rebuild (same inputs, same plan from the persisted
    frames; the DuckDB oracle is unchanged).
    """
    import os

    path = ensure_dedup_index(spark, sf_dir)
    old_clusters = spark.read.parquet(os.path.join(path, "clusters"))
    ob = spark.read.parquet(os.path.join(path, "bands"))
    sb = spark.read.parquet(os.path.join(path, "shingles"))

    new_docs = _docs(spark, sf_dir).where(is_new_batch())

    nb = signature_bands(new_docs).select(
        F.col("doc_id").alias("new_id"), "band", "band_key"
    )
    cand = (
        nb.join(ob, ["band", "band_key"])
        .select("new_id", "old_id")
        .distinct()
    )
    sa = shingles(new_docs).select(
        F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_n")
    )
    verified = (
        cand.join(sa, "new_id")
        .join(sb, "old_id")
        .select("new_id", "old_id", set_jaccard("sh_n", "sh_o").alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    best = verified.groupBy("new_id").agg(
        F.max_by(
            F.col("old_id"),
            F.struct(F.col("jaccard"), (-F.col("old_id")).alias("nid")),
        ).alias("old_id")
    )
    return (
        new_docs.select("doc_id")
        .join(best, F.col("doc_id") == F.col("new_id"), "left")
        .join(old_clusters, "old_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            F.col("new_id").isNotNull().cast("int").alias("matched"),
        )
    )


# prefix-filter threshold as an exact fraction (integer arithmetic only,
# so both engines compute the same prefix length for every set size)
PPJOIN_T_NUM, PPJOIN_T_DEN = 1, 2  # t = 0.5, matching ngram_jaccard_pairs


def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard): the SAME exact-Jaccard pair output as
    ngram_jaccard_pairs, produced with PPJoin-style PREFIX + LENGTH
    FILTERING (Xiao et al., WWW'08): order each doc's shingles by a
    consistent global order (capped ascending frequency — see
    _ordered_sets) and index only the first |s| - ceil(t*|s|) + 1 —
    two sets with Jaccard >= t MUST collide in these prefixes
    (pigeonhole on the overlap bound), so pruning the tail of the
    index is LOSSLESS. Candidates additionally pass the length filter
    (J >= t implies t*|B| <= |A| for |A| <= |B|) before the distinct.

    No full-index shuffle join on the skewed raw shingle key and no
    whole-index window (see _ordered_sets: broadcast hot-vocab join +
    in-array sort): the spilling window sort over the full index is
    what made that shape 62.6 s vs 7.5 s locally.

    Honest perf note, measured at sf0.1: THIS corpus has no shingle
    skew (max df = 25 over a 27k vocab), so the regime prefix
    filtering exists for never engages, and the naive count-based
    ngram_jaccard_pairs join (sum(df^2) ~ 2.4M narrow codegen rows)
    stays ~2x faster end-to-end than any candidate+verify plan.
    Keep ngram_jaccard_pairs as the default operator; reach for this
    one when the df distribution is heavy-tailed — the crossover is
    demonstrated on a boilerplate-heavy corpus in
    tests/test_dedup.py::test_prefix_join_wins_under_skew.

    The oracle is ngram_jaccard_pairs' own SQL: equality of output IS
    the proof the optimization drops nothing. candidate_stats() exposes
    the index-size reduction the filter buys.
    """
    return jaccard_prefix_pairs(_docs(spark, sf_dir))


def _prefix_candidates(per_doc: DataFrame) -> DataFrame:
    """(doc_a, doc_b): distinct pairs colliding on a prefix shingle and
    passing the PPJoin length filter."""
    pref = per_doc.select(
        "doc_id",
        "n_sh",
        F.explode(
            F.transform(
                F.slice("ordered", F.lit(1), F.col("prefix_len")),
                lambda x: x["s"],
            )
        ).alias("s"),
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "s"
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "s"
    )
    return (
        a.join(b, "s")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter: J >= NUM/DEN forces DEN*|A| >= NUM*|B| both ways
            & (F.col("n_a") * PPJOIN_T_DEN >= F.col("n_b") * PPJOIN_T_NUM)
            & (F.col("n_b") * PPJOIN_T_DEN >= F.col("n_a") * PPJOIN_T_NUM)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_prefix_pairs(docs: DataFrame) -> DataFrame:
    """ngram_jaccard_pairs semantics via prefix+length filtering — see
    jaccard_prefix_join for the design and perf-regime notes.

    per_doc feeds THREE consumers (the prefix index and both sides of
    the verify join), but do NOT pin it: the three subtrees share their
    exchanges via ReuseExchange (byte-identical subplans), so the chain
    executes once already — a localCheckpoint here was measured 3x
    SLOWER at sf0.1 (4.6 s -> 13.4 s), paying an RDD
    materialization barrier for sharing Catalyst provided for free."""
    per_doc = _ordered_sets(docs)
    cand = _prefix_candidates(per_doc)
    arrays = per_doc.select(
        "doc_id", F.transform("ordered", lambda x: x["s"]).alias("sh")
    )
    aa = arrays.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    bb = arrays.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .select("doc_a", "doc_b", set_jaccard("sh_a", "sh_b").alias("jaccard"))
    )
    thr = PPJOIN_T_NUM / PPJOIN_T_DEN
    return verified.where(F.col("jaccard") >= thr)


# Hot-vocabulary cap for the prefix order. PPJoin's losslessness needs
# only a CONSISTENT global total order on shingles (any order satisfies
# the pigeonhole bound); ascending document frequency is purely the
# candidate-minimizing heuristic, and its entire benefit comes from
# pushing the FEW boilerplate-hot shingles into the pruned tail. So the
# order key is (exact df for the top PPJOIN_HOT_VOCAB most frequent
# shared shingles, 1 for everything else; string tie-break) — a function
# of the shingle alone, hence consistent — which bounds the broadcast
# state at any corpus size instead of joining the full df table.
PPJOIN_HOT_VOCAB = 4096


def _ordered_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, ordered array<struct<odf,s>>, n_sh, prefix_len): each
    doc's shingle set sorted by the capped ascending-frequency order.

    A full shingle-df shuffle join on the skewed raw shingle key + a
    per-doc row_number window over the whole index costs 4x the
    unfiltered pair join it claims to beat. Here the full index
    appears only in one map-side-combined groupBy (the df count, capped
    to the PPJOIN_HOT_VOCAB most frequent shared shingles and
    BROADCAST back); ordering happens inside each doc's array
    (collect_list -> array_sort), so nothing shuffles on the shingle
    key and no window sorts the whole index."""
    idx = shingle_index(docs)
    hot = (
        idx.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)  # df=1 shingles can't collide anyway
        .orderBy(F.desc("df"), F.asc("s"))
        .limit(PPJOIN_HOT_VOCAB)
    )
    keyed = idx.join(F.broadcast(hot), "s", "left").select(
        "doc_id", "s", F.coalesce("df", F.lit(1)).alias("odf")
    )
    per_doc = keyed.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("odf", "s"))).alias("ordered")
    )
    n_sh = F.size("ordered")
    ceil_tn = F.floor(
        (n_sh * PPJOIN_T_NUM + (PPJOIN_T_DEN - 1)) / PPJOIN_T_DEN
    ).cast("int")
    return per_doc.select(
        "doc_id",
        "ordered",
        n_sh.alias("n_sh"),
        (n_sh - ceil_tn + F.lit(1)).alias("prefix_len"),
    )


def _prefix_index(docs: DataFrame) -> DataFrame:
    """(doc_id, s): the pruned posting index — each doc's prefix
    shingles under the capped ascending-frequency order."""
    return _ordered_sets(docs).select(
        "doc_id",
        F.explode(
            F.transform(
                F.slice("ordered", F.lit(1), F.col("prefix_len")),
                lambda x: x["s"],
            )
        ).alias("s"),
    )


def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row sketch-quality report for MinHash: over the verified
    near-duplicate pairs, compare the SIGNATURE-agreement estimate of
    Jaccard (fraction of equal minhash positions — the estimator LSH
    banding is built on) against the TRUE shingle Jaccard: pair count,
    mean absolute estimator error, and worst error. The MinHash member
    of the exact-vs-approx family (events_sketch_check does this for
    HLL/percentile sketches); at 100 TB you monitor this on a sampled
    pair stream to size NUM_HASHES.

    Scale shape: pairs come from the banded candidate join (cost ∝
    collisions); the agreement is one zip_with/aggregate expression per
    pair; output is a single row."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_near_duplicates(docs).select("doc_a", "doc_b", "jaccard")
    sigs = minhash_signatures(docs)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(NUM_HASHES))
    err = F.abs(floor_round(agree, 6) - F.col("jaccard"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(err), 6).alias("mean_abs_err"),
            F.round(F.max(err), 6).alias("max_abs_err"),
        )
    )


# --- fuzzy benchmark decontamination ---------------------------------------

# Lower operating point than within-corpus dedup's JACCARD_THRESHOLD:
# decontamination review is recall-leaning — a paraphrased benchmark item
# at 0.5 Jaccard still leaks the answer, and flagged docs get human or
# exact-span triage downstream.
CONTAM_NEAR_THRESHOLD = 0.5


def contamination_near_pairs(
    bands: DataFrame, sh: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """(doc_id, eval_id, jaccard): every corpus doc whose LSH ``bands``
    (doc_id, band, band_key) collide with an eval doc's, verified by
    true Jaccard of the corpus ``sh`` (doc_id, shingles) against the
    eval doc's shingle set. The eval side is benchmark-sized, so its
    bands and shingle arrays broadcast. Callers pass corpus frames that
    do not explode a named shingle array on a live plan (the fused
    signature_bands, or bands derived from a pinned shingle relation),
    which keeps the InferFiltersFromGenerate trap of shingle_index out
    of the plan."""
    eb = signature_bands(eval_docs).select(
        F.col("doc_id").alias("eval_id"), "band", "band_key"
    )
    cand = (
        bands.join(F.broadcast(eb), ["band", "band_key"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    sh_e = shingles(eval_docs).select(
        F.col("doc_id").alias("eval_id"), F.col("shingles").alias("sh_e")
    )
    return (
        cand.join(sh, "doc_id")
        .join(F.broadcast(sh_e), "eval_id")
        .select(
            "doc_id", "eval_id", set_jaccard("shingles", "sh_e").alias("jaccard")
        )
    )


def contamination_near_flags(
    corpus: DataFrame,
    eval_docs: DataFrame,
    threshold: float = CONTAM_NEAR_THRESHOLD,
) -> DataFrame:
    """(doc_id, n_candidates, best_eval_id, best_jaccard, contaminated):
    NEAR-duplicate benchmark decontamination — flag training documents
    whose shingle set is close (true Jaccard >= threshold) to some
    held-out evaluation document, catching the paraphrased / lightly
    edited leaks that contamination_flags' exact n-gram hit test ranks
    low. The standard fuzzy-decontamination pass (GPT-3 appendix C
    discipline) run before a training mix ships.

    Shape (the incremental_dedup_assign asymmetry): the eval side is
    benchmark-sized, so its bands and shingle arrays BROADCAST; the
    corpus side streams through one band equi-join (cost ∝ collisions),
    exact verification touches only candidate pairs, and the per-doc
    argmax is a partial-aggregatable max_by — no window, no corpus
    self-join, no shuffle of corpus text. Ties on jaccard resolve to the
    smallest eval_id via the (jaccard, -eval_id) max_by ordering; docs
    with no candidate band collision report (-1, 0.0, false)."""
    verified = contamination_near_pairs(
        signature_bands(corpus), shingles(corpus), eval_docs
    )
    best = verified.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.max_by(
            F.col("eval_id"), F.struct(F.col("jaccard"), (-F.col("eval_id")))
        ).alias("best_eval_id"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return (
        corpus.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("best_eval_id", F.lit(-1)).cast("bigint").alias(
                "best_eval_id"
            ),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
            (F.coalesce("best_jaccard", F.lit(0.0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


def q_contamination_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query shape: same eval/train split convention as
    q_contamination_flags (doc_id < CONTAM_EVAL_MAX_ID plays the
    benchmark)."""
    docs = _docs(spark, sf_dir)
    return contamination_near_flags(
        docs.where(F.col("doc_id") >= CONTAM_EVAL_MAX_ID),
        docs.where(F.col("doc_id") < CONTAM_EVAL_MAX_ID),
    )


# --- content-defined chunking (FastCDC-style, token granularity) ------------

CDC_MOD = 8  # boundary when h8(token) % CDC_MOD == 0 -> ~8-token chunks


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_no, chunk, chunk_len): content-defined chunking of
    the token stream — a chunk boundary falls AFTER every token whose
    portable hash is 0 mod CDC_MOD (the rolling-hash cut rule of
    CDC/FastCDC storage dedup, at token granularity). Unlike fixed
    windows (token_window_lines) the cut points move WITH the content,
    so inserting one token near the front shifts at most one chunk —
    the property that makes chunk-level dedup robust to small edits.

    Shape: the whole segmentation is ONE higher-order column expression
    (boundary positions -> start/end arrays -> zip_with segments ->
    posexplode) — no Python, no window, no shuffle; cost is linear in
    tokens and embarrassingly parallel. The h8 cut rule is the shared
    portable hash, so the DuckDB twin reproduces every boundary."""
    from ..functions.text import tokenize

    toks = docs.select("doc_id", tokenize("text").alias("toks")).where(
        F.size("toks") > 0
    )
    n = F.size("toks")
    bpos = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: _h8(F.element_at("toks", i)) % CDC_MOD == 0,
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda p: p + 1))
    ends = F.concat(bpos, F.array(n))
    segs = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    return (
        toks.select("doc_id", "toks", F.posexplode(segs).alias("chunk_no", "seg"))
        .where(F.col("seg.e") >= F.col("seg.s"))
        .select(
            "doc_id",
            F.col("chunk_no").cast("bigint").alias("chunk_no"),
            F.concat_ws(
                " ",
                F.slice("toks", F.col("seg.s"), F.col("seg.e") - F.col("seg.s") + 1),
            ).alias("chunk"),
            (F.col("seg.e") - F.col("seg.s") + 1)
            .cast("bigint")
            .alias("chunk_len"),
        )
    )


def cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus report: (n_chunks, n_distinct_chunks,
    dup_occurrences, removed_occurrences, dup_chunk_ppm,
    mean_chunk_len_micro) — how much of the corpus is chunk-level
    duplicated under content-defined cuts, the storage-dedup twin of
    dup_line_stats (whose fixed windows miss shifted duplicates that CDC
    catches). Two partial-aggregated passes (chunk groupBy carrying the
    per-group max count+len, then one scalar agg over distinct-chunk
    rows); exact integer ppm/micro arithmetic end-to-end."""
    g = (
        cdc_chunks(_docs(spark, sf_dir))
        .groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.max("chunk_len").alias("chunk_len"),
        )
    )
    return g.agg(
        F.coalesce(F.sum("n_occ"), F.lit(0)).cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_chunks"),
        F.coalesce(F.sum(F.when(F.col("n_occ") > 1, F.col("n_occ"))), F.lit(0))
        .cast("bigint")
        .alias("dup_occurrences"),
        F.coalesce(F.sum(F.col("n_occ") - 1), F.lit(0))
        .cast("bigint")
        .alias("removed_occurrences"),
        F.coalesce(F.sum(F.col("n_occ") * F.col("chunk_len")), F.lit(0))
        .cast("bigint")
        .alias("sum_len"),
    ).select(
        "n_chunks",
        "n_distinct_chunks",
        "dup_occurrences",
        "removed_occurrences",
        F.expr(
            "CAST((removed_occurrences * 1000000L + n_chunks div 2)"
            " div greatest(n_chunks, 1L) AS BIGINT)"
        ).alias("dup_chunk_ppm"),
        F.expr(
            "CAST((sum_len * 1000000L + n_chunks div 2)"
            " div greatest(n_chunks, 1L) AS BIGINT)"
        ).alias("mean_chunk_len_micro"),
    )


NEAR_DUP_METHODS = ("editdist", "minhash", "ngram", "simhash")


def near_dup_method_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method_a, method_b, n_a, n_b, n_both, pair_jaccard_ppm): the
    cross-method agreement matrix of the dedup shelf — for every pair of
    near-dup detectors (exact-Jaccard-verified MinHash, SimHash block
    LSH, sparse n-gram Jaccard, edit-distance verify), how many document
    pairs each flags and how much the pair SETS overlap (exact-integer
    Jaccard in ppm). This is the completeness audit a pipeline owner
    reads before trusting any single method's recall: a method whose
    pair set drifts away from its siblings after a tokenizer or
    threshold change shows up here as a step change, without anyone
    eyeballing pair lists.

    Shape: the four pair relations (each already candidate-bounded by
    its own LSH/index — never all-pairs) union into one tagged relation;
    set sizes are one 4-row groupBy; intersections are ONE equi-join on
    the (doc_a, doc_b) key grouped by the method pair; the full
    upper-triangle grid (including empty intersections) assembles from a
    broadcast 4×4 cross of the size table. Output is 10 rows at any
    corpus size."""
    docs = _docs(spark, sf_dir)
    pair_sets = {
        "minhash": minhash_near_duplicates(docs).select("doc_a", "doc_b"),
        "simhash": simhash_near_duplicates(docs).select("doc_a", "doc_b"),
        "ngram": ngram_jaccard_pairs(docs).select("doc_a", "doc_b"),
        "editdist": edit_distance_pairs(docs, lsh_candidate_pairs(docs)).select(
            "doc_a", "doc_b"
        ),
    }
    tagged = None
    for m in NEAR_DUP_METHODS:
        part = pair_sets[m].select(
            F.lit(m).alias("m"), "doc_a", "doc_b"
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    # the tagged pair set feeds THREE consumers (the per-method counts
    # and both sides of the agreement self-join); without a pin Spark
    # re-runs all four detector chains once per consumer. The pair set
    # is 3 narrow columns — tiny relative to the chains that produce it
    # at any corpus size — so a lazy localCheckpoint (the graph-loop
    # lineage-truncation discipline) pays the chains once.
    tagged = tagged.localCheckpoint(eager=False)
    # sizes come from the STATIC method list, not the tagged rows: a
    # detector whose pair set collapses to zero (the exact regression
    # this audit exists to flag) must still appear with n = 0, never
    # silently vanish from the matrix
    method_spine = spark.createDataFrame(
        [(m,) for m in NEAR_DUP_METHODS], "m string"
    )
    counted = tagged.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    sizes = method_spine.join(counted, "m", "left").select(
        "m", F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n")
    )
    x = tagged.select(F.col("m").alias("ma"), "doc_a", "doc_b")
    y = tagged.select(F.col("m").alias("mb"), "doc_a", "doc_b")
    inter = (
        x.join(y, ["doc_a", "doc_b"])
        .where(F.col("ma") <= F.col("mb"))
        .groupBy("ma", "mb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    grid = (
        sizes.select(F.col("m").alias("ma"), F.col("n").alias("n_a"))
        .crossJoin(
            F.broadcast(
                sizes.select(F.col("m").alias("mb"), F.col("n").alias("n_b"))
            )
        )
        .where(F.col("ma") <= F.col("mb"))
    )
    return (
        grid.join(F.broadcast(inter), ["ma", "mb"], "left")
        .select(
            F.col("ma").alias("method_a"),
            F.col("mb").alias("method_b"),
            "n_a",
            "n_b",
            F.coalesce("n_both", F.lit(0)).cast("bigint").alias("n_both"),
        )
        .select(
            "*",
            F.expr(
                "CAST((n_both * 1000000L + (n_a + n_b - n_both) div 2)"
                " div greatest(n_a + n_b - n_both, 1L) AS BIGINT)"
            ).alias("pair_jaccard_ppm"),
        )
    )


def dedup_cluster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_size, n_clusters, n_docs): the size distribution of the
    near-duplicate cluster map — the dedup-health card a pipeline prints
    per run: a fat head (giant clusters) means boilerplate/mass
    duplication the keep-best stage is about to collapse, a pure
    size-1 tail means the near-dup gate is finding nothing. n_docs
    telescopes back to the corpus size, so the card doubles as a
    conservation check on the cluster map itself.

    Shape: served from the STANDING cluster asset (standing_full_clusters
    — parquet probe on the warm path, one CC build per data generation
    otherwise), then two partial-aggregated groupBys (cluster -> size,
    size -> histogram row); output is bounded by the distinct size
    count. No window, no text columns on any exchange."""
    cl = standing_full_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
    ).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs"),
    )


def dedup_index_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, origin): the NEXT-GENERATION cluster map a
    recurring dedup deployment publishes after absorbing an increment —
    the commit step that closes the standing-index lifecycle
    (build -> probe -> COMMIT -> probe ...):

      origin='old'       every standing-corpus doc keeps its persisted
                         cluster_id (the asset is append-only; history
                         never reshuffles under a commit);
      origin='assigned'  new docs the LSH probe matched inherit the old
                         cluster (incremental_dedup_assign's verdicts,
                         verbatim);
      origin='new'       unmatched new docs are clustered among
                         THEMSELVES (min-label CC over verified new-new
                         pairs) and join as fresh clusters keyed by
                         their smallest member.

    Deliberate, documented approximation: a new-new pair whose one
    endpoint matched an old cluster does NOT drag the other endpoint
    into that cluster — transitive attach through a matched new doc is
    deferred to the next full rebuild, exactly like cross-centroid
    pairs in the scoped SemDeDup stage (the alternative would make
    commit outcomes order-dependent across increments).

    Scale shape: the old side is ONE probe of the persisted cluster
    parquet (never recomputed); assignment is the standing band-join;
    the new-new CC runs on the increment only (batch-sized, short
    diameter). Per-doc signatures are deterministic, so banding just
    the increment yields exactly the full run's new-new pairs."""
    import os

    path = ensure_dedup_index(spark, sf_dir)
    old = (
        spark.read.parquet(os.path.join(path, "clusters"))
        .select(
            F.col("old_id").alias("doc_id"),
            "cluster_id",
            F.lit("old").alias("origin"),
        )
    )
    assign = incremental_dedup_assign(spark, sf_dir)
    assigned = assign.where(F.col("matched") == 1).select(
        "doc_id", "cluster_id", F.lit("assigned").alias("origin")
    )
    unmatched = assign.where(F.col("matched") == 0).select("doc_id")
    new_docs = _docs(spark, sf_dir).where(is_new_batch())
    nn_pairs = (
        minhash_near_duplicates(new_docs)
        .join(unmatched.select(F.col("doc_id").alias("doc_a")), "doc_a")
        .join(unmatched.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    fresh = connected_components(
        unmatched.select(F.col("doc_id").alias("id")), nn_pairs
    ).select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        F.lit("new").alias("origin"),
    )
    return old.unionByName(assigned).unionByName(fresh)


def jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(jaccard_pct, n_pairs, cum_pairs_at_or_above): how many verified
    LSH-candidate pairs fall into each Jaccard centile, with the
    cumulative count at-or-above — the sensitivity card behind the ONE
    knob the near-dup family turns (JACCARD_THRESHOLD): a cliff between
    deciles means the corpus separates cleanly into dup/non-dup; a flat
    ramp means the threshold choice is materially deciding corpus
    membership and deserves a human eyeball. Domain is the banded LSH
    candidate set (the curve tunes the VERIFY threshold given the fixed
    banding; pairs the bands never collide are out of scope by
    construction — the recall side of the knob is priced separately by
    minhash_estimate_error).

    Shape: the standard banded candidate join + shingle verify, one
    partial-aggregated groupBy to <= 101 centile rows, and a bounded
    101² broadcast self-join for the cumulative column (never a
    partition-less window). Centiles bucket on the micro-int rendering
    of the 6dp-rounded Jaccard (floor(j*1e6+0.5) div 10000, the same
    discipline as lsh_banding_recall), so a last-ulp cross-engine double
    difference at an exact centile boundary like 0.850000 can never
    flip a bucket; jaccard = 1.0 lands in centile 100 (banded
    candidates concentrate above ~0.8, so centile granularity is what
    actually draws a curve — deciles collapse to one row at fixture
    scale)."""
    docs = _docs(spark, sf_dir)
    j = jaccard_pairs(docs, lsh_candidate_pairs(docs))
    per = (
        j.select(
            F.expr(
                "CAST(least(CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)"
                " div 10000, 100) AS INT)"
            ).alias("jaccard_pct")
        )
        .groupBy("jaccard_pct")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    upper = per.select(
        F.col("jaccard_pct").alias("o_d"), F.col("n_pairs").alias("o_n")
    )
    return (
        per.join(F.broadcast(upper), F.col("o_d") >= F.col("jaccard_pct"))
        .groupBy("jaccard_pct", "n_pairs")
        .agg(F.sum("o_n").cast("bigint").alias("cum_pairs_at_or_above"))
    )


LSH_RECALL_THRESHOLDS = (50, 60, 70, 80, 90)  # Jaccard percents


def lsh_banding_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_pct, n_true_pairs, n_caught, recall_ppm): measured candidate
    RECALL of the (NUM_HASHES, NUM_BANDS) banding — of all pairs whose
    TRUE shingle Jaccard is >= t, how many the band join surfaces as
    candidates. The other half of the LSH tuning pair: the
    jaccard_threshold_curve prices the verify threshold over the
    candidates; this card prices what the banding itself can ever see
    (theory: P[candidate] = 1-(1-s^r)^b — at s=0.8 with 4 rows x 4
    bands ≈ 0.93 — and the measurement is what validates the chosen
    banding against the corpus's actual similarity profile). Ground
    truth comes from the SPARSE shingle-index join
    (ngram_jaccard_pairs, pairs sharing no shingle never materialize)
    — never an all-pairs scan.

    Shape: one sparse true-pair join at the lowest audited threshold,
    one band-candidate equi-join, a doc-pair-keyed left join between
    them, then a broadcast 5-row threshold spine and one partial-
    aggregated groupBy. Threshold compares happen on the micro-int
    rendering of the 6dp-rounded Jaccard, so a last-ulp double can
    never flip a bucket cross-engine."""
    docs = _docs(spark, sf_dir)
    low = min(LSH_RECALL_THRESHOLDS) / 100.0
    true_pairs = ngram_jaccard_pairs(docs, min_jaccard=low)
    cand = lsh_candidate_pairs(docs).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    marked = true_pairs.join(cand, ["doc_a", "doc_b"], "left").select(
        F.expr("CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)").alias("j_micro"),
        F.coalesce("hit", F.lit(0)).alias("hit"),
    )
    spine = spark.createDataFrame(
        [(t,) for t in LSH_RECALL_THRESHOLDS], "t_pct int"
    )
    return (
        marked.crossJoin(F.broadcast(spine))
        .where(F.col("j_micro") >= F.col("t_pct") * 10_000)
        .groupBy("t_pct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
            F.sum("hit").cast("bigint").alias("n_caught"),
        )
        .select(
            "t_pct",
            "n_true_pairs",
            "n_caught",
            F.expr(
                "CAST((n_caught * 1000000L + n_true_pairs div 2)"
                " div greatest(n_true_pairs, 1L) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )
