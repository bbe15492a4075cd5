"""Distributed total-order primitives: exact global running sums, row
numbers, and ntile bucketing without a single-partition window.

``Window.orderBy(...)`` with no partition key funnels the entire input
through ONE task — the canonical Spark scale-killer (WindowExec even logs
a performance warning). Yet several operators here genuinely need a total
order: greedy token-budget packing, equal-height ntile bucketing, and the
Mann-Whitney rank sum behind AUC. This module provides the scalable
equivalent, the classic distributed prefix-sum:

1. ``repartitionByRange`` on the order key — the same sampled
   RangePartitioner a global ``orderBy`` uses, so partition p holds a
   contiguous slice of the total order (ranges ascend with partition id).
2. An ordinary PARTITIONED window per range slice computes local running
   totals / row numbers — every task sorts only its own slice.
3. Per-partition totals (one row per partition) become exclusive prefix
   offsets IN-PLAN: a single-partition window over the
   partition-count-sized aggregate (#partitions rows — bounded by config,
   never by data), broadcast-joined back. Until round 16 this step was a
   driver collect + createDataFrame (the PageRank missing-mass pattern);
   folding it into the consumer's own plan drops one job per call and
   takes the driver out of the data path entirely (guide §5), while the
   pid-ascending running sum reproduces the old driver fold order
   bit-for-bit.

Net cost at any scale: one range shuffle, one broadcast-side pass over
the pinned slices, and one narrow re-exchange on the partition id (the
checkpoint boundary hides the range partitioning from Catalyst, so the
window re-clusters by pid — same rows, same slices, narrow columns); no
task ever materializes more than its slice. The intermediate is pinned
with a lazy ``localCheckpoint`` so the offsets leg and the main leg see
the same (sampled, hence job-dependent) range partitioning and the same
``spark_partition_id`` values. Lazy is not free under AQE: building the
pin runs the range shuffle at once (see ``_range_prefix``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "__ds_pid"


def _range_prefix(
    df: DataFrame, order: list[Column], sum_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Range-partition ``df`` by ``order`` and derive per-partition
    exclusive prefix offsets for row count and each of ``sum_cols``.

    Returns (pinned partitioned frame with a ``__ds_pid`` column, the
    broadcastable offsets frame ``(__ds_pid, __ds_row_off,
    __ds_off_<c>..., __ds_total)``). The offsets frame is a PLAN over the
    pinned frame, not collected rows: its running sum folds partition
    totals in ascending-pid order — the exact fold the former driver
    loop performed — and ``__ds_total`` carries the global row count for
    ntile arithmetic.
    """
    spark = df.sparkSession
    try:
        npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        # some managed runtimes set the conf to a non-numeric value
        # (e.g. "auto"); fall back to the input's own parallelism
        npart = max(df.rdd.getNumPartitions(), 1)
    # localCheckpoint(eager=False) converts the plan to one shared RDD
    # immediately, so the offsets leg and the main leg reference the SAME
    # materialization (spark_partition_id stays consistent). The pin is
    # lazy only in its final stage: with AQE on, building the RDD runs
    # every shuffle map stage below it, so the range partitioner's sample
    # job and the range shuffle launch here, when the caller constructs
    # its frame (2 jobs per call on a 200k-row input; 1 with AQE off).
    part = (
        df.repartitionByRange(npart, *order)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    dtypes = dict(part.dtypes)
    is_float = {c: dtypes[c] in ("double", "float") for c in sum_cols}
    totals = part.groupBy(_PID).agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[F.sum(c).alias(f"__s_{c}") for c in sum_cols],
    )
    # exclusive prefix per pid: running sum over the preceding partition
    # totals, ascending pid — #partitions rows, so the single-partition
    # window is bounded by config, not data
    w_ex = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(_PID).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def _zero(c: str) -> Column:
        return F.lit(0.0) if is_float[c] else F.lit(0).cast("bigint")

    offsets = totals.select(
        _PID,
        F.coalesce(F.sum("__cnt").over(w_ex), F.lit(0))
        .cast("bigint")
        .alias("__ds_row_off"),
        *[
            F.coalesce(
                F.sum(F.coalesce(F.col(f"__s_{c}"), _zero(c))).over(w_ex),
                _zero(c),
            )
            .cast("double" if is_float[c] else "bigint")
            .alias(f"__ds_off_{c}")
            for c in sum_cols
        ],
        F.sum("__cnt").over(w_all).cast("bigint").alias("__ds_total"),
    )
    return part, offsets


def with_running_totals(
    df: DataFrame,
    order: list[Column],
    sums: dict[str, str],
    row_col: str | None = None,
) -> DataFrame:
    """Append exact global running totals over a total order.

    ``sums`` maps output column -> input column (inclusive running sum in
    ``order``); ``row_col`` optionally adds the global 1-based row number.
    ``order`` must be a total order (callers tie-break on a unique key) or
    running values within a tie group are frame-order-dependent.
    """
    part, offsets = _range_prefix(df, order, sorted(set(sums.values())))
    w = Window.partitionBy(_PID).orderBy(*order)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    proj: list[Column] = [F.col(c) for c in df.columns]
    for out_col, in_col in sums.items():
        proj.append(
            (F.col(f"__ds_off_{in_col}") + F.sum(in_col).over(wf)).alias(out_col)
        )
    if row_col is not None:
        proj.append((F.col("__ds_row_off") + F.row_number().over(w)).alias(row_col))
    return part.join(F.broadcast(offsets), _PID).select(*proj)


def with_ntile(
    df: DataFrame, order: list[Column], n: int, out_col: str = "ntile"
) -> DataFrame:
    """Append SQL ``NTILE(n) OVER (ORDER BY order)`` — equal-height
    buckets, the first ``N % n`` buckets one row larger — computed from
    the distributed global row number instead of a single-partition
    window. Matches Spark's and DuckDB's NTILE bit-for-bit. The bucket
    arithmetic reads the global total from the broadcast offsets row
    (``__ds_total``), so no driver-side count is needed.
    """
    part, offsets = _range_prefix(df, order, [])
    w = Window.partitionBy(_PID).orderBy(*order)
    rn = F.col("__ds_row_off") + F.row_number().over(w)
    # integer DIV/% — the former driver-side divmod(total, n), exact at
    # any magnitude (no fp division)
    size = F.expr(f"__ds_total DIV {int(n)}")
    rem = F.col("__ds_total") % F.lit(n)
    boundary = rem * (size + 1)
    tile = F.when(rn <= boundary, F.ceil(rn / (size + 1))).otherwise(
        rem + F.ceil((rn - boundary) / F.greatest(size, F.lit(1)))
    )
    return part.join(F.broadcast(offsets), _PID).select(
        *[F.col(c) for c in df.columns], tile.cast("int").alias(out_col)
    )
