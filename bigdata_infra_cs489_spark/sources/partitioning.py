"""Hive-style partitioned parquet sink + partition-pruned reads.

The bucketed sink (bucketing.py) co-locates join keys; this sibling covers
the other physical-layout axis: directory partitioning on a low-cardinality
column (here the event date), so that a date-constrained query plans a scan
that touches ONLY the matching directories. At 100 TB with daily partitions
a one-day query reads ~1/365th of the data before a single row is decoded —
the single biggest practical lever for time-series tables, and invisible to
correctness (tests pin it via the plan's PartitionFilters instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_date_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", date_col: str = "event_date"
) -> None:
    """Write df as parquet partitioned by the date of ts_col."""
    (
        df.withColumn(date_col, F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy(date_col)
        .parquet(path)
    )


def scan_is_partition_pruned(df: DataFrame) -> bool:
    """True when the executed plan's scan carries a non-empty
    PartitionFilters list — i.e. the date predicate prunes directories
    instead of being applied after a full scan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line and "PartitionFilters: []" not in line:
            return True
    return False
