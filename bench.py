"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully executed (collected to the driver, result discarded) so
the measured time covers scan -> shuffle -> aggregation -> result, not plan
construction. A one-query warmup hides JVM/codegen startup.

Since round 10 each query is timed TWICE back-to-back and the MIN is
reported (the "samples": 2 field marks it). Rationale: three rounds in a
row a verdict paragraph had to adjudicate a "regression" that was really
a position artifact — the single-shot time of whichever query first
touched cold input files / codegen shapes after a window rotation
(events_sketch_check r8, media_features + stream_partitioned_sink r9).
Min-of-2 measures the steady-state cost of the PLAN, which is what
round-over-round comparison needs; "value" is the sum of per-query
minima and "wall" keeps the raw loop wall-clock.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def warm_up(spark, query, sf_dir: str) -> None:
    """Run ``query`` once (JVM + codegen + parquet footer caches) and one
    tiny applyInPandas, then drop any cached subtrees.

    The Arrow/Python worker pool needs its own warm-up: the first
    applyInPandas / applyInPandasWithState of a session pays daemon +
    worker spin-up (~2-4 s), which otherwise lands on whatever Arrow-stage
    query runs first after a window rotation and reads as a once-per-round
    regression (stream_running_counts r7, events_sketch_check r8).
    """
    query(spark, sf_dir).collect()
    spark.createDataFrame([(i,) for i in range(32)], "k bigint").groupBy(
        "k"
    ).applyInPandas(lambda pdf: pdf, "k bigint").collect()
    spark.catalog.clearCache()


def sample_seconds(spark, run, samples: int = 2) -> list[float]:
    """Wall seconds of ``samples`` back-to-back calls ``run(i)``; callers
    report the min (the steady-state cost of the plan).

    Isolation: operators may cache subtrees reused inside their own plan;
    dropping them after every sample keeps each measurement independent
    and stops storage-memory buildup over a full-registry run (leaked
    cache entries live in the CacheManager for the whole session
    otherwise).
    """
    secs = []
    for i in range(samples):
        t0 = time.time()
        run(i)
        secs.append(time.time() - t0)
        spark.catalog.clearCache()
    return secs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from bigdata_infra_cs489_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    warm_up(spark, next(iter(qs.values())), sf_dir)

    timings: dict[str, float] = {}
    t_all = time.time()
    for name, fn in qs.items():
        secs = sample_seconds(spark, lambda _: fn(spark, sf_dir).collect())
        timings[name] = round(min(secs), 3)
    total = round(sum(timings.values()), 3)
    wall = round(time.time() - t_all, 3)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "samples": 2,
                "wall": wall,
                "queries": timings,
                "sf": sf,
            }
        )
    )
    # the driver's capture is tail-only (~4 KB) and the full per-query
    # line above is ~7 KB, so PERF.per_query has been empty since ~r10.
    # Emit each query additionally as its own SHORT parseable record
    # (~55 B), in ASCENDING cost order so the tail window — which keeps
    # the LAST lines — retains the most expensive queries, the ones
    # round-over-round adjudication needs. Timing methodology unchanged;
    # these lines only re-serialize the map printed above.
    for name in sorted(timings, key=lambda n: (timings[n], n)):
        print(
            json.dumps(
                {"metric": "query_wall", "q": name, "sec": timings[name]},
                separators=(",", ":"),
            )
        )
    # the SHORT totals-only line goes LAST so any tail window still
    # contains one complete, parseable JSON record with the total.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "samples": 2,
                "wall": wall,
                "sf": sf,
                "n_queries": len(timings),
                "note": "totals-only tail record; per-query in prior line",
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
