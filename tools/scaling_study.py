"""The sf1 scaling study (round-9 verdict, What's missing #3): measure
the headline dedup/curate/similarity claims across a 1000x data spread
— sf0.001 / sf0.01 / sf0.1 (driver fixtures) plus the repo-generated
sf1 slice (.fixtures/sf1, tools/gen_sf1.py; documents + embeddings
only, so only queries reading those two tables are eligible).

Spark-only wall clock (no DuckDB oracle in the timing), min of 2
back-to-back collects per (query, sf) — the bench.py sampling
discipline. The standing dedup-index lifecycle is split out explicitly:
"index build (cold)" prices what the bootstrap pays once per data
generation; every probe row after it rides the warm asset, which is
exactly the claim under test (write-once / probe-many).

Usage: python -m tools.scaling_study [--out SCALING_r10.md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIRS = [
    ("sf0.001", "/root/testdata/sf0.001"),
    ("sf0.01", "/root/testdata/sf0.01"),
    ("sf0.1", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(REPO, ".fixtures", "sf1")),
]

# registered queries reading ONLY documents/embeddings (sf1-eligible)
QUERIES = [
    "dedup_keep_best",
    "leakage_safe_split",
    "dedup_cluster_hist",
    "incremental_dedup_assign",
    "dedup_index_commit",
    "corpus_curate",
    "corpus_curate_v2",
    "export_shards",
    "incremental_line_dedup",
    "embedding_near_duplicates",
    "semantic_dedup_keep_best",
    "minhash_near_duplicates",
    "stream_line_dedup",
]

# round-12 extension (round-11 verdict #6): the streaming/temporal and
# relational headliners, eligible wherever their table exists in the SF
# dir (gen_sf1 now writes events + lineitem too)
TABLE_QUERIES = {
    "events.parquet": [
        "user_rolling_anomalies",
        "events_exact_median_global",
        "events_sliding_counts",
        "user_funnel",
    ],
    "lineitem.parquet": [
        "q1_count_shipped",
        "q6_pricing_summary",
    ],
}

# round-12 continuation: the JOIN-heavy relational family — eligible
# only where EVERY table it reads exists (gen_sf1 now writes the full
# star: orders/customer/supplier/part + verbatim nation/region), which
# completes the reference q1-q7 workload at the 1000x spread
JOIN_QUERIES: dict[str, list[str]] = {
    "q2_orders_semijoin_topk": ["orders.parquet", "lineitem.parquet"],
    "q3_lineitem_part_supplier": [
        "lineitem.parquet",
        "part.parquet",
        "supplier.parquet",
    ],
    "q4_shipments_by_nation": [
        "lineitem.parquet",
        "orders.parquet",
        "customer.parquet",
        "nation.parquet",
    ],
    "q5_monthly_shipments_two_nations": [
        "lineitem.parquet",
        "orders.parquet",
        "customer.parquet",
        "nation.parquet",
    ],
    "q7_top_revenue_orders": [
        "lineitem.parquet",
        "orders.parquet",
        "customer.parquet",
    ],
    "top_suppliers_by_revenue": [
        "lineitem.parquet",
        "supplier.parquet",
        "nation.parquet",
    ],
    "top_return_customers": [
        "lineitem.parquet",
        "orders.parquet",
        "customer.parquet",
        "nation.parquet",
    ],
    "customer_rfm": [
        "orders.parquet",
        "customer.parquet",
        "nation.parquet",
    ],
    "customers_without_orders": ["customer.parquet", "orders.parquet"],
    "promo_revenue_share": ["lineitem.parquet", "part.parquet"],
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(REPO, "SCALING_r12.md"))
    ap.add_argument("--json-out", default=os.path.join(REPO, "SCALING_r12.json"))
    ap.add_argument(
        "--family",
        choices=["all", "join"],
        default="all",
        help="'join' runs ONLY the JOIN_QUERIES relational family and "
        "APPENDS a section to --out (existing prose untouched), merging "
        "cells into --json-out",
    )
    args = ap.parse_args()

    if not os.path.exists(os.path.join(SF_DIRS[-1][1], "documents.parquet")):
        from tools import gen_sf1

        gen_sf1.main()  # deterministic; .fixtures/ is gitignored

    from bigdata_infra_cs489_spark.operators.dedup import (
        dedup_index_path,
        ensure_dedup_index,
        standing_full_clusters,
    )
    from bigdata_infra_cs489_spark.session import get_spark

    import __spark_entry__ as entrymod
    from bench import sample_seconds, warm_up

    spark = get_spark(app_name="scaling_study")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    warm_up(spark, qs["wordcount"], SF_DIRS[0][1])

    results: dict[str, dict[str, float]] = {}

    def record(name: str, sf: str, sec: float) -> None:
        results.setdefault(name, {})[sf] = round(sec, 2)
        print(f"{name:<28} {sf:<8} {sec:7.2f}s", flush=True)

    for sf, d in SF_DIRS:
        if args.family == "join":
            eligible = [
                name
                for name, tables in JOIN_QUERIES.items()
                if all(os.path.exists(os.path.join(d, t)) for t in tables)
            ]
        else:
            # cold standing-index build: remove any prior asset for this
            # generation, then time bootstrap (bands+shingles+clusters and
            # the clusters_full asset the curate family probes)
            path = dedup_index_path(d)
            shutil.rmtree(path, ignore_errors=True)
            t0 = time.time()
            ensure_dedup_index(spark, d)
            standing_full_clusters(spark, d).count()
            record("index build (cold)", sf, time.time() - t0)
            spark.catalog.clearCache()
            eligible = list(QUERIES)
            for table, names in sorted(TABLE_QUERIES.items()):
                if os.path.exists(os.path.join(d, table)):
                    eligible += names
        for name in eligible:
            secs = sample_seconds(spark, lambda _: qs[name](spark, d).collect())
            record(name, sf, min(secs))

    if args.family == "join":
        merged: dict[str, dict[str, float]] = {}
        if os.path.exists(args.json_out):
            with open(args.json_out) as f:
                merged = json.load(f)
        merged.update(results)
        with open(args.json_out, "w") as f:
            json.dump(merged, f, indent=1)
        lines = [
            "",
            "## Relational join family at 1000× (round-12 continuation; "
            "full star at sf1: orders/customer/supplier/part + verbatim "
            "nation/region — tools/gen_sf1.py)",
            "",
            "Same protocol: min-of-2 collects per cell, warm local[32] "
            "session, Spark-only wall clock.",
            "",
            "| query | sf0.001 | sf0.01 | sf0.1 | sf1 | sf1/sf0.001 |",
            "|---|---|---|---|---|---|",
        ]
        for name in JOIN_QUERIES:
            r = results.get(name, {})
            if not r:
                continue
            # guard BOTH endpoints: a join query eligible at sf0.001
            # but not at sf1 (missing table) must render nan, not crash
            # after all timing runs complete (round-13 advisory)
            ratio = (
                r["sf1"] / r["sf0.001"]
                if r.get("sf0.001") and r.get("sf1")
                else float("nan")
            )
            lines.append(
                f"| {name} | {r.get('sf0.001', '')} | {r.get('sf0.01', '')} "
                f"| {r.get('sf0.1', '')} | {r.get('sf1', '')} | {ratio:.2f}× |"
            )
        with open(args.out, "a") as f:
            f.write("\n".join(lines) + "\n")
        print(f"\nappended join-family section to {args.out}")
        return

    with open(args.json_out, "w") as f:
        json.dump(results, f, indent=1)

    lines = [
        "# SCALING_r12 — 1000× study (sf0.001 → sf1): dedup/curate/"
        "similarity plus the streaming/temporal and relational headliners",
        "",
        "Spark-only wall clock, min-of-2 collects per cell (bench.py "
        "sampling discipline), one warm local[32] session. sf1 is the "
        "repo-generated 50k-doc / 20k-vector slice "
        "(tools/gen_sf1.py, statistics matched to the driver's sf0.1 "
        "fixture; documents+embeddings+events+lineitem since round 12, "
        "1M events over the same 30-day window / 6M lineitem rows). "
        "'index build (cold)' is "
        "the once-per-generation standing-asset bootstrap (bands + "
        "shingles + incremental clusters + the full CC cluster map); "
        "all probe rows below it ride the warm asset.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | sf1 | sf1/sf0.001 |",
        "|---|---|---|---|---|---|",
    ]
    all_names = (
        ["index build (cold)"]
        + QUERIES
        + [n for _, ns in sorted(TABLE_QUERIES.items()) for n in ns]
    )
    for name in all_names:
        r = results[name]
        ratio = (
            r["sf1"] / r["sf0.001"]
            if r.get("sf0.001") and r.get("sf1")
            else float("nan")
        )
        lines.append(
            f"| {name} | {r.get('sf0.001', '')} | {r.get('sf0.01', '')} "
            f"| {r.get('sf0.1', '')} | {r.get('sf1', '')} | {ratio:.2f}× |"
        )
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"\nwrote {args.out} and {args.json_out}")


if __name__ == "__main__":
    main()
