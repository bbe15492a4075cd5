"""Per-query profiler for the optimization rounds.

For each named query (default: all), runs it at $SPARK_GRAFT_SF_DIR with
bench.py's warm-up and sampling loop (collect, min of N samples,
clearCache between samples) and captures the formatted physical plan
plus a one-line shape summary (exchanges, join strategies, Python eval
nodes). Plans land in --plan-dir when given (e.g.
/tmp/plans/<name>_before.txt; keep plan dumps out of the repo).

Usage:
    python -m tools.profile_query [--samples 2] [--plan-dir /tmp/plans]
        [--suffix _before] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


def plan_shape(plan: str) -> dict:
    return {
        "hash_exchange": len(re.findall(r"Exchange hashpartitioning", plan)),
        "range_exchange": len(re.findall(r"Exchange rangepartitioning", plan)),
        "rr_exchange": len(re.findall(r"Exchange RoundRobinPartitioning", plan)),
        "single_exchange": len(re.findall(r"Exchange SinglePartition", plan)),
        "bcast_exchange": len(re.findall(r"BroadcastExchange", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "py_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        ),
        "sorts": len(re.findall(r"^\s*[+:]?-? ?\*?\(?\d*\)? ?Sort ", plan, re.M)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bench import sample_seconds, warm_up
    from bigdata_infra_cs489_spark.plans import registry
    from bigdata_infra_cs489_spark.session import get_spark

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    names = args.names or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    warm_up(spark, next(iter(qs.values())), args.sf_dir)

    out = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile: {name}")

        def run(i: int) -> None:
            spark.sparkContext.setJobGroup(f"profile:{name}:{i}", name)
            fn(spark, args.sf_dir).collect()

        secs = sample_seconds(spark, run, args.samples)
        best = min(secs)
        n_jobs = len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(
                f"profile:{name}:{secs.index(best)}"
            )
        )
        # split DataFrame-construction + planning time from execution:
        # construction may itself run jobs (asset probes, model collects)
        t0 = time.time()
        df = fn(spark, args.sf_dir)
        t_build = time.time() - t0
        t0 = time.time()
        simple = df._jdf.queryExecution().executedPlan().toString()
        t_plan = time.time() - t0
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        shape = plan_shape(simple)
        shape["sec"] = round(best, 3)
        shape["jobs"] = n_jobs
        shape["build_s"] = round(t_build, 3)
        shape["plan_s"] = round(t_plan, 3)
        out[name] = shape
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            with open(
                os.path.join(args.plan_dir, f"{name}{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(formatted)
        print(json.dumps({name: shape}), flush=True)
        spark.catalog.clearCache()
    print("TOTAL", round(sum(v["sec"] for v in out.values()), 3))


if __name__ == "__main__":
    main()
