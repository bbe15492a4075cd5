"""Physical-plan audit over the whole registry.

For every registered query (minus the iterative/streaming drivers, whose
final plans are post-hoc scans — same exclusion set as the plan-hygiene
test), builds the executed plan at sf0.001 and tabulates the
scale-relevant shape: number of exchanges (hash / range / round-robin /
broadcast), broadcast vs shuffle joins, Arrow Python stages, and whether
the scan carries pushed filters. Output: PLAN_AUDIT.md — the plan-level
evidence behind the 100 TB design claims, regenerable any time with

    python -m tools.plan_audit [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


EXCLUDED_NOTE = (
    "Iterative drivers and streaming jobs are excluded (their registered "
    "plans are post-hoc scans of an already-computed result; the loops "
    "are audited in their module docstrings and priced by bench.py)."
)


def audit(sf_dir: str) -> str:
    from tests.test_plan_hygiene import ITERATIVE
    from tools.profile_query import plan_shape

    from bigdata_infra_cs489_spark.operators.assets import INDEX_ROOT
    from bigdata_infra_cs489_spark.plans import registry
    from bigdata_infra_cs489_spark.session import get_spark

    # asset keys carry the fixture dir's basename (assets.asset_path)
    label = f"_{os.path.basename(os.path.normpath(sf_dir))}_"
    n_assets = sum(
        label in d for d in (os.listdir(INDEX_ROOT) if os.path.isdir(INDEX_ROOT) else ())
    )
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in registry.queries().items():
        if name in ITERATIVE:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        s = plan_shape(plan)
        pushed = "yes" if re.search(r"PushedFilters: \[(?!\])", plan) else ""
        rows.append(
            (
                name,
                s["hash_exchange"],
                s["range_exchange"],
                s["rr_exchange"],
                s["bcast_exchange"],
                s["bhj"],
                s["smj"] + s["shj"],
                s["py_eval"],
                pushed,
            )
        )
    lines = [
        "# PLAN_AUDIT — physical-plan shape of every registered query",
        "",
        f"Generated by `python -m tools.plan_audit` at `{sf_dir}`. "
        + EXCLUDED_NOTE,
        "",
        f"Asset root: {'warm' if n_assets else 'cold'} ({n_assets} "
        "standing-asset directories for this fixture dir when the audit "
        "started; a cold root gets its assets built during the audit).",
        "",
        "Columns: hash/range/rr = data exchanges by partitioning kind; "
        "bx = broadcast exchanges; bj = broadcast joins; sj = shuffle "
        "joins (sort-merge + shuffled-hash); py = Arrow Python stages; "
        "pf = scan has non-trivial pushed filters.",
        "",
        "| query | hash | range | rr | bx | bj | sj | py | pf |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(str(x) for x in r) + " |")
    tot = [sum(r[i] for r in rows) for i in range(1, 8)]
    lines += [
        "",
        f"Totals over {len(rows)} audited queries: "
        f"{tot[0]} hash exchanges, {tot[1]} range, {tot[2]} round-robin, "
        f"{tot[3]} broadcast exchanges, {tot[4]} broadcast joins, "
        f"{tot[5]} shuffle joins, {tot[6]} Arrow Python stages.",
        "",
        "Reading guide: a hash exchange is one shuffle of the data it "
        "carries — every groupBy/join pays at least one unless bucketing "
        "or broadcasting removes it; range exchanges are the distsort "
        "total-order primitive; round-robin exchanges are the opt-in "
        "`load(parallelize=True)` rebalance of tiny single-row-group "
        "fixture files (absent at real scale where inputs arrive as many "
        "splits); Arrow Python stages appear only in the operators whose "
        "semantics need them (SGD fold, k-means partials, media decode). "
        "Caveat: distsort-backed queries pin their range-partitioned "
        "intermediate with an eager localCheckpoint, which truncates the "
        "printed plan — their range exchange is spent before the audited "
        "plan begins, so the range column undercounts them (the distsort "
        "cost model lives in operators/distsort.py).",
    ]
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(_REPO_ROOT, "PLAN_AUDIT.md"))
    args = ap.parse_args()
    md = audit(args.sf_dir)
    with open(args.out, "w") as f:
        f.write(md)
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
