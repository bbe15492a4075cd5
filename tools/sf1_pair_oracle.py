"""sf1 oracle rows for the banded-MinHash pair family via STAGED oracle
materialization.

The round-12 sf1 campaign (SWEEP_SF1_r12.md) excluded this family: its
DuckDB twins re-derive the whole shingle -> MinHash -> band -> verified-
pair chain as one monolithic WITH, and multiply-referenced CTEs inside
recursive/composed oracles go super-linear at 50k docs (~77 CPU-min
before the kill), while the ENGINE side runs in seconds. This tool
closes that evidence gap the way the campaign suggested: materialize
the SAME CTE chain — identical SQL text, sliced verbatim from
plans/catalog.py::DUCK_MINHASH_PAIR_CTES — stage by stage into parquet
(each stage reads the previous stage's parquet, so nothing is ever
re-derived), then run the driver-style compare with the oracle's pair
CTEs swapped for parquet reads of the same names.

This is NOT circular: every materialized stage is produced by DuckDB
from the oracle's own SQL fragments over the sf1 documents parquet —
Spark never touches the oracle side.

Usage:
    python -m tools.sf1_pair_oracle [--sf-dir .fixtures/sf1] [names...]

Default targets are the family the round-12 verdict names: the pair
finder, the CC clustering, the standing-index commit, and the two
composed curate/export lineages built on the pair set.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_infra_cs489_spark.plans import registry  # noqa: E402
from bigdata_infra_cs489_spark.plans.catalog import (  # noqa: E402
    DUCK_MINHASH_PAIR_CTES,
)
from bigdata_infra_cs489_spark.session import get_spark  # noqa: E402
from tests.oracle import _canon, duck_connection, fragile_duck_columns  # noqa: E402

DEFAULT_TARGETS = [
    "minhash_near_duplicates",
    "near_duplicate_clusters",
    "dedup_index_commit",
    "corpus_curate_v2",
    "training_export",
]

_CTE_NAMES = ["toks", "sh", "sigs", "bands", "cand", "pairs"]


def _split_ctes(text: str) -> dict[str, str]:
    """Slice the assembled pair-CTE text into {name: body_sql} verbatim."""
    markers = [(text.index(f"{n} AS ("), n) for n in _CTE_NAMES]
    markers.sort()
    out: dict[str, str] = {}
    for (start, name), nxt in zip(
        markers, [m[0] for m in markers[1:]] + [len(text) + 1]
    ):
        body = text[start + len(f"{name} AS (") : nxt]
        # trim the trailing "),\n    " connective back to the body's
        # own closing paren
        body = body.rstrip()
        if body.endswith(","):
            body = body[:-1].rstrip()
        assert body.endswith(")")
        out[name] = body[:-1]
    return out


def materialize(con, cache_dir: str) -> dict[str, float]:
    """Stage the chain into parquet; returns per-stage seconds."""
    import os

    os.makedirs(cache_dir, exist_ok=True)
    ctes = _split_ctes(DUCK_MINHASH_PAIR_CTES)
    timings: dict[str, float] = {}

    def stage(name: str, with_sql: str) -> None:
        path = f"{cache_dir}/{name}.parquet"
        t0 = time.monotonic()
        con.execute(f"COPY ({with_sql}) TO '{path}' (FORMAT PARQUET)")
        timings[name] = round(time.monotonic() - t0, 2)
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}')"
        ).fetchone()[0]
        print(f"  stage {name:<6} {timings[name]:8.2f}s  {n:>10} rows", flush=True)

    rp = lambda n: f"read_parquet('{cache_dir}/{n}.parquet')"  # noqa: E731
    stage("sh", f"WITH toks AS ({ctes['toks']}), sh AS ({ctes['sh']}) "
                "SELECT * FROM sh")
    stage("bands", f"WITH sh AS (SELECT * FROM {rp('sh')}), "
                   f"sigs AS ({ctes['sigs']}), bands AS ({ctes['bands']}) "
                   "SELECT * FROM bands")
    stage("cand", f"WITH bands AS (SELECT * FROM {rp('bands')}), "
                  f"cand AS ({ctes['cand']}) SELECT * FROM cand")
    stage("pairs", f"WITH sh AS (SELECT * FROM {rp('sh')}), "
                   f"cand AS (SELECT * FROM {rp('cand')}), "
                   f"pairs AS ({ctes['pairs']}) SELECT * FROM pairs")
    return timings


def substituted_oracle(sql: str, cache_dir: str) -> str:
    """Swap the pair-CTE chain for parquet reads of the same names."""
    ctes = _split_ctes(DUCK_MINHASH_PAIR_CTES)
    rp = lambda n: f"(SELECT * FROM read_parquet('{cache_dir}/{n}.parquet'))"  # noqa: E731
    replacement = (
        f"toks AS ({ctes['toks']}),\n"
        f"    sh AS {rp('sh')},\n"
        f"    sigs AS {rp('bands')},\n"  # placeholder; see below
        f"    bands AS {rp('bands')},\n"
        f"    cand AS {rp('cand')},\n"
        f"    pairs AS {rp('pairs')}"
    )
    # sigs parquet is not materialized (bands subsume it); keep its
    # original derivation off the sh parquet in the rare oracle that
    # references it directly
    replacement = replacement.replace(
        f"sigs AS {rp('bands')}", f"sigs AS ({ctes['sigs']})"
    )
    assert DUCK_MINHASH_PAIR_CTES in sql
    return sql.replace(DUCK_MINHASH_PAIR_CTES, replacement)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".fixtures", "sf1"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    targets = args.names or DEFAULT_TARGETS
    cache_dir = f"{args.sf_dir}_pair_oracle"

    con = duck_connection(args.sf_dir)
    print("materializing staged pair oracle ...", flush=True)
    stage_secs = materialize(con, cache_dir)

    spark = get_spark()
    qs, os_ = registry.queries(), registry.oracle_sql()
    results: dict[str, dict] = {"_stages": stage_secs}
    fails = 0
    for name in targets:
        rec: dict = {}
        t0 = time.monotonic()
        try:
            sql = substituted_oracle(os_[name], cache_dir)
            fragile = fragile_duck_columns(con, sql)
            assert not fragile, f"fragile duck types: {fragile}"
            t_d = time.monotonic()
            res = con.execute(sql)
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            rec["oracle_sec"] = round(time.monotonic() - t_d, 2)
            t_s = time.monotonic()
            sdf = qs[name](spark, args.sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_sec"] = round(time.monotonic() - t_s, 2)
            rec["rows"] = [len(spark_rows), len(duck_rows)]
            rec["hash_match"] = _canon(spark_rows, spark_cols) == _canon(
                duck_rows, duck_cols
            ) and sorted(spark_cols) == sorted(duck_cols)
        except Exception as exc:  # noqa: BLE001
            rec["err"] = repr(exc)[:300]
            rec["hash_match"] = False
        rec["sec"] = round(time.monotonic() - t0, 2)
        results[name] = rec
        flag = "ok" if rec["hash_match"] else "FAIL"
        fails += flag == "FAIL"
        print(f"{flag:>6}  {name:<28} {rec['sec']:8.2f}s  {rec}", flush=True)

    # MERGE over the existing record (the verify_sweep convention):
    # a targeted invocation must not drop the other families' rows
    out = os.path.join(REPO, "SWEEP_SF1_PAIRS.json")
    merged = {}
    try:
        with open(out) as f:
            merged = json.load(f)
    except (OSError, ValueError):
        pass
    merged.update(results)
    with open(out, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"done: {len(targets) - fails}/{len(targets)} hash-green")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
