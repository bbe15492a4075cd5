"""sf1 oracle rows for the repeat-spectrum family via STAGED oracle
materialization — the tools/sf1_pair_oracle.py discipline applied to
the md5 doubling chain.

Why: the registered ``repeat_spectrum`` oracle (and the staged
``incremental_repeat_spectrum`` twin's) is a WITH chain where every
level t{lvl} references t{lvl-1} MORE THAN ONCE (the self-join) and the
per-level stats reference each t{lvl} again. DuckDB re-derives
multiply-referenced CTEs; at sf1 (50k docs, ~14.5M width-1 positions ×
32-char md5 ids) the in-memory intermediates passed 100 GB RSS and the
round-14 sweep process was OOM-killed twice. Materializing each level
ONCE into a temp table — the SAME SQL text, executed stage by stage —
is linear in corpus size and spills under the capped connection.

Not circular: every temp table is DuckDB evaluating the oracle's own
CTE bodies over the sf1 documents parquet; Spark never touches the
oracle side. Each executed fragment is asserted to be a VERBATIM
substring of the registered oracle text (single-sourcing check).

Usage:
    python -m tools.sf1_spectrum_oracle [--sf-dir .fixtures/sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_infra_cs489_spark.operators import spans as SP  # noqa: E402
from bigdata_infra_cs489_spark.plans import registry  # noqa: E402
from bigdata_infra_cs489_spark.plans.catalog import DUCK_TOKS  # noqa: E402
from tests.oracle import _canon, duck_connection  # noqa: E402


def _level_fragments() -> list[tuple[str, str]]:
    """(name, SELECT body) per chain level — the registered oracle's own
    CTE bodies (catalog.py::_repeat_spectrum_oracle builds the identical
    strings; we assert substring membership below)."""
    frags = [
        ("toks", f"SELECT doc_id, {DUCK_TOKS} AS toks FROM documents"),
        (
            "t0",
            "SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,"
            " md5(unnest(toks)) AS id FROM toks",
        ),
    ]
    width = 1
    for lvl in range(1, SP.REPEAT_LEVELS):
        frags.append(
            (
                f"t{lvl}",
                f"SELECT a.doc_id, a.pos,"
                f" md5(a.id || ':' || b.id) AS id"
                f" FROM t{lvl - 1} a JOIN t{lvl - 1} b"
                f" ON b.doc_id = a.doc_id AND b.pos = a.pos + {width}",
            )
        )
        width *= 2
    return frags


def _spectrum_stats_sql() -> str:
    """The registered oracle's per-level stats over the materialized
    levels (the text after the WITH block, verbatim)."""
    oracle = registry.oracle_sql()["repeat_spectrum"]
    # the stats block starts at the first per-level SELECT
    idx = oracle.index("\n    SELECT CAST(1 AS BIGINT) AS width")
    return oracle[idx:]


def _incremental_stats_sql() -> str:
    from tests.test_incremental_repeat_spectrum import (
        incremental_repeat_spectrum_oracle_sql,
    )

    oracle = incremental_repeat_spectrum_oracle_sql()
    idx = oracle.index("\nSELECT width, new_positions")
    return oracle[idx:]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".fixtures", "sf1"))
    args = ap.parse_args()

    reg_oracle = registry.oracle_sql()["repeat_spectrum"]
    from tests.test_incremental_repeat_spectrum import (
        incremental_repeat_spectrum_oracle_sql,
    )

    inc_oracle = incremental_repeat_spectrum_oracle_sql()

    con = duck_connection(args.sf_dir)
    t0 = time.time()
    for name, body in _level_fragments():
        # single-sourcing check: the executed body IS the oracle's text
        assert body in reg_oracle, f"{name} body not in registered oracle"
        if name not in ("toks",):
            assert body in inc_oracle, f"{name} body not in staged oracle"
        con.execute(f"CREATE TEMP TABLE {name} AS {body}")
        n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        print(f"  materialized {name}: {n} rows @ {time.time() - t0:.1f}s",
              flush=True)
    mat_sec = time.time() - t0

    from bigdata_infra_cs489_spark.session import get_spark

    spark = get_spark()
    results = {}
    for qname, stats_sql in (
        ("repeat_spectrum", _spectrum_stats_sql()),
        ("incremental_repeat_spectrum", _incremental_stats_sql()),
    ):
        t0 = time.time()
        res = con.execute(stats_sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        oracle_sec = time.time() - t0
        t0 = time.time()
        if qname == "repeat_spectrum":
            df = registry.queries()[qname](spark, args.sf_dir)
        else:
            df = SP.incremental_repeat_spectrum(spark, args.sf_dir)
        srows = [tuple(r) for r in df.collect()]
        spark_sec = time.time() - t0
        match = (
            sorted(df.columns) == sorted(dcols)
            and _canon(srows, df.columns) == _canon(drows, dcols)
        )
        rec = {
            "rows": [len(srows), len(drows)],
            "hash_match": bool(match),
            "oracle_sec": round(oracle_sec, 2),
            "spark_sec": round(spark_sec, 2),
            "materialize_sec": round(mat_sec, 2),
        }
        results[qname] = rec
        print(f"{'ok' if match else 'FAIL':>6}  {qname:<30} {rec}", flush=True)

    with open(os.path.join(REPO, "SWEEP_SF1_SPECTRUM.json"), "w") as f:
        json.dump(results, f, indent=1)
    fails = sum(1 for r in results.values() if not r["hash_match"])
    print(f"done: {len(results) - fails}/{len(results)} hash-green")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
