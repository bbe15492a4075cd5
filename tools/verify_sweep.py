"""Local replica of the driver's correctness sweep.

Runs EVERY ``queries()`` entry at sf0.01 and compares it against its
``oracle_sql()`` twin via DuckDB — row count, column names, and an
order-insensitive canonical value comparison (arrays are already rendered
as canonical strings by the registry, matching the driver's pandas
``sort_values``-based canonicalizer which cannot hash list cells).

Usage:
    python -m tools.verify_sweep [--sf-dir /root/testdata/sf0.01] [names...]
    python -m tools.verify_sweep --changed [REF]

``--changed`` derives the target set from ``git diff --name-only REF``
(default HEAD, i.e. the working tree): an operator/streaming module's
change selects every registered query whose callable lives in — or
whose module transitively imports — a changed file (source-level import
scan, so function-local imports count). Changes to the shared spine
(plans/, functions/, sources/tables.py, session.py, __spark_entry__.py)
fall back to the full registry: their blast radius is everything.

Prints one status line per query and a JSON summary to
``SWEEP_LOCAL.json``; exits non-zero if any query fails.
"""

from __future__ import annotations

import argparse
import ast
import inspect
import json
import os
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigdata_infra_cs489_spark.plans import registry  # noqa: E402
from bigdata_infra_cs489_spark.session import get_spark  # noqa: E402
from tests.oracle import _canon, duck_connection, fragile_duck_columns  # noqa: E402

PKG = "bigdata_infra_cs489_spark"

# any change here invalidates everything the registry serves — including
# the verification logic itself (tests/oracle.py defines what hash-green
# MEANS; this tool defines how the check runs)
FULL_SWEEP_PREFIXES = (
    f"{PKG}/plans/",
    f"{PKG}/functions/",
    f"{PKG}/sources/tables.py",
    f"{PKG}/session.py",
    "__spark_entry__.py",
    "tests/oracle.py",
    "tools/verify_sweep.py",
)


def _module_of(path: str) -> str:
    """repo-relative .py path -> dotted module name."""
    return path[: -len(".py")].replace("/", ".").replace(os.sep, ".")


def _internal_imports(path: str) -> set[str]:
    """Dotted names of every same-package module ``path`` imports,
    wherever the import statement sits (module top or function body)."""
    mod = _module_of(path)
    pkg_parts = mod.split(".")[:-1]
    found: set[str] = set()
    try:
        tree = ast.parse(open(os.path.join(REPO, path)).read())
    except (OSError, SyntaxError):
        return found
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG):
                    found.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[: len(pkg_parts) - (node.level - 1)]
            else:
                base = []
            stem = (node.module or "").split(".") if node.module else []
            root = ".".join([*base, *stem]) if (base or stem) else ""
            if root.startswith(PKG) or (node.level and root):
                if root:
                    found.add(root)
                for a in node.names:
                    found.add(f"{root}.{a.name}" if root else a.name)
    return found


def _import_graph() -> dict[str, set[str]]:
    """module -> set of internal modules it imports (files that exist)."""
    files = []
    for dirpath, _dirs, names in os.walk(os.path.join(REPO, PKG)):
        for n in names:
            if n.endswith(".py"):
                files.append(
                    os.path.relpath(os.path.join(dirpath, n), REPO)
                )
    known = {_module_of(f) for f in files}
    graph: dict[str, set[str]] = {}
    for f in files:
        mod = _module_of(f)
        # the plans/ glue imports EVERY operator module to register it;
        # reverse-reachability through it would select the whole
        # registry for any one-operator change. Changes to plans/ itself
        # are a spine full-sweep (FULL_SWEEP_PREFIXES), so drop the glue
        # from closure propagation entirely.
        if mod.startswith(f"{PKG}.plans"):
            continue
        deps = {
            d
            for d in _internal_imports(f)
            if d in known and not d.startswith(f"{PKG}.plans")
        }
        graph[mod] = deps
    return graph


def _affected_modules(changed_mods: set[str]) -> set[str]:
    """Transitive reverse closure: every module that (indirectly)
    imports a changed module, plus the changed modules themselves."""
    graph = _import_graph()
    affected = set(changed_mods)
    grew = True
    while grew:
        grew = False
        for mod, deps in graph.items():
            if mod not in affected and deps & affected:
                affected.add(mod)
                grew = True
    return affected


def _query_modules(fn) -> set[str]:
    """Internal modules a registered callable directly touches: its own
    defining module, plus (for the catalog lambdas) every internal
    module/function its body references by name."""
    mods = set()
    m = getattr(fn, "__module__", "")
    if m.startswith(PKG) and not m.startswith(f"{PKG}.plans"):
        mods.add(m)
    code = getattr(fn, "__code__", None)
    if code is not None:
        for name in code.co_names:
            obj = fn.__globals__.get(name)
            om = inspect.getmodule(obj)
            if (
                om is not None
                and om.__name__.startswith(PKG)
                and not om.__name__.startswith(f"{PKG}.plans")
            ):
                mods.add(om.__name__)
    return mods


def changed_query_names(ref: str) -> list[str] | None:
    """Registered queries affected by the diff against ``ref``.

    Returns None to request a full sweep (spine change or git failure).
    """
    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", ref],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError) as e:
        print(f"--changed: git diff failed ({e!r}); running full sweep")
        return None
    changed = [ln.strip() for ln in out.splitlines() if ln.strip()]
    spine = [
        f
        for f in changed
        if any(f.startswith(p) for p in FULL_SWEEP_PREFIXES)
    ]
    if spine:
        print(f"--changed: spine file(s) {spine} changed; full sweep")
        return None
    changed_mods = {
        _module_of(f)
        for f in changed
        if f.startswith(PKG + "/") and f.endswith(".py")
    }
    if not changed_mods:
        return []
    affected = _affected_modules(changed_mods)
    qs = registry.queries()
    return [n for n, fn in qs.items() if _query_modules(fn) & affected]


CACHE_DIR = os.path.join(REPO, ".oracle_cache")
# Bump when the cached payload layout or comparison semantics change.
CACHE_SCHEMA_VERSION = 1


def _fixture_digest(sf_dir: str) -> str:
    """Content key for a fixture directory: sorted (relpath, size,
    mtime_ns) of every parquet file. The driver regenerates fixtures
    in place, so identity-by-path is not enough."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, _dirs, names in sorted(os.walk(sf_dir)):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            rel = os.path.relpath(p, sf_dir)
            h.update(f"{rel}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def run_oracle_cached(con, name: str, sql: str, fixture_key: str):
    """(duck_cols, duck_rows) for ``sql``, memoized on disk keyed by
    (oracle text, fixture content). Round-9 verdict, What's wrong #3:
    the recursive-CC standing-cluster replay costs ~10-25 s per
    consuming query per sweep, and at 238 registered queries the
    dual-SF round-end sweeps were heading past practical length. The
    oracle text IS the semantics, so (sql, fixture, engine) fully
    determines the result set; any SQL or fixture change misses the
    cache and re-runs DuckDB. The DuckDB version and a harness schema
    constant are folded into the key (round-11 advisory) so an engine
    upgrade that changes result values/types — exactly the cross-engine
    drift this harness exists to catch — can never serve stale rows.
    Corrupt/unreadable cache entries re-run too."""
    import hashlib
    import pickle

    import duckdb

    key = hashlib.sha256(
        f"{sql}|duckdb={duckdb.__version__}|schema={CACHE_SCHEMA_VERSION}".encode()
    ).hexdigest()[:24]
    path = os.path.join(CACHE_DIR, f"{name}-{key}-{fixture_key}.pkl")
    try:
        with open(path, "rb") as f:
            cols, rows = pickle.load(f)
        return cols, rows, True
    except (OSError, ValueError, EOFError, pickle.UnpicklingError):
        pass
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = [tuple(r) for r in res.fetchall()]
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump((cols, rows), f)
    os.replace(tmp, path)
    return cols, rows, False


def _check_one(
    spark, sf_dir: str, name: str, fn, oracle: str | None,
    con, fixture_key: str,
) -> dict:
    """One query's driver-replica check; returns the result record."""
    t0 = time.monotonic()
    rec: dict = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    try:
        sdf = fn(spark, sf_dir)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
        rec["spark_rows"] = len(spark_rows)
        if oracle is None:
            rec["err"] = "no_oracle"
        else:
            fragile = fragile_duck_columns(con, oracle)
            if fragile:
                # would be driver-red even if values match locally:
                # the driver's pandas canonicalizer mangles these types
                rec["hash_match"] = False
                rec["err"] = f"fragile_duck_types: {fragile}"
            else:
                duck_cols, duck_rows, cached = run_oracle_cached(
                    con, name, oracle, fixture_key
                )
                rec["oracle_cached"] = cached
                rec["oracle_rows"] = len(duck_rows)
                rec["rows_match"] = len(spark_rows) == len(duck_rows)
                rec["schema_match"] = sorted(spark_cols) == sorted(duck_cols)
                s = _canon(spark_rows, spark_cols)
                d = _canon(duck_rows, duck_cols)
                rec["hash_match"] = s == d
                if not rec["hash_match"] and rec["rows_match"]:
                    mism = [(a, b) for a, b in zip(s, d) if a != b]
                    rec["err"] = f"value mismatch {len(mism)} rows: {mism[:1]}"
    except Exception:
        rec["err"] = traceback.format_exc(limit=3)
    rec["sec"] = round(time.monotonic() - t0, 3)
    return rec


def _report(name: str, rec: dict) -> None:
    flag = "ok" if rec["hash_match"] else (
        "rows-only" if rec["err"] == "no_oracle" else "FAIL"
    )
    print(f"{flag:>9}  {name:<32} {rec['sec']:7.2f}s", flush=True)
    if flag == "FAIL":
        print(f"           {str(rec['err'])[:500]}", flush=True)


def sweep(
    sf_dir: str, only: list[str] | None = None, jobs: int = 1
) -> dict[str, dict]:
    """Run the driver-replica check for every target query.

    jobs > 1 fans the per-query checks over a thread pool (Spark's
    scheduler interleaves the concurrent jobs on local[32]; each thread
    gets its OWN DuckDB connection — connections are not thread-safe).
    Default stays sequential: parallel mode is an opt-in wall-clock
    lever for the round-end dual-SF sweeps, and per-query `sec` values
    under it include scheduler contention, so never compare them
    against sequential timings."""
    spark = get_spark()
    qs = registry.queries()
    oracles = registry.oracle_sql()
    names = only or list(qs)
    fixture_key = _fixture_digest(sf_dir)
    results: dict[str, dict] = {}
    if jobs <= 1:
        con = duck_connection(sf_dir)
        for name in names:
            rec = _check_one(
                spark, sf_dir, name, qs[name], oracles.get(name), con,
                fixture_key,
            )
            results[name] = rec
            _report(name, rec)
        con.close()
        return results

    import threading
    from concurrent.futures import ThreadPoolExecutor

    local = threading.local()

    def check(name: str) -> tuple[str, dict]:
        if not hasattr(local, "con"):
            local.con = duck_connection(sf_dir)
        rec = _check_one(
            spark, sf_dir, name, qs[name], oracles.get(name), local.con,
            fixture_key,
        )
        _report(name, rec)
        return name, rec

    with ThreadPoolExecutor(max_workers=jobs) as ex:
        for name, rec in ex.map(check, names):
            results[name] = rec
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--changed",
        nargs="?",
        const="HEAD",
        default=None,
        metavar="REF",
        help="derive the target set from git diff against REF "
        "(default HEAD); spine changes fall back to a full sweep",
    )
    ap.add_argument(
        "--jobs",
        type=int,
        default=1,
        help="thread-pool width for the per-query checks (default 1 = "
        "sequential; per-query timings under >1 include contention)",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.changed is not None:
        if args.names:
            ap.error("--changed and explicit names are mutually exclusive")
        derived = changed_query_names(args.changed)
        if derived == []:
            print("--changed: no registered queries affected; nothing to run")
            return 0
        if derived is not None:
            print(
                f"--changed: {len(derived)} affected queries: "
                f"{' '.join(sorted(derived))}"
            )
        args.names = derived or []
    results = sweep(args.sf_dir, args.names or None, jobs=args.jobs)
    # A targeted run MERGES into the standing file instead of clobbering
    # the full-registry record (a 1-query rerun once replaced the whole
    # 173-entry sweep); only a full run rewrites it.
    if args.names:
        try:
            with open(os.path.join(REPO, "SWEEP_LOCAL.json")) as f:
                merged = json.load(f)
        except FileNotFoundError:
            merged = {}
        except (OSError, ValueError) as e:
            # A corrupt standing record must not be silently clobbered by
            # a targeted rerun — that is exactly how the full-sweep record
            # was lost once. Fail loudly; the operator decides.
            print(
                "ERROR: existing SWEEP_LOCAL.json is unreadable "
                f"({e!r}); refusing to merge a targeted run over it. "
                "Fix or remove the file, or run a full sweep.",
                file=sys.stderr,
            )
            return 2
        merged.update(results)
    else:
        merged = results
    with open(os.path.join(REPO, "SWEEP_LOCAL.json"), "w") as f:
        json.dump(merged, f, indent=1)
    n_ok = sum(1 for r in results.values() if r["hash_match"])
    n_rows_only = sum(1 for r in results.values() if r["err"] == "no_oracle")
    n_fail = len(results) - n_ok - n_rows_only
    print(
        f"\n{len(results)} queries: {n_ok} hash-green, "
        f"{n_rows_only} rows-only, {n_fail} FAIL"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
