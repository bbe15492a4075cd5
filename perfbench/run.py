"""Repo benchmark: one driver process on local[nproc], one client in a
closed loop issuing a workload's queries one after another through
``registry.queries()[name](spark, dir).collect()``.

Usage (from the repository root):

    python3 perfbench/run.py --workload reference --seed 1 --seconds 10 --trace 0

A run generates the seeded fixture (once per seed), sets the engine up
once (timed from process start, input generation left out), makes one
cold pass against an empty standing-asset root and two warm-up
passes, then counted warm passes until ``--seconds`` have gone by (at
least three). Every result is checked against its DuckDB oracle
twin and every later pass against the cold pass. ``--trace 1`` makes the
traced run instead and reports the split across layers. The last stdout
line is one JSON object (correct, attempted, failed, metrics); the lines before it are
the report, the host record, the per-query samples and, when traced, the
per-query layer figures.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import fixtures  # noqa: E402
import host  # noqa: E402
import layers  # noqa: E402
from workloads import WARMUP_QUERY, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
COLD, FIRST_COUNTED = 0, 3  # passes 1 and 2 are uncounted warm-up passes
MIN_COUNTED = 3
DEADLINE_S = 170

# Gated end-to-end metrics: the last stdout line of an untraced run.
END_TO_END_UNITS = {"setup_s": "s", "cold_pass_cpu_s": "s", "pass_cpu_s": "s"}

# The full report: the gated metrics plus the wall-clock and memory
# figures, which this host's CPU steal makes too unsteady to gate on.
REPORT = {
    "setup_s": ("s", "process start to ready: JVM launch, registry load, warm-up query"),
    "cold_pass_s": ("s", "first pass, empty standing-asset root"),
    "pass_s": ("s", "median of {counted} counted warm passes"),
    "query_p50_s": ("s", "median of {samples} counted warm query samples"),
    "query_tail_s": ("s", "p{pct:.1f} of {samples} counted warm samples, {beyond} beyond it"),
    "peak_rss_mb": ("MiB", "VmHWM of the Python driver plus the driver JVM"),
    "cold_pass_cpu_s": ("s", "CPU of the cold pass"),
    "pass_cpu_s": ("s", "sum of each query's median counted-sample CPU"),
    "query_cpu_p50_s": ("s", "median counted-sample CPU"),
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.queries_load_s": "s",
    "session.warmup_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "catalyst.plan_s": "s",
    "execution.exec_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.task_retries": "count",
    "execution.shuffle_write_bytes": "bytes",
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "pyworker.exec_s": "s",
    "assets.build_s": "s",
    "assets.bytes_written": "bytes",
    "assets.count": "count",
    "assets.probe_s": "s",
    "assets.hit_ratio": "ratio",
    "streaming.run_s": "s",
    "trace.overhead": "ratio",
}

STAT_KEYS = ("jobs", "stages", "tasks", "task_retries")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def canon_digest(rows, cols) -> str:
    from tests.oracle import _canon

    blob = repr((sorted(cols), _canon(rows, cols)))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


# ---------------------------------------------------------------- engine


class Engine:
    """The engine as its users drive it: a session, the registry and a
    warm-up query. ``setup`` is what ``setup_s`` times."""

    def __init__(self, fixture: str) -> None:
        self.fixture = fixture
        self.spark = None
        self.queries = None
        self.setup_split: dict = {}

    def setup(self, t_start: float) -> None:
        from bigdata_infra_cs489_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        t_session = time.perf_counter()
        from bigdata_infra_cs489_spark.plans import registry

        self.queries = registry.queries()
        t_registry = time.perf_counter()
        self.queries[WARMUP_QUERY](self.spark, self.fixture).collect()
        self.spark.catalog.clearCache()
        t_ready = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_split = {
            "total_s": t_ready - t_start,
            "get_spark_s": t_session - t_start,
            "queries_load_s": t_registry - t_session,
            "warmup_s": t_ready - t_registry,
        }

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it and its Python workers."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        pids = host.tree_pids(self.jvm_pid()) if self.spark is not None else []
        if self.spark is not None:
            self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


# ---------------------------------------------------------------- samples


def run_sample(engine: Engine, name: str, qid: str, tracer=None, watch=None) -> dict:
    """One query sample. Untraced: build and collect timed with two clock
    reads. Traced: spans for build, plan and exec, job-group counts, the
    final plan's SQL metrics and the asset gate checks."""
    spark, fn = engine.spark, engine.queries[name]
    rec = {"q": name, "qid": qid, "plan_s": 0.0}
    try:
        if tracer is None:
            t0 = time.perf_counter()
            df = fn(spark, engine.fixture)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1)
        else:
            rows, df = _traced_sample(spark, fn, engine.fixture, qid, name, rec, tracer, watch)
        rec["wall_s"] = rec["build_s"] + rec["plan_s"] + rec["exec_s"]
        rec["rows"], rec["cols"] = [tuple(r) for r in rows], list(df.columns)
    except Exception as e:  # counted as a failure, the run goes on
        first_line = str(e).splitlines()[0][:200] if str(e) else ""
        rec["error"] = f"{type(e).__name__}: {first_line}"
    finally:
        spark.catalog.clearCache()
    return rec


def _traced_sample(spark, fn, fixture, qid, name, rec, tracer, watch):
    sc = spark.sparkContext
    with tracer.span("query", name, qid=qid) as qspan:
        sc.setJobGroup(f"{qid}/build", name)
        with tracer.span("operators", "build", qid=qid) as b, watch.watch():
            df = fn(spark, fixture)
        b.update(layers.job_stats(sc, f"{qid}/build"))
        rec["assets"] = dict(watch.first)
        qe = df._jdf.queryExecution()
        sc.setJobGroup(f"{qid}/exec", name)
        with tracer.span("catalyst", "plan", qid=qid) as p:
            qe.executedPlan()
        with tracer.span("execution", "exec", qid=qid) as e:
            rows = df.collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        e.update(layers.job_stats(sc, f"{qid}/exec"))
        e.update(layers.plan_metrics(qe))
        qspan.update({k: b[k] + e[k] for k in STAT_KEYS})
    if name.startswith("stream_"):
        b["layer"] = "streaming"  # the availableNow run happens while building
    rec.update(
        build_s=b["dur_s"],
        plan_s=p["dur_s"],
        exec_s=e["dur_s"],
        build_jobs=b["jobs"],
        exec_stats={k: e[k] for k in STAT_KEYS},
        plan_metrics={k: e[k] for k in ("shuffle_write_bytes", "scan_ms", "bytes_read", "python")},
    )
    return rows, df


# ---------------------------------------------------------------- checks


def oracle_digests(fixture: str, fixture_digest: str, names) -> dict:
    """Canonical (row count, digest) of each query's DuckDB oracle, cached
    per fixture digest and oracle SQL text."""
    from bigdata_infra_cs489_spark.plans import registry
    from tests.oracle import duck_connection

    sqls = registry.oracle_sql()
    path = os.path.join(WORK, "oracle", f"{fixture_digest}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as f:
            cache = json.load(f)
    con = None
    for n in names:
        key = hashlib.sha256(sqls[n].encode()).hexdigest()[:16] if n in sqls else None
        if key is None or cache.get(n, {}).get("sql") == key:
            continue
        con = con or duck_connection(fixture)
        res = con.execute(sqls[n])
        cols = [d[0] for d in res.description]
        rows = [tuple(r) for r in res.fetchall()]
        cache[n] = {"sql": key, "rows": len(rows), "digest": canon_digest(rows, cols)}
    if con is not None:
        con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + f".{os.getpid()}", "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(path + f".{os.getpid()}", path)
    return {n: cache[n] for n in names if n in cache}


def check_results(passes, oracle, corrupt: str | None) -> list[dict]:
    """Mark each sample ok or failed: the cold sample against the oracle,
    every later sample against the cold one. Returns the failures."""
    cold: dict[str, dict] = {}
    failures = []
    for i, samples in enumerate(passes):
        for s in samples:
            rows = s.pop("rows", None)
            if rows is not None:
                if i == COLD and s["q"] == corrupt:
                    rows = rows[:-1] + [tuple("corrupted" for _ in rows[-1])] if rows else [("x",)]
                s["n_rows"], s["digest"] = len(rows), canon_digest(rows, s["cols"])
            got = (s.get("n_rows"), s.get("digest"))
            if "error" in s:
                why = s["error"]
            elif i == COLD:
                cold[s["q"]] = s
                want = oracle.get(s["q"])
                if want is None:
                    why = "no oracle"
                elif got != (want["rows"], want["digest"]):
                    why = f"oracle mismatch: {got[0]} rows vs {want['rows']}"
                else:
                    why = None
            elif "digest" not in cold.get(s["q"], {}):
                why = "cold sample failed"
            elif got != (cold[s["q"]]["n_rows"], cold[s["q"]]["digest"]):
                why = "result differs from the cold pass"
            else:
                why = None
            s["ok"] = why is None
            if why:
                failures.append({"q": s["q"], "pass": i, "why": why})
    return failures


# ---------------------------------------------------------------- metrics


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least 10 samples beyond
    it; with fewer than 21 samples, a quarter of them (at least one).
    Returns (value, percentile, samples beyond)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 2:
        return (xs[0] if xs else 0.0), 100.0, 0
    k = 10 if n >= 21 else max(1, n // 4)
    return xs[n - 1 - k], 100.0 * (n - k) / n, k


def end_to_end(engine: Engine, passes, peak_rss_mb: float) -> tuple[dict, dict]:
    """Every end-to-end figure of one run, and the facts the report
    prints beside them."""
    counted = passes[FIRST_COUNTED:]
    warm = [s for p in counted for s in p if s.get("ok")]
    tail_s, pct, beyond = tail([s["wall_s"] for s in warm])

    def per_pass(key, ps):
        return [sum(s.get(key, 0.0) for s in p) for p in ps]

    values = {
        "setup_s": engine.setup_split["total_s"],
        "cold_pass_s": per_pass("wall_s", passes[:1])[0],
        "pass_s": _median(per_pass("wall_s", counted)),
        "query_p50_s": _median([s["wall_s"] for s in warm]),
        "query_tail_s": tail_s,
        "peak_rss_mb": peak_rss_mb,
        "cold_pass_cpu_s": per_pass("cpu_s", passes[:1])[0],
        "pass_cpu_s": sum(
            _median([s["cpu_s"] for s in warm if s["q"] == q])
            for q in dict.fromkeys(s["q"] for s in warm)
        ),
        "query_cpu_p50_s": _median([s["cpu_s"] for s in warm]),
    }
    facts = {
        "counted": len(counted),
        "samples": len(warm),
        "pct": pct,
        "beyond": beyond,
    }
    return values, facts


def per_layer(engine, passes, traced_idx, untraced_idx, assets) -> tuple[dict, dict]:
    """Layer metrics of a traced run, from its traced counted passes."""
    traced = [passes[i] for i in traced_idx if i >= FIRST_COUNTED]
    first = traced[0]

    def med(f):
        return _median([sum(f(s) for s in p if s.get("ok")) for p in traced])

    def total(f):
        return sum(f(s) for s in first if s.get("ok"))

    def pass_wall(idx):
        return _median(
            [sum(s.get("wall_s", 0.0) for s in passes[i]) for i in idx if i >= FIRST_COUNTED]
        )

    def is_stream(s):
        return s["q"].startswith("stream_")

    cold = {s["q"]: s for s in passes[COLD] if s.get("ok")}
    warm_build = {
        q: _median([s["build_s"] for p in traced for s in p if s["q"] == q and s.get("ok")])
        for q in cold
    }
    touches = [s["assets"] for p in traced for s in p if s.get("assets")]
    n_touch = sum(len(t) for t in touches)
    s0 = engine.setup_split
    out = {
        "session.get_spark_s": s0["get_spark_s"],
        "plans.queries_load_s": s0["queries_load_s"],
        "session.warmup_s": s0["warmup_s"],
        "operators.build_s": med(lambda s: 0.0 if is_stream(s) else s["build_s"]),
        "operators.build_jobs": total(lambda s: s["build_jobs"]),
        "catalyst.plan_s": med(lambda s: s["plan_s"]),
        "execution.exec_s": med(lambda s: s["exec_s"]),
        **{f"execution.{k}": total(lambda s, k=k: s["exec_stats"][k]) for k in STAT_KEYS},
        "execution.shuffle_write_bytes": total(lambda s: s["plan_metrics"]["shuffle_write_bytes"]),
        "sources.scan_s": med(lambda s: s["plan_metrics"]["scan_ms"] / 1000.0),
        "sources.bytes_read": total(lambda s: s["plan_metrics"]["bytes_read"]),
        "pyworker.exec_s": med(lambda s: s["exec_s"] if s["plan_metrics"]["python"] else 0.0),
        # first-pass construction minus warm construction of every query
        # whose cold sample touched (and so built) a standing asset
        "assets.build_s": sum(
            max(0.0, s["build_s"] - warm_build[q]) for q, s in cold.items() if s.get("assets")
        ),
        "assets.bytes_written": sum(assets.values()),
        "assets.count": len(assets),
        "assets.probe_s": med(
            lambda s: s["wall_s"] if s.get("assets") and all(s["assets"].values()) else 0.0
        ),
        "assets.hit_ratio": sum(sum(t.values()) for t in touches) / n_touch if n_touch else 0.0,
        "streaming.run_s": med(lambda s: s["build_s"] if is_stream(s) else 0.0),
        "trace.overhead": pass_wall(traced_idx) / max(1e-9, pass_wall(untraced_idx)) - 1.0,
    }
    queries = {}
    for q in dict.fromkeys(s["q"] for s in first):
        ss = [s for p in traced for s in p if s["q"] == q and s.get("ok")]
        f0 = [s for s in first if s["q"] == q and s.get("ok")]
        if ss and f0:
            queries[f"query.{q}.build_s"] = _median([s["build_s"] for s in ss])
            queries[f"query.{q}.exec_s"] = _median([s["plan_s"] + s["exec_s"] for s in ss])
            queries[f"query.{q}.jobs"] = f0[0]["build_jobs"] + f0[0]["exec_stats"]["jobs"]
    return out, queries


# ---------------------------------------------------------------- run


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", choices=sorted(fixtures.SCALES))
    ap.add_argument(
        "--min-counted",
        type=int,
        default=MIN_COUNTED,
        help="counted warm passes to make even when --seconds have gone by",
    )
    ap.add_argument(
        "--corrupt",
        metavar="QUERY",
        help="self-test hook: alter QUERY's cold-pass result before it is checked",
    )
    return ap.parse_args(argv)


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def isolate(run_dir: str) -> None:
    """Point every writable location of the engine, Spark, the JVM and
    DuckDB into this run's private directory."""
    for sub in ("index", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ.update(
        SPARK_GRAFT_INDEX_DIR=os.path.join(run_dir, "index"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=tmp,
        # keeps HotSpot's perf-data file out of /tmp as well
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        # the Python workers import the engine too
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    )
    tempfile.tempdir = None
    os.chdir(run_dir)  # spark-warehouse and any relative path land here


def measure(args, engine: Engine, tracer, excluded_s: float) -> dict:
    """The set-up and the passes. Returns everything the report needs.
    ``excluded_s`` is the time since process start that went to input
    generation and the host probe; the set-up's clock leaves it out."""
    names = WORKLOADS[args.workload]
    t_start = T_PROCESS + excluded_s
    if tracer:
        with tracer.span("session", "setup"):
            engine.setup(t_start)
    else:
        engine.setup(t_start)
    index_root = os.environ["SPARK_GRAFT_INDEX_DIR"]
    watch = layers.AssetWatch(index_root) if tracer else None
    cpu = host.CpuClock(engine.jvm_pid())
    passes, traced_idx, untraced_idx = [], [], []
    t_counted = None
    while True:
        i = len(passes)
        if i == FIRST_COUNTED:
            t_counted = time.perf_counter()
        done = i - FIRST_COUNTED >= args.min_counted
        if done and time.perf_counter() - t_counted >= args.seconds:
            break
        # traced runs trace the cold pass and every other counted pass,
        # starting with a traced one; the untraced counted passes between
        # them give the tracing overhead
        use_trace = tracer is not None and (
            i == COLD or (i >= FIRST_COUNTED and (i - FIRST_COUNTED) % 2 == 0)
        )
        (traced_idx if use_trace else untraced_idx).append(i)
        samples, c0 = [], cpu.read()
        for q in names:
            rec = run_sample(engine, q, f"p{i}.{q}", tracer if use_trace else None, watch)
            c1 = cpu.read()
            rec["cpu_s"] = c1 - c0
            samples.append(rec)
            c0 = c1
        passes.append(samples)
    return {
        "passes": passes,
        "traced_idx": traced_idx,
        "untraced_idx": untraced_idx,
        "assets": layers.assets_on_disk(index_root) if tracer else {},
        "peak_rss_mb": host.vm_hwm_mb() + host.vm_hwm_mb(cpu.jvm_pid),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    names = WORKLOADS[args.workload]
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwind: stop the JVM, clean up
    signal.alarm(DEADLINE_S)

    t_excluded = time.perf_counter()
    fixture = fixtures.ensure(os.path.join(WORK, "fixtures"), args.scale, args.seed)
    fixture_digest = fixtures.digest(fixture)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        isolate(run_dir)
        cpu0, speed0 = host.cpu_times(), host.speed_probe()
        excluded_s = time.perf_counter() - t_excluded
        engine = Engine(fixture)
        tracer = layers.Tracer() if args.trace else None
        try:
            m = measure(args, engine, tracer, excluded_s)
            hostrec = host.record(engine.spark, args.seed, args.scale, fixture_digest)
        finally:
            engine.shutdown()
        speed1, cpu1 = host.speed_probe(), host.cpu_times()
        oracle = oracle_digests(fixture, fixture_digest, names)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    hostrec.update(
        steal_share=host.steal_share(cpu0, cpu1),
        speed_probe_before_s=speed0,
        speed_probe_after_s=speed1,
        run_s=time.perf_counter() - T_PROCESS,
    )
    passes = m["passes"]
    failures = check_results(passes, oracle, args.corrupt)
    attempted = sum(len(p) for p in passes)
    e2e, facts = end_to_end(engine, passes, m["peak_rss_mb"])

    print(
        f"perfbench workload={args.workload} seed={args.seed} "
        f"scale={args.scale} trace={args.trace}"
    )
    for k, (unit, note) in REPORT.items():
        print(f"  {k:<15} {e2e[k]:12.4f} {unit:<6} {note.format(**facts)}")
    print(
        f"  {'error_rate':<15} {len(failures) / attempted:12.4f} {'ratio':<6} "
        f"{len(failures)} of {attempted} query samples failed"
    )
    for f in failures:
        print(f"  FAILED {f['q']} (pass {f['pass']}): {f['why']}")
    print(json.dumps({"perfbench": "host", **hostrec}))
    samples = {}
    for p in passes:
        for s in p:
            d = samples.setdefault(s["q"], {"wall_s": [], "cpu_s": []})
            for k in d:
                d[k].append(round(s.get(k, 0.0), 4))
    print(json.dumps({"perfbench": "samples", "passes": "cold, warm-up, counted...", **samples}))

    if args.trace:
        lay, per_query = per_layer(
            engine, passes, m["traced_idx"], m["untraced_idx"], m["assets"]
        )
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        span_name = f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
        span_path = os.path.join(WORK, "traces", span_name)
        tracer.write(span_path)
        trace_rec = {
            "perfbench": "trace",
            "spans": os.path.relpath(span_path, ROOT),
            "self_s": tracer.self_times(),
            "assets": m["assets"],
            "queries": per_query,
        }
        print(json.dumps(trace_rec))
        metrics = {k: {"value": lay[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    signal.alarm(0)
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures)}
    print(json.dumps({**result, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
