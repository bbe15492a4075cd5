"""Smoke test of the benchmark itself, on a tiny seed at sf0.001 row counts.

    python3 perfbench/selftest.py

It first checks that ``BENCHMARK.json`` lists the workloads and metrics
that ``run.py`` prints. For every workload it then makes one untraced and
one traced run with a single counted warm pass, and asserts that every
report metric and every gated or per-layer metric is printed with its
unit. A last run corrupts one query's cold-pass result and asserts that
the failure is counted in ``error_rate``, named in the report and turns
``correct`` false. Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END_UNITS, PER_LAYER_UNITS, REPORT  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 4242


def bench(workload: str, trace: int, *extra: str) -> tuple[list[str], dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(SEED), "--seconds", "0",
        "--trace", str(trace), "--scale", "sf0.001", "--min-counted", "1", *extra,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    return lines, result


def report_values(lines: list[str]) -> dict[str, tuple[float, str]]:
    rows = {}
    for line in lines:
        m = re.match(r"^  (\S+)\s+(-?[0-9.]+)\s+(\S+)", line)
        if m:
            rows[m.group(1)] = (float(m.group(2)), m.group(3))
    return rows


def check_metrics(metrics: dict, units: dict) -> None:
    assert set(metrics) == set(units), sorted(set(metrics) ^ set(units))
    for name, unit in units.items():
        assert metrics[name]["unit"] == unit, (name, metrics[name])
        assert isinstance(metrics[name]["value"], (int, float)), (name, metrics[name])


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = json.load(f)
    for key, units in (("end_to_end", END_TO_END_UNITS), ("per_layer", PER_LAYER_UNITS)):
        listed = {m["name"]: m["unit"] for m in declared[key]}
        assert listed == units, (key, sorted(set(listed.items()) ^ set(units.items())))
    assert sorted(m["name"] for m in declared["workloads"]) == sorted(WORKLOADS)
    print("ok  BENCHMARK.json lists the metrics and workloads run.py prints")

    expected = {k: unit for k, (unit, _) in REPORT.items()} | {"error_rate": "ratio"}
    for workload in WORKLOADS:
        lines, result = bench(workload, 0)
        report = report_values(lines)
        for name, unit in expected.items():
            assert name in report and report[name][1] == unit, (workload, name, report.get(name))
        assert report["error_rate"][0] == 0.0 and result["correct"], (workload, lines)
        check_metrics(result["metrics"], END_TO_END_UNITS)
        print(f"ok  {workload}: report and end-to-end metrics with units, no failures")

        lines, result = bench(workload, 1)
        check_metrics(result["metrics"], PER_LAYER_UNITS)
        assert result["correct"], (workload, lines)
        assert any(line.startswith('{"perfbench": "trace"') for line in lines), workload
        print(f"ok  {workload}: traced run prints every per-layer metric with its unit")

    victim = WORKLOADS["reference"][0]
    lines, result = bench("reference", 0, "--corrupt", victim)
    report = report_values(lines)
    assert not result["correct"] and result["failed"] >= 1, result
    assert report["error_rate"][0] > 0.0, report["error_rate"]
    assert any(line.startswith(f"  FAILED {victim} (pass 0)") for line in lines), lines
    print(f"ok  corrupted {victim} result counted in error_rate and named")
    return 0


if __name__ == "__main__":
    sys.exit(main())
