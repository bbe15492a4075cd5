"""Traced-run instrumentation. Everything here observes the engine from
outside: spans around calls into each layer's public functions, Spark
job groups read back through ``statusTracker``, SQL metrics walked from
the AQE final plan, and standing-asset gate checks seen through
``os.path.exists``. No program code is changed."""

from __future__ import annotations

import contextlib
import json
import os
import posixpath
import time

# Physical-operator names that mean rows cross into a Python worker.
_PYTHON_NODES = ("Python", "Pandas", "Arrow")


class Tracer:
    """Spans kept in memory, written out once at the end of the run."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec["start_s"] = start - self.t0
            rec["dur_s"] = end - start

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur_s"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["dur_s"] - c
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def job_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and task retries of one job group."""
    st = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_retries": 0}
    for jid in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is None:  # skipped: its output was reused
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["task_retries"] += stage.numFailedTasks + stage.currentAttemptId
    return out


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_metrics(qe) -> dict:
    """SQL metrics of the AQE final plan of an executed query: shuffle
    bytes written, scan time and bytes read, and whether a Python-worker
    node ran."""
    out = {"shuffle_write_bytes": 0, "scan_ms": 0, "bytes_read": 0, "python": False}
    todo = [qe.executedPlan()]
    seen = set()
    while todo:
        node = todo.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its bytes are counted once, at the exchange it reuses
        if cls == "ShuffleExchangeExec":
            out["shuffle_write_bytes"] += _metric(node, "shuffleBytesWritten")
        elif cls in ("FileSourceScanExec", "BatchScanExec"):
            out["scan_ms"] += _metric(node, "scanTime")
            out["bytes_read"] += _metric(node, "filesSize")
        if any(k in name for k in _PYTHON_NODES) and "Scan" not in name:
            out["python"] = True
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return out


class AssetWatch:
    """Counts standing-asset gate checks: every asset is published with a
    ``_SUCCESS`` marker under the index root, and every ensure call checks
    that marker first. A path whose first check finds the marker is a
    hit (served by an existing asset); one that does not is a build."""

    def __init__(self, root: str) -> None:
        self.root = os.path.abspath(root) + os.sep
        self.first: dict[str, bool] = {}
        self._orig = posixpath.exists

    def _exists(self, path) -> bool:
        found = self._orig(path)
        p = os.fspath(path)
        if isinstance(p, str) and p.endswith("_SUCCESS") and p.startswith(self.root):
            self.first.setdefault(os.path.dirname(p), found)
        return found

    @contextlib.contextmanager
    def watch(self):
        """Record the asset touches made inside the block."""
        self.first = {}
        posixpath.exists = self._exists
        try:
            yield self
        finally:
            posixpath.exists = self._orig


def tree_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(d, f))
    return total


def assets_on_disk(root: str) -> dict[str, int]:
    """Published assets under the index root (top-level entries holding a
    ``_SUCCESS`` marker) and their size in bytes."""
    out = {}
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        top = os.path.join(root, name)
        if any("_SUCCESS" in files for _, _, files in os.walk(top)):
            out[name] = tree_bytes(top)
    return out
