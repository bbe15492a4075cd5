"""Host record: what the run ran on, and whether the host drifted while
it ran (CPU steal and a fixed speed probe timed before and after)."""

from __future__ import annotations

import os
import platform
import time


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two samples that were stolen."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest ticks are already counted in user
    return delta[7] / total if total > 0 else 0.0


def speed_probe() -> float:
    """Best of three timings of a fixed single-threaded integer loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += [c for c, pp in parent.items() if pp == p]
    return out


_TICK = os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds used by this process and the JVM's process tree (the
    JVM, the Python worker daemon and its workers). A reaped child's time
    moves into its parent's c-fields, so tree totals stay consistent
    across reads. The clock's own /proc walk is not counted: this
    process's CPU is read before and after it, and the difference is
    taken out of every later reading."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self._walks = 0.0

    def read(self) -> float:
        before = time.process_time()
        ticks = 0
        for pid in tree_pids(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
            except OSError:
                pass
        now = before - self._walks + ticks / _TICK
        self._walks += time.process_time() - before
        return now


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def record(spark, seed: int, scale: str, fixture_digest: str) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
        "seed": seed,
        "scale": scale,
        "fixture_digest": fixture_digest,
    }
