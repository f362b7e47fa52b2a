"""Host and driver-JVM counters read around the measured window.

The host record is evidence printed with every result; no rule of the
benchmark drops, repeats or rescales a run because of it.
"""

from __future__ import annotations

import os
import platform
import statistics
import time


def _clk_tck() -> int:
    return os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Cumulative CPU steal of all host CPUs, in seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / _clk_tck()


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` (default: this process) and every
    live descendant: the Python client, the driver JVM and its workers."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    tck = _clk_tck()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(rest[1])
        cpu[pid] = (int(rest[11]) + int(rest[12])) / tck
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += c
    return total


class JvmCounters:
    """Compilation and GC MXBeans of the driver JVM, over py4j."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jit_ms(self) -> float:
        return float(self._jit.getTotalCompilationTime())

    def gc_ms(self) -> float:
        return float(sum(max(0, g.getCollectionTime()) for g in self._gcs))


class Window:
    """Counter snapshot at window start; ``close()`` returns the deltas."""

    def __init__(self, jvm: JvmCounters):
        self.jvm = jvm
        self.start = self._snap()

    def _snap(self) -> dict[str, float]:
        return {
            "steal_s": steal_s(),
            "cpu_s": tree_cpu_s(),
            "jit_ms": self.jvm.jit_ms(),
            "gc_ms": self.jvm.gc_ms(),
        }

    def close(self) -> dict[str, float]:
        end = self._snap()
        return {k: end[k] - self.start[k] for k in end}


def cpu_probe_ms() -> float:
    """Median of three timings of a fixed pure-Python loop. Steal does not
    show a host whose cores are slowed by other tenants' load; this does."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def host_record(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "loadavg": loadavg(),
        "cpu_probe_ms": cpu_probe_ms(),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
