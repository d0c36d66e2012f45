"""Measurement helpers: sample statistics, the process tree read from
``/proc``, host facts, and Spark's own counters (status store, JVM GC).

``psutil`` is not available, so the process tree (this Python driver, the
JVM it launches and the JVM's Python workers) is read from
``/proc/<pid>/stat`` directly.
"""

from __future__ import annotations

import math
import os
import statistics

TAIL_BEYOND = 10  # samples a reported tail percentile must have beyond it
TAIL_FLOOR = 90.0  # the tail is never a lower percentile than this (nearest rank)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, samples beyond it)`` for the tail of a latency
    sample.

    From 100 samples on this is the highest percentile that still has
    ``TAIL_BEYOND`` samples above it.  A smaller sample supports no such
    percentile at or above p90; there the nearest-rank p90 is returned, with
    fewer samples beyond it (the worst of up to 9 samples, the second worst
    of 10 to 19).  It is never the median.  The worst sample alone is not
    used once there are 10: on a shared host one stalled rep sets it, and
    its run-to-run spread was about twice the median's.
    """
    if not values:
        raise ValueError("tail of an empty sample")
    ordered = sorted(values)
    n = len(ordered)
    k = max(n - TAIL_BEYOND - 1, math.ceil(TAIL_FLOOR / 100 * n) - 1)  # 0-based rank
    return float(ordered[k]), 100.0 * (k + 1) / n, n - k - 1


# -- process tree -------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _read_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # exited between listdir and open
        fields = raw[raw.rfind(")") + 2 :].split()
        # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
        out[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _HZ)
    return out


def _peak_rss(pid: int) -> int:
    """VmHWM (peak resident set) of one process, in bytes; 0 if it exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(cpu seconds, peak rss bytes) of ``root`` and its descendants.

    The peak is the sum of each live process's own peak (VmHWM).  Sampling
    the current RSS instead double-counts the JVM whenever it is caught
    mid-spawn of a child that still shares its memory (one run in ten read
    5.6 GB instead of 3 GB).
    """
    root = os.getpid() if root is None else root
    stats = _read_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    cpu, rss, todo = 0.0, 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            cpu += stats[pid][1]
            rss += _peak_rss(pid)
        todo.extend(children.get(pid, ()))
    return cpu, rss


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "cpu_model": model,
    }


# -- Spark counters -------------------------------------------------------------


class SparkCounters:
    """Stage totals from the status store and JVM GC time.

    Both work with the UI off.  ``mark()`` returns the highest stage id
    seen so far; ``stages_since(mark)`` sums the completed stages after it.
    """

    FIELDS = (
        "inputBytes",
        "inputRecords",
        "outputBytes",
        "shuffleWriteBytes",
        "executorRunTime",  # ms
        "executorCpuTime",  # ns
        "jvmGcTime",  # ms
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def stages_since(self, mark: int) -> dict[str, float]:
        tot = dict.fromkeys(self.FIELDS, 0)
        for s in self._stages():
            if s.stageId() > mark and s.status().toString() == "COMPLETE":
                for k in self.FIELDS:
                    tot[k] += getattr(s, k)()
        return tot

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)
