"""Summary statistics the benchmark reports, and CPU and clock accounting."""

from __future__ import annotations

import os
import statistics
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``. With ``n >= 20`` samples the value
    is the order statistic that has exactly ten samples above it, at
    percentile ``100 * (n - 10) / n`` (p50 or higher). With fewer samples
    that statistic would sit below the median, so the maximum is returned at
    percentile 100, and the caller reports the sample count beside it.
    """
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    ordered = sorted(values)
    if n < 20:
        return ordered[-1], 100.0, n
    return ordered[n - 11], 100.0 * (n - 10) / n, n


def fail_frac(outcomes: list[bool]) -> float:
    """Failed or output-mismatched operations over operations attempted;
    ``outcomes`` holds True for each operation that succeeded and checked."""
    return (len(outcomes) - sum(outcomes)) / len(outcomes) if outcomes else 0.0


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread the bounds are held to."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def cpu_times() -> list[int]:
    """Whole-machine CPU jiffies from /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _proc_stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    process by default) and all its descendants: the Spark JVM and the
    Python workers it starts. A child that has exited and been reaped
    counts through its parent's cutime and cstime."""
    root = os.getpid() if root is None else root
    used, kids = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _proc_stat(entry)
        except OSError:  # exited while we looked
            continue
        pid = int(entry)
        used[pid] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        kids.setdefault(int(f[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo += kids.get(pid, [])
    return total / _TICKS


def process_age_s() -> float:
    """Seconds since this process started (exec), from its /proc start time."""
    start_ticks = int(_proc_stat("self")[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICKS


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two cpu_times() readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d[:8]) if sum(d[:8]) else 0.0
