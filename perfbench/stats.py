"""Pure summary rules of the benchmark: medians, the tail percentile,
error rate, and run-context readings from /proc.

Nothing here touches Spark, so the rules are unit-tested on their own
(perfbench/tests/test_stats.py)."""

from __future__ import annotations

import math
import os
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    """Geometric mean: every operation weighs the same whatever its cost,
    so a mix of cheap and costly operations gives a steady figure where
    the median would fall into the gap between two of them."""
    if not values:
        raise ValueError("geometric mean of no samples")
    if min(values) <= 0:
        raise ValueError("geometric mean of a non-positive sample")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it.

    Returns ``(value, percentile)``.  With n >= 20 samples that is the
    (n-10)-th smallest sample (nearest rank), i.e. the percentile
    ``100 * (n - 10) / n``.  Below 20 samples even the median has fewer
    than 10 samples beyond it, so no tail percentile is supported by the
    data; the median is returned and recorded as percentile 50."""
    if not values:
        raise ValueError("tail of no samples")
    n = len(values)
    if n < 20:
        return median(values), 50.0
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def error_rate(outcomes: list[bool]) -> tuple[int, int, float]:
    """``outcomes`` holds one entry per attempted operation, True when it
    failed (raised, or its output did not match the oracle).  Returns
    ``(attempted, failed, failed / attempted)``."""
    attempted = len(outcomes)
    if attempted == 0:
        raise ValueError("no operations attempted")
    failed = sum(1 for f in outcomes if f)
    return attempted, failed, failed / attempted


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def cpu_jiffies() -> list[int]:
    """/proc/stat's aggregate line: user nice system idle iowait irq
    softirq steal ([] where /proc/stat is unreadable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Host steal as a share of the non-idle CPU time between two
    :func:`cpu_jiffies` readings (None when unknown)."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy if busy > 0 else None


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds, user and system, spent by process ``root`` (default:
    this one) and every process below it: the JVM and its Python workers.
    Reaped children's time is included, so the sum never drops when a
    child exits.  Time the host steals from the VM is not in it."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mib(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB (0.0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (0 if it is missing)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass  # removed while walking (a stream's temp file)
    return total
