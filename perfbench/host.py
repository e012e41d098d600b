"""Host diagnostics recorded with every run.

None of these is an end-to-end metric: they let a reader tell a slow
host (CPU steal, a slower fixed Spark probe) from a slower program.
"""

from __future__ import annotations

import os
import time

CALIB_ROWS = 40_000_000


def calib_ms(spark) -> float:
    """Wall time of a fixed 4-partition Spark probe."""
    t = time.perf_counter()
    spark.range(CALIB_ROWS, numPartitions=4).selectExpr("sum(hash(id) % 7)").collect()
    return (time.perf_counter() - t) * 1000.0


def cpu_ticks() -> tuple:
    """(total, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def steal_pct(before: tuple, after: tuple) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process and its live descendants
    (the driver JVM and its Python workers)."""
    kids = _children()
    todo, total = [os.getpid()], 0.0
    hz = os.sysconf("SC_CLK_TCK")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            total += (int(parts[11]) + int(parts[12])) / hz
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, ()))
    return total
