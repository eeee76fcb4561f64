"""Statistics the benchmark reports, and process-tree CPU time."""

from __future__ import annotations

import os
import statistics
import time


def pass_seconds(latencies: dict[str, list[float]]) -> float:
    """Sum over op types of that type's median latency: the waiting
    time of one pass of typical operations."""
    return sum(statistics.median(v) for v in latencies.values())


def p90_excess(latencies: dict[str, list[float]]) -> float:
    """90th percentile of each op's latency above its type's median,
    pooled over every op type (nearest-rank)."""
    excess = sorted(
        x - statistics.median(v) for v in latencies.values() for x in v
    )
    return excess[min(len(excess) - 1, int(0.9 * len(excess)))]


def spin_seconds(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop: a probe of host speed,
    recorded beside the timings to tell a slow host from a slow
    program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i & 7
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
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


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` and every live descendant, plus
    what their already-reaped children used."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
