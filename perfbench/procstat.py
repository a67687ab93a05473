"""Process-tree CPU and memory, and host load, from /proc.

The Spark JVM is a child of the benchmark process and the Python UDF
workers are children of the JVM, so summing over the descendants of this
process covers the whole engine."""

from __future__ import annotations

import os

_CLK = float(os.sysconf("SC_CLK_TCK"))


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(") ", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    out = []
    for pid in parent:
        p = pid
        while p > 1:
            if p == root:
                out.append(pid)
                break
            p = parent.get(p, 1)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) of every
    process in the tree rooted at `root` (default: this process)."""
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(") ", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_peak_rss(root: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of each live process in the tree,
    keyed "name:pid". The engine's processes live for the whole run (the
    JVM, the worker daemon and its reused workers), so their sum bounds the
    tree's peak from above without sampling."""
    out = {}
    for pid in _tree_pids(root or os.getpid()):
        name, kb = "?", 0
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        break
        except OSError:
            continue
        out[f"{name}:{pid}"] = kb / 1024.0
    return out


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two cpu_ticks()."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0
