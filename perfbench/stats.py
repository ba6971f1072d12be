"""Summary statistics of one run's samples, and the host facts recorded
with every run (CPU count, load, CPU steal, memory of the process tree)."""

from __future__ import annotations

import os
import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# host facts
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal_s() -> float:
    """Cumulative CPU steal of the host, seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    # a child is listed under the thread that forked it, so read every
    # thread's list (the JVM forks Python workers from pool threads)
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def _tree(pid: int | None = None) -> list[int]:
    """A process and all its live descendants."""
    out, stack = [], [pid or os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by a process and all its
    live descendants. Time the hypervisor steals from the guest is not
    charged to a process, so this moves far less with CPU steal than a
    wall clock does."""
    ticks = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since the walk
        ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Summed peak resident memory (VmHWM) of a process and all its live
    descendants, MB — the driver Python, its JVM and the JVM's Python
    workers. Each process's kernel high-water mark is exact, so no
    sampling interval can miss a peak."""
    total_kb = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue  # exited since the walk
    return total_kb / 1024.0
