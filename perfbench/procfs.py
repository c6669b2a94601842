"""Readings from /proc: process-tree CPU time, worker memory, steal.

The Spark JVM and the Python workers it forks are descendants of the
benchmark process; their CPU time is read from /proc, so it counts work
done and not time lost to VM steal.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # comm may hold spaces: the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of every live descendant of ``root``, plus
    what they collected from children that already exited."""
    total = 0
    for pid in descendants(root or os.getpid()):
        try:
            f = _stat_fields(pid)
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14
        # here because pid and comm were cut off
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def python_worker_peak_rss_mb(root: int | None = None) -> float:
    """Highest peak resident set (VmHWM) among the Python processes the
    JVM forked (the pyspark daemon and its workers)."""
    best = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd or b"java" in cmd.split(b"\0")[0]:
                continue
            best = max(best, _status_kb(pid, "VmHWM"))
        except (FileNotFoundError, ProcessLookupError):
            continue
    return best / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": os.cpu_count(), "ram_mb": mem_kb // 1024}
