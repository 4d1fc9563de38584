"""Process-tree CPU, peak memory and machine contention, read from /proc.

The tree is this process and every descendant: the Spark driver JVM and
its Python workers. ``Sample`` pairs the tree's CPU jiffies with the
machine's busy jiffies, so the difference between two samples gives the
CPU the benchmark used and the CPU other tenants used meanwhile.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_HZ = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _proc_jiffies(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[11..14] = utime, stime, cutime, cstime
    return sum(int(x) for x in fields[11:15])


def _machine_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies over all CPUs of the machine. Busy
    includes steal: time the hypervisor gave the CPUs to other guests."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    total = sum(vals[:8])
    return total - idle, vals[7], total


@dataclass
class Sample:
    wall: float
    tree: int
    busy: int
    steal: int
    total: int

    @classmethod
    def take(cls) -> "Sample":
        busy, steal, total = _machine_jiffies()
        tree = sum(_proc_jiffies(p) for p in tree_pids())
        return cls(time.perf_counter(), tree, busy, steal, total)


def cpu_seconds(a: Sample, b: Sample) -> float:
    return (b.tree - a.tree) / _HZ


def contention(a: Sample, b: Sample) -> dict:
    """Share of the machine's CPU that other tenants used between a and b,
    in percent, with the load average at b."""
    total = max(b.total - a.total, 1)
    foreign = max((b.busy - a.busy) - (b.tree - a.tree), 0)
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    return {
        "foreign_pct": round(100.0 * foreign / total, 3),
        "steal_pct": round(100.0 * (b.steal - a.steal) / total, 3),
        "machine_busy_pct": round(100.0 * (b.busy - a.busy) / total, 3),
        "loadavg": [load1, load5, load15],
        "machine_cpus": os.cpu_count(),
    }


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the process tree, in MB."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
