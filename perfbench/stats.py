"""Spark-free statistics for the benchmark: medians, tail percentiles
with their sample counts, the ``/proc/stat`` steal window, process-tree
CPU time and the failure ratio."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass

# percentiles worth reporting, highest first; one is reported only when
# at least MIN_BEYOND samples lie above it
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 50.0)
MIN_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def tail_percentile(values, min_beyond: int = MIN_BEYOND):
    """Highest of :data:`TAIL_PERCENTILES` with ``min_beyond`` samples
    above it: ``(percentile, value, n)``, or ``None`` when even the
    median has fewer than ``min_beyond`` samples above it."""
    vals = sorted(values)
    n = len(vals)
    for p in TAIL_PERCENTILES:
        # nearest rank: the k-th smallest sample has >= p% at or below it
        k = max(1, math.ceil(round(n * p / 100.0, 9)))
        if n and n - k >= min_beyond:
            return p, float(vals[k - 1]), n
    return None


def describe(values) -> dict:
    """Median, tail percentile (if any) and sample count of a timing."""
    vals = list(values)
    out = {"median": median(vals), "n": len(vals)}
    tail = tail_percentile(vals)
    if tail is not None:
        out["p"], out["p_value"] = tail[0], tail[1]
    return out


@dataclass(frozen=True)
class CpuTimes:
    """The aggregate ``cpu`` line of ``/proc/stat`` (jiffies)."""

    total: int
    steal: int

    @classmethod
    def parse(cls, proc_stat_text: str) -> "CpuTimes":
        for line in proc_stat_text.splitlines():
            fields = line.split()
            if fields and fields[0] == "cpu":
                # user nice system idle iowait irq softirq steal [guest
                # guest_nice]; guest time is already inside user/nice
                vals = [int(x) for x in fields[1:9]]
                vals += [0] * (8 - len(vals))
                return cls(total=sum(vals), steal=vals[7])
        raise ValueError("no aggregate cpu line in /proc/stat text")

    @classmethod
    def read(cls, path: str = "/proc/stat") -> "CpuTimes":
        with open(path) as fh:
            return cls.parse(fh.read())


def steal_pct(before: CpuTimes, after: CpuTimes) -> float:
    """Share of all CPU time over the window that the hypervisor stole."""
    d_total = after.total - before.total
    if d_total < 0 or after.steal < before.steal:
        raise ValueError("cpu counters went backwards")
    return 0.0 if d_total == 0 else 100.0 * (after.steal - before.steal) / d_total


def stat_fields(text: str) -> tuple[int, int]:
    """``(ppid, cpu_ticks)`` of a ``/proc/<pid>/stat`` line: the ticks are
    user + system time of the process and of its reaped children."""
    f = text.rsplit(")", 1)[1].split()  # the command name may hold spaces
    return int(f[1]), sum(int(x) for x in f[11:15])


def tree_cpu_ticks(stats: dict[int, tuple[int, int]], root: int) -> int:
    """CPU ticks of ``root`` and its live descendants; ``stats`` maps pid
    to :func:`stat_fields`. A descendant that exited and was reaped is
    already inside its parent's ticks."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += stats.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return total


def process_tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the driver JVM and its Python workers). Time the hypervisor stole
    is mostly not charged to a process."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stats[int(name)] = stat_fields(fh.read())
            except OSError:  # exited since the listing
                continue
    return tree_cpu_ticks(stats, os.getpid()) / os.sysconf("SC_CLK_TCK")


def failure_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed must lie in [0, attempted]")
    return failed / attempted
