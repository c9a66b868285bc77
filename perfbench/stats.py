"""Percentiles, tail-sample rules, process memory and CPU time."""

from __future__ import annotations

import math
import os

TAIL_LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10  # a percentile is reported only with this many samples beyond it


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the ``p`` percentile of ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest percentile on ``TAIL_LADDER`` with at least ``MIN_BEYOND``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def descendants(pid: int) -> list[int]:
    """``pid`` and every live or unreaped process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_peak_mb() -> float:
    """Peak resident memory (VmHWM) of this process and every process
    it started (the JVM behind the Spark session), in MiB."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    process it started, including their reaped children. Time the
    hypervisor steals from the machine is not in it."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from
    ``/proc/stat``; steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])
