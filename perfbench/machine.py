"""Host context recorded with every result: core count, load average,
how busy the cores were before the run, and the share of CPU time the
hypervisor stole while it ran."""

from __future__ import annotations

import os
import time


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _stat() -> list[int]:
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all cores, from /proc/stat."""
    fields = _stat()
    return fields[7], sum(fields)


def busy_pct(window_s: float = 0.25) -> float:
    """Share of all cores busy over a short window while this process
    sleeps: load from other processes. Unlike the load average it does
    not carry the decaying load of a run that just ended."""
    a = _stat()
    time.sleep(window_s)
    b = _stat()
    d = [y - x for x, y in zip(a, b)]
    total = sum(d)
    idle = d[3] + d[4] + d[7]  # idle, iowait, steal
    return 100.0 * (total - idle) / total if total else 0.0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def rss_peak_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
