"""Host-noise evidence recorded beside every run.

Nothing here gates, drops, rescales or repeats a run: the numbers only let
a reader tell a noisy window from a change in the program.
"""

from __future__ import annotations

import os


def cpu_jiffies() -> tuple[int, int] | None:
    """(total, steal) jiffies summed over all CPUs, from ``/proc/stat``."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    ticks = [int(x) for x in fields[1:]]
    steal = ticks[7] if len(ticks) > 7 else 0
    return sum(ticks), steal


def steal_frac(before: tuple[int, int] | None, after: tuple[int, int] | None) -> float:
    """Share of CPU time the hypervisor stole between two samples."""
    if before is None or after is None or after[0] <= before[0]:
        return 0.0
    return (after[1] - before[1]) / (after[0] - before[0])


def load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of process ``pid`` in MiB (``VmHWM``)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
