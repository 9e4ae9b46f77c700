"""What the benchmark reads from /proc: the memory and CPU time of a
process session, the host's steal time, load average and memory."""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def session_stats(sid: int) -> dict[int, tuple[int, float]]:
    """pid -> (resident bytes, CPU seconds incl. reaped children) of
    every process in session ``sid``."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        # fields[0] is the state: [3] session, [11:15] CPU ticks, [21] RSS pages
        if int(fields[3]) == sid:
            cpu = sum(int(x) for x in fields[11:15]) / TICK
            out[int(d)] = (int(fields[21]) * PAGE, cpu)
    return out


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0
