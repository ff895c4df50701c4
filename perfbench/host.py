"""Host-side clocks of the benchmark: CPU seconds of the process tree
under test, CPU time the hypervisor took from this machine (steal), and
a fixed single-thread CPU loop that shows a slow host window."""

from __future__ import annotations

import os
import time


def cpu_probe() -> float:
    """Best of three timings of a fixed single-thread loop: a slow host
    window shows as a larger value before or after the run."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t)
    return best


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of the process and of its reaped
    children) of every process on the machine."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return stats


def _descendants(stats) -> list[int]:
    me, out = os.getpid(), []
    todo = [p for p, st in stats.items() if st[0] == me]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(p for p, st in stats.items() if st[0] == pid)
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants
    (the Spark JVM, its launcher and its Python workers), reaped ones
    included. Unlike wall time it leaves out the time the hypervisor
    takes the machine's CPUs away (steal)."""
    stats = _proc_stats()
    own = os.times()
    ticks = sum(stats[p][1] for p in _descendants(stats))
    return time.process_time() + own.children_user + own.children_system + ticks / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor took from this machine's CPUs so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK
