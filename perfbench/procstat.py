"""Readings from ``/proc``: the machine's CPU time counters, the process
tree and process memory.

On a shared virtual machine the hypervisor runs other tenants on the
cores this machine's CPUs stand on, and a CPU that wants to run but is not
given a core accrues *steal* time. A timed interval's steal share is the
share of the CPU time the machine wanted during it (busy plus steal) that
the hypervisor took; ``Stopwatch`` reports it with the wall time, so a
call's time can be given with the stolen part taken out.
"""

from __future__ import annotations

import os
import time

TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The machine's summed CPU counters (``/proc/stat``, in ticks):
    user, nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _delta(before: list[int], after: list[int]) -> tuple[int, int, int]:
    """Busy, steal and total ticks between two readings; guest time is
    already in user."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy, d[7], sum(d[:8])


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time wanted between two readings (busy plus
    steal) that the hypervisor took."""
    busy, steal, _total = _delta(before, after)
    return steal / (busy + steal) if busy + steal else 0.0


def steal_pct(before: list[int], after: list[int]) -> float:
    """Steal as a percentage of all CPU time, idle included, between two
    readings: the stamp that shows a run disturbed by other tenants."""
    _busy, steal, total = _delta(before, after)
    return 100.0 * steal / total if total else 0.0


def busy_s(before: list[int], after: list[int]) -> float:
    """CPU seconds the machine spent busy between two readings; neither
    idle, iowait nor steal counts."""
    return _delta(before, after)[0] / TICK


class Stopwatch:
    """Times one interval: its wall seconds and its steal share."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.c0 = cpu_times()

    def stop(self) -> tuple[float, float]:
        t1, c1 = time.perf_counter(), cpu_times()
        return t1 - self.t0, steal_share(self.c0, c1)


def children_map() -> dict[int, list[int]]:
    """``{ppid: [pid, ...]}`` of every process in ``/proc``."""
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    children = children_map()
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def status_mb(pid: int, key: str) -> float:
    """A memory line of ``/proc/<pid>/status`` (``VmHWM:``...) in MB, 0 if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
