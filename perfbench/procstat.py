"""Process and machine counters read from ``/proc``.

In a virtual machine whose host is shared, wall time stretches whenever
the hypervisor runs another guest on this guest's virtual CPUs ("steal" in
``/proc/stat``). :class:`Interval` reports wall time with that share
removed, next to the CPU seconds the watched processes used.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may contain spaces; fields resume after ')'
        return f.read().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if int(_stat_fields(int(entry))[1]) == pid:
                    kids.append(int(entry))
            except (OSError, IndexError):
                pass
    return kids


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and their live children."""
    total = 0
    for pid in set(pids + [c for p in pids for c in _children(p)]):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12])  # utime, stime
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


@dataclass(frozen=True)
class Steal:
    """Machine-wide busy and stolen CPU ticks at one instant."""

    busy: int
    stolen: int

    @staticmethod
    def now() -> Steal:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal
        return Steal(v[0] + v[1] + v[2] + v[5] + v[6], v[7])

    def share_since(self, earlier: Steal) -> float:
        """Share of the CPU time wanted since ``earlier`` that the host took."""
        busy, stolen = self.busy - earlier.busy, self.stolen - earlier.stolen
        return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


@dataclass(frozen=True)
class Mark:
    """Wall clock, CPU seconds of the watched processes and machine steal
    at one instant; :meth:`since` turns two marks into an interval."""

    wall: float
    cpu: float
    steal: Steal

    @staticmethod
    def now(pids: list[int]) -> Mark:
        import time

        return Mark(time.perf_counter(), cpu_seconds(pids), Steal.now())

    def since(self, pids: list[int]) -> Interval:
        end = Mark.now(pids)
        return Interval(end.wall - self.wall, end.cpu - self.cpu, end.steal.share_since(self.steal))


@dataclass(frozen=True)
class Interval:
    wall: float
    cpu: float
    stolen: float

    @property
    def unstolen_wall(self) -> float:
        """Wall time less the host's share of it: the time the interval
        would have taken had no other guest run on our CPUs."""
        return self.wall * (1.0 - self.stolen)
