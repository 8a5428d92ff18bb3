"""CPU time of this process and every process it started.

A run's engine is three kinds of process: this Python driver, the JVM
that ``get_spark`` launches as its child, and the Python workers the
JVM forks for UDFs. ``tree_cpu_s`` sums user and system time over all
of them, children already reaped included, from ``/proc``. The kernel
leaves time stolen by the hypervisor out of these counters, so the
figure moves far less with the load of a shared host than wall time
does.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, utime + stime + cutime + cstime in ticks)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:  # the process ended while the table was read
        return None
    # Fields after the command name, which may itself hold ") ".
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    all its descendants. Differences of two readings give the CPU time
    spent between them."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            got = _read_stat(name)
            if got is not None:
                children.setdefault(got[0], []).append(int(name))
                ticks[int(name)] = got[1]
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / _HZ


def steal_s() -> float:
    """Seconds of CPU time the hypervisor has taken from this machine,
    summed over its CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0

