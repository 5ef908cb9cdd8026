"""The benchmark's own process tree: this process, the Spark JVM it starts
and the Python workers the JVM forks.

CPU time is read per process from ``/proc/<pid>/stat``, not from the
machine-wide ``/proc/stat``: on a shared host the machine's busy time also
holds other tenants' work, which has nothing to do with the program.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _parents() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (f := _stat_fields(int(entry))):
            children.setdefault(int(f[1]), []).append(int(entry))
    return children


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children = _parents()
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user plus system) spent so far by this process, its live
    descendants, and the children each of them has reaped. A worker that
    exits between two readings keeps its time: its parent's reaped-children
    total takes it over."""
    total = 0
    for pid in [os.getpid()] + descendants():
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime: fields 14-17 of the full line
            total += sum(int(x) for x in f[11:15])
    return total / _TICK
