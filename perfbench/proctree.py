"""CPU time of a whole process tree, and memory in use, from /proc.

A PySpark driver starts the JVM as a child process, and the JVM forks
the Python worker daemon and its workers, so the driver's own rusage
misses most of the work: :func:`cpu_s` walks every descendant of a
root pid instead. Memory is read machine-wide (:func:`used_mb`),
because the forked Python workers share most of their pages with the
daemon, and summing their resident sizes counts those pages again for
every worker.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, counting exited
    children that a live member of the tree has reaped."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def used_mb() -> float:
    """Memory in use on the whole machine (MemTotal - MemAvailable), in
    MB. Pages shared between processes count once."""
    info = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":")
            info[key] = int(value.split()[0])
    return (info["MemTotal"] - info["MemAvailable"]) / 1e3
