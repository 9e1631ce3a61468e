"""CPU time and peak memory of a process tree, read from ``/proc``.

The tree is a benchmark process, the JVM it starts and the JVM's Python
workers. Each process's ``/proc/<pid>/stat`` holds its own CPU time and that
of its children it has waited for, so summing over the live tree also
counts Python workers that already exited.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # the process ended while the tree was being read
        return None
    # fields after the parenthesised command name, which may hold spaces
    return data[data.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    found, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        found += frontier
    return found


def tree_cpu_s(root: int) -> float:
    """User + system seconds of the tree, waited-for children included."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat(5)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Largest peak resident set (VmHWM) of any process in the tree."""
    peak_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024
