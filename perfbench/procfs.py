"""CPU and memory of a process tree, read from ``/proc``.

The tree is the benchmark's measuring process (the Spark driver's
Python), the JVM it launched, and the JVM's Python workers. A live
process's ``cutime``/``cstime`` already hold the CPU of every child it
has reaped, so summing all four fields over the live tree counts each
CPU second once, including short-lived Python workers.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(comm, ppid, utime+stime+cutime+cstime ticks), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces or parentheses; the last ')' ends it
    head, _, tail = raw.rpartition(")")
    fields = tail.split()
    return (head.partition("(")[2], int(fields[1]),
            sum(int(f) for f in fields[11:15]))


def _tree(root: int) -> dict[int, tuple[str, int, int]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    members, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in members:
            members[pid] = stats[pid]
            frontier += [p for p, st in stats.items() if st[1] == pid]
    return members


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the tree under ``root`` (default: this process),
    split into ``driver`` (the root), ``jvm`` (``java`` processes) and
    ``pyworker`` (everything else, i.e. the JVM's Python workers)."""
    root = os.getpid() if root is None else root
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (comm, _ppid, ticks) in _tree(root).items():
        kind = ("driver" if pid == root
                else "jvm" if comm == "java" else "pyworker")
        out[kind] += ticks / _TICK
    return out


def tree_peak_rss_bytes(root: int | None = None) -> int:
    """Sum of each live tree member's peak resident set (``VmHWM``)."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of the host since boot; their deltas
    over a phase give the share of CPU time the hypervisor took away."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    return sum(fields), fields[7]
