"""Resource use of a process tree, read from ``/proc``.

``getrusage(RUSAGE_CHILDREN)`` only sees reaped children, so it misses
the JVM that pyspark launches and its Python workers while they run.
Here every live descendant of a root pid is read directly.  Memory is
the tree's summed PSS (proportional set size): the JVM forks to launch
Python workers, and for that instant the fork shows the JVM's whole RSS
again, so summing RSS would count those shared pages twice.  CPU is
each process's user+sys time plus the user+sys time of the children it
has already reaped.
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
    # comm may hold spaces and parentheses: fields resume after the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def tree(root: int) -> dict[int, list[str]]:
    """``{pid: stat fields}`` for ``root`` and all its live descendants."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def pss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended while the tree was read
            pass
    return total


def cpu_seconds(root: int) -> float:
    # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
    return sum(sum(int(x) for x in st[11:15]) for st in tree(root).values()) / _TICK


def group_alive(pgid: int) -> bool:
    """True while any process of process group ``pgid`` exists."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[2]) == pgid:
                return True
    return False
