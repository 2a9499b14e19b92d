"""Process-tree accounting from ``/proc`` (Linux; psutil is not required).

The JVM that runs Spark is a child of the benchmark process and the Python
workers are children of the JVM's worker daemon, so the tree rooted at
the benchmark holds every process a pass uses.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime+cutime+cstime over ``root`` and every live descendant.

    The ``cutime``/``cstime`` terms count children that have already
    exited and been reaped, such as Python workers the JVM's daemon forked
    and collected.  A child that is still running is counted through its
    own utime/stime only, so nothing is counted twice."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in [root, *descendants(root)]:
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat; index 11-14 after the comm field
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of each live process's peak RSS (VmHWM) over the tree: an upper
    bound on the tree's peak resident memory."""
    root = os.getpid() if root is None else root
    return sum(_status_kb(p, "VmHWM") for p in [root, *descendants(root)]) / 1024


def python_worker_hwm_mb(root: int | None = None) -> float:
    """Largest VmHWM among live Python processes below the JVM (the
    worker daemon and the workers it forked)."""
    root = os.getpid() if root is None else root
    best = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            best = max(best, _status_kb(pid, "VmHWM"))
    return best / 1024
