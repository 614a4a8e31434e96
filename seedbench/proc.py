"""Process-tree CPU and peak RSS from ``/proc``, read between operations.

The tree is this Python driver, the JVM it launched, and the Python
workers the JVM forks. Reads happen on the caller's thread at operation
boundaries; peak RSS comes from each process's own high-water mark
(``VmHWM``), so no sampling thread is needed to catch it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def descendants() -> list[int]:
    return _tree(os.getpid())[1:]


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return "jvm" if fh.read().strip() == "java" else "pyworkers"
    except OSError:
        return "pyworkers"


def snapshot(root: int | None = None) -> dict[str, float]:
    """CPU seconds per role (driver, jvm, pyworkers) and the summed peak RSS
    in MB of every live process in the tree.

    A forked worker's CPU stays visible after it exits through its
    parent's ``cutime``/``cstime``; this process's own children are counted
    live instead, so its ``cutime`` is left out.
    """
    root = root or os.getpid()
    cpu = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0}
    hwm_kb = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        ticks = int(f[11]) + int(f[12])  # utime, stime
        if pid != root:
            ticks += int(f[13]) + int(f[14])  # reaped children
        cpu[_role(pid, root)] += ticks / _TICK
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                hwm_kb += int(line.split()[1])
    return {**cpu, "peak_rss_mb": hwm_kb / 1024.0}


def delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after[k] - before[k] for k in ("driver", "jvm", "pyworkers")}
