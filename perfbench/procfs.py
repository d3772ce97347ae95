"""Process-tree CPU and memory from ``/proc``, host steal time, and a
fixed pure-Python host-speed probe.

The process tree is this interpreter plus every descendant: the Spark
JVM, the Python worker daemon and its forked workers.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def read_stat(pid: int, proc: str = "/proc") -> tuple[int, float]:
    """``(ppid, cpu_s)`` of one process, where cpu_s counts its user and
    system time plus that of its children it has reaped."""
    with open(f"{proc}/{pid}/stat") as f:
        data = f.read()
    # the command name may hold spaces and parentheses: split after the
    # last ')'
    fields = data[data.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _CLK_TCK


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            ppid, _ = read_stat(int(name), proc)
        except (OSError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def is_running(pid: int, proc: str = "/proc") -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return False
    return data[data.rindex(")") + 2] != "Z"


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds used so far by the process tree under ``root``.  A
    child that exited is counted through its parent's reaped-children
    time, so the sum only grows."""
    total = 0.0
    for pid in tree_pids(root or os.getpid(), proc):
        try:
            total += read_stat(pid, proc)[1]
        except (OSError, ValueError):
            continue
    return total


def _status_kb(pid: int, key: str, proc: str) -> int:
    with open(f"{proc}/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def tree_peak_rss_mb(root: int | None = None, proc: str = "/proc") -> float:
    """Sum over the live process tree of each process's peak resident
    set (``VmHWM``), in MiB."""
    kb = 0
    for pid in tree_pids(root or os.getpid(), proc):
        try:
            kb += _status_kb(pid, "VmHWM", proc)
        except (OSError, ValueError):
            continue
    return kb / 1024.0


def steal_s(proc: str = "/proc") -> float:
    """Host-wide steal time so far: time the hypervisor ran something
    else while a virtual CPU of this machine was ready to run."""
    with open(f"{proc}/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _CLK_TCK


def host_probe_s(n: int = 1_000_000) -> float:
    """Wall seconds of a fixed single-threaded pure-Python loop; a slow
    host window shows as a larger value."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0
