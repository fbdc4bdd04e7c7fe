"""Process-tree CPU and memory from ``/proc`` (no psutil), plus a CPU litmus.

The tree is a root process and every live descendant. In local mode that
is the benchmark's Python driver, the JVM it launched, the JVM's Python
daemon and its workers. CPU is ``utime + stime + cutime + cstime`` per live
process: ``cutime``/``cstime`` hold the CPU of children that were already
reaped (exited Python workers, the JVM launcher), which are no longer in the
tree, so each CPU second is counted exactly once.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None


def parse_stat(text):
    """``/proc/<pid>/stat`` text -> (ppid, cpu clock ticks incl. reaped
    children). The command name may hold spaces and parentheses, so fields
    are split after its closing parenthesis."""
    fields = text[text.rindex(")") + 2:].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(fields[1])
    ticks = sum(int(v) for v in fields[11:15])
    return ppid, ticks


def parse_hwm_kb(status_text):
    """``VmHWM`` (peak resident set) in kB from ``/proc/<pid>/status``;
    0 for kernel threads and zombies, which have no such line."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def tree_pids(root, proc="/proc"):
    """``root`` and all of its live descendants."""
    children = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(os.path.join(proc, name, "stat"))
        if text is None:
            continue
        ppid, _ = parse_stat(text)
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root=None, proc="/proc"):
    """CPU seconds used so far by the process tree under ``root``."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in tree_pids(root, proc):
        text = _read(os.path.join(proc, str(pid), "stat"))
        if text is not None:
            ticks += parse_stat(text)[1]
    return ticks / _CLK_TCK


def peak_rss_by_pid_mb(root=None, proc="/proc"):
    """{pid: peak resident set in MB} for each live tree process."""
    root = os.getpid() if root is None else root
    out = {}
    for pid in tree_pids(root, proc):
        text = _read(os.path.join(proc, str(pid), "status"))
        if text is not None:
            out[pid] = parse_hwm_kb(text) / 1024.0
    return out


def steal_s(proc="/proc"):
    """CPU time the hypervisor ran other guests on this VM's CPUs since boot
    (the ``steal`` column of ``/proc/stat``); its growth over a run is
    capacity the run did not get."""
    with open(os.path.join(proc, "stat")) as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK


def cpu_litmus_s(rounds=3, n=1_000_000):
    """Best-of-``rounds`` wall time of a fixed pure-Python loop: a reading
    well above the usual value at a run's start or end marks a degraded
    window (CPU contention or throttling), independent of Spark."""
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best
