"""Resource use of the engine's processes, read from ``/proc``: the
benchmark's driver process itself and the JVM it launched, with the
Python workers the JVM forks.  The helper process (``helper.py``) is a
child of the driver too, and is left out."""

from __future__ import annotations

import os
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _ppid(int(d))
            if ppid is not None:
                children[ppid].append(int(d))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += children.get(pid, [])
    return pids


def children(pid: int) -> list[int]:
    """The direct children of ``pid``."""
    return [int(d) for d in os.listdir("/proc") if d.isdigit() and _ppid(int(d)) == pid]


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def engine_pids(jvm_pid: int | None) -> list[int]:
    """This process (not its other children) plus the JVM's process tree."""
    return [os.getpid()] + (_tree(jvm_pid) if jvm_pid else [])


def cpu_snapshot(pids: list[int]) -> dict:
    """CPU seconds (user + system) consumed so far by each thread of
    ``pids``, keyed ``(pid, tid, is_jit)``, and by the reaped children of
    each process, keyed ``(pid, None, False)``.  ``is_jit`` marks the
    JVM's C1/C2 JIT compiler threads."""
    snap = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        snap[(pid, None, False)] = sum(int(x) for x in fields[13:15]) / _TICK  # cutime cstime
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            key = (pid, tid, "CompilerThre" in head)
            snap[key] = sum(int(x) for x in rest.split()[11:13]) / _TICK  # utime stime
    return snap


def cpu_between(before: dict, after: dict) -> tuple[float, float]:
    """(CPU seconds without the JIT compiler threads, their CPU seconds)
    between two snapshots, summed over the threads alive at the second.
    Summing threads rather than taking process totals leaves out the
    compiler threads the JVM starts and stops on demand, whose CPU would
    otherwise land in the first figure; it also leaves out any other
    thread that ends between the snapshots."""
    work = jit = 0.0
    for key, v in after.items():
        d = v - before.get(key, 0.0)
        if key[2]:
            jit += d
        else:
            work += d
    return work, jit


def peak_rss_mb(pids: list[int]) -> float:
    """Peak resident memory (VmHWM) summed over ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def reset_peak(pids: list[int]) -> None:
    """Lower each process's VmHWM to its current resident size."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue
