"""Percentiles and host-noise readings."""

from __future__ import annotations

import math
import os
import time


def percentile(values, q: float) -> float:
    """The q-th percentile (0-100) with linear interpolation between order
    statistics (NumPy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_fraction(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def load_average_1m() -> float:
    return os.getloadavg()[0]


# HotSpot's JIT compiler threads, as /proc shows their names (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name."""
    with open(path) as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2 :].split()


def _proc_stats() -> dict[int, tuple[int, list[str]]]:
    """pid → (parent pid, stat fields) for every process in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            fields = _stat_fields(f"/proc/{name}/stat")
        except OSError:  # the process ended while we listed /proc
            continue
        out[int(name)] = (int(fields[1]), fields)
    return out


def tree_pids(procs: dict[int, tuple[int, list[str]]], root: int) -> list[int]:
    """`root` and every pid below it, from `_proc_stats()`."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _process_cpu(pid: int, fields: list[str]) -> float:
    """CPU seconds of a process and of its reaped children. /proc counts in
    10 ms ticks; the process's own CPU clock counts in nanoseconds, which
    matters for a 0.1 s lookup, so it is read where the kernel allows."""
    tick = os.sysconf("SC_CLK_TCK")
    try:
        own = time.clock_gettime((~pid << 3) | 2)  # the process's CPUCLOCK_SCHED
    except OSError:
        own = (int(fields[11]) + int(fields[12])) / tick  # utime + stime
    return own + (int(fields[13]) + int(fields[14])) / tick  # + cutime + cstime


class TreeCpu:
    """CPU seconds used so far by this process and every process below it
    (the driver, the JVM and the Python workers), and the part of them the
    JVM's JIT compiler threads used.

    A JIT thread's time is its last reading: HotSpot stops idle compiler
    threads, and a stopped thread's time stays in its process's total."""

    def __init__(self):
        self._names: dict[tuple[int, str], str] = {}  # (pid, tid) → thread name
        self._jit: dict[tuple[int, str], float] = {}  # (pid, tid) → CPU seconds

    def read(self) -> tuple[float, float]:
        """(CPU seconds of the tree, of which JIT compiler threads)."""
        procs = _proc_stats()
        total = 0.0
        for pid in tree_pids(procs, os.getpid()):
            total += _process_cpu(pid, procs[pid][1])
            self._read_jit(pid)
        return total, sum(self._jit.values())

    def _read_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        tick = os.sysconf("SC_CLK_TCK")
        for tid in tids:
            key = (pid, tid)
            try:
                if key not in self._names:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        self._names[key] = f.read().strip()
                if self._names[key].startswith(JIT_THREADS):
                    fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                    self._jit[key] = (int(fields[11]) + int(fields[12])) / tick
            except OSError:  # the thread ended while we listed it
                continue
