"""`/proc` sampler for the Spark process tree (psutil is not available).

The tree is the driver JVM plus everything it started: the `pyspark.daemon`
and the Python workers it forks. CPU is read from `/proc/<pid>/stat`
(utime + stime, plus cutime + cstime so that workers already reaped by their
parent still count); memory peaks from `VmHWM` in `/proc/<pid>/status`.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) or None if the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    fields = raw[raw.rindex(b")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeSampler:
    """Samples the process tree rooted at ``root_pid``. ``cost_s`` is the
    wall time spent inside the sampler itself, so its overhead is stated."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.cost_s = 0.0
        self.samples = 0

    def _tree(self) -> dict[int, tuple[int, float]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = {}, [self.root_pid]
        while todo:
            pid = todo.pop()
            if pid in procs:
                tree[pid] = procs[pid]
                todo.extend(children.get(pid, ()))
        return tree

    def cpu_s(self) -> float:
        """Total CPU seconds of the tree so far."""
        t0 = time.perf_counter()
        total = sum(cpu for _, cpu in self._tree().values())
        self.cost_s += time.perf_counter() - t0
        self.samples += 1
        return total

    def python_pids(self) -> list[int]:
        return [
            pid for pid in self._tree()
            if pid != self.root_pid and b"python" in _cmdline(pid)
        ]

    def worker_hwm_mb(self) -> float:
        """Largest resident-set peak (VmHWM) among the tree's Python
        processes, in MB."""
        t0 = time.perf_counter()
        peak = max((_vm_hwm_kb(p) for p in self.python_pids()), default=0)
        self.cost_s += time.perf_counter() - t0
        self.samples += 1
        return peak / 1024.0
