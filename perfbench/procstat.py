"""Process-tree accounting from /proc: CPU seconds and peak resident
memory of this Python driver, the Spark JVM it launches and the Python
workers the JVM forks. Also the host annotations (load average, page
cache) printed next to the results."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree(root: int | None = None, exclude=()) -> list[int]:
    """This process and all its live descendants, but for the processes
    in ``exclude`` and theirs."""
    root = os.getpid() if root is None else root
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        seen.append(pid)
        stack.extend(_children(pid))
    return seen


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus cutime + cstime, the CPU of the
    children it has reaped: summed over a live tree, a worker that
    ended is counted exactly once, in its parent."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def cpu_seconds(pid: int) -> float:
    """CPU seconds of ``pid`` and of the children it has reaped."""
    return _cpu_ticks(pid) / _TICK


class TreeMeter:
    """CPU seconds and peak resident memory of the process tree, but for
    the processes in ``exclude`` (the benchmark's helper).

    Peak RSS is the sum of each process's high-water mark (VmHWM) as
    last read, so a worker that has ended still counts."""

    def __init__(self, exclude=()) -> None:
        self.exclude = frozenset(exclude)
        self._hwm_kb: dict[int, int] = {}

    def sample(self) -> float:
        """Returns the tree's cumulative CPU seconds so far."""
        ticks = 0
        for pid in tree(exclude=self.exclude):
            ticks += _cpu_ticks(pid)
            hwm = _vm_hwm_kb(pid)
            if hwm > self._hwm_kb.get(pid, 0):
                self._hwm_kb[pid] = hwm
        return ticks / _TICK

    def peak_rss_mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024.0

    def driver_peak_rss_mb(self) -> float:
        """The share of ``peak_rss_mb`` that is this Python process."""
        return self._hwm_kb.get(os.getpid(), 0) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_annotations() -> dict:
    """Load average and page-cache size, for reading a result, not for
    comparing runs."""
    out: dict = {"nproc": os.cpu_count()}
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        out["loadavg_1m"] = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith(("Cached:", "MemAvailable:")):
                    key = "page_cache_mb" if line.startswith("Cached") else "mem_available_mb"
                    out[key] = int(line.split()[1]) // 1024
    except OSError:
        pass
    return out
