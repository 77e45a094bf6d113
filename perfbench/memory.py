"""Peak memory and CPU time of this process and all its descendants (the
driver Python, the JVM it launches and Spark's Python workers), read from
/proc. Memory is sampled by a background thread that only sleeps and reads
files, so it stays off the timed path.

The measure is PSS (proportional set size): resident pages, with each
shared page split among the processes that map it. Spark forks its Python
workers from one daemon, so summing RSS would count the pages they share
once per worker and jump with the number of idle workers alive."""

from __future__ import annotations

import os
import threading


def _children(pid: int) -> list:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def descendants(root: int) -> list:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.append(pid)
            todo.extend(_children(pid))
    return out


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, plus the children they have reaped. The kernel leaves time
    a virtual CPU spent waiting for its host (steal) out of these counters,
    so the figure does not move with co-tenant load the way wall time does."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])   # utime stime cutime cstime
    return total / _TICKS


class PeakPSS:
    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-pss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakPSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
