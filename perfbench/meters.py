"""Process-tree meters for the engine: CPU seconds and resident memory.

The engine is the Spark JVM plus its descendants (the pandas-UDF Python
workers). CPU is read the way ``bench._jvm_cpu_s`` reads it: utime +
stime of every live process in the tree, plus the reaped-child time
(cutime + cstime) of the JVM, so workers that exited still count.
"""

from __future__ import annotations

import glob
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int, int, int]]:
    """pid -> (ppid, own cpu ticks, reaped-children ticks, rss pages,
    virtual size)."""
    procs = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue  # exited mid-scan
        pid = int(raw.split(" ", 1)[0])
        # fields after "comm)": 1=ppid 11=utime 12=stime 13=cutime
        # 14=cstime 20=vsize 21=rss
        f = raw.rsplit(")", 1)[1].split()
        procs[pid] = (
            int(f[1]),
            int(f[11]) + int(f[12]),
            int(f[13]) + int(f[14]),
            int(f[21]),
            int(f[20]),
        )
    return procs


def tree_pids(root: int, procs: dict | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    procs = _proc_table() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, row in procs.items():
        children.setdefault(row[0], []).append(pid)
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs:
            out.append(pid)
            frontier.extend(children.get(pid, ()))
    return out


class TreeMeter:
    """CPU and RSS of the process tree rooted at ``root`` (the JVM).

    ``start_sampling`` runs a daemon thread that records the tree's
    summed RSS every ``interval`` seconds; ``take_peak`` returns the
    peak since the previous call and starts a new window.
    """

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        procs = _proc_table()
        ticks = sum(procs[p][1] for p in tree_pids(self.root, procs))
        if self.root in procs:
            ticks += procs[self.root][2]
        return ticks / _TICK

    def rss_bytes(self) -> int:
        """Summed RSS of the tree. A child with its parent's exact size
        and RSS is a spawn child that has not exec'd yet (the JVM starts
        processes with vfork): it shares its parent's memory and would
        count it twice."""
        procs = _proc_table()
        return _PAGE * sum(
            procs[p][3] for p in tree_pids(self.root, procs)
            if p == self.root or procs[p][3:] != procs[procs[p][0]][3:]
        )

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            rss = self.rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)

    def start_sampling(self) -> None:
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def take_peak(self) -> int:
        rss = self.rss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
