"""CPU time and RSS of this process and all its descendants, from /proc.

psutil is not available, so the tree is walked through
``/proc/<pid>/task/<tid>/children`` (or a full /proc scan when that file
is missing). The tree covers the driver Python, the JVM it launches and
the pyspark daemon with its forked workers.

CPU: Σ (utime + stime + cutime + cstime) over the live tree. A child
that exits and is reaped by a parent inside the tree moves its time into
that parent's cutime/cstime, so the sum only grows and the difference of
two readings is the CPU the tree spent between them.

RSS: Σ resident pages over the live tree, sampled by a background thread
that keeps the running peak.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_pids(root: int | None = None) -> list:
    root = root or os.getpid()
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0
    # fields after the ")" of the command name: utime is field 14
    fields = stat[stat.rindex(")") + 2:].split()
    return sum(int(v) for v in fields[11:15])


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_cpu_s() -> float:
    """Cumulative CPU seconds of the process tree, reaped children included."""
    return sum(_cpu_ticks(p) for p in tree_pids()) / _TICK


def tree_rss_bytes() -> int:
    return sum(_rss_bytes(p) for p in tree_pids())


class RssSampler:
    """Background thread sampling the tree's summed RSS every
    ``interval`` seconds; ``window()`` returns the peak since the last
    call and restarts it. ``busy_s`` is the time the thread spent
    sampling, so its own cost can be reported.

    Walking the tree lists every thread of the JVM, so the pid list is
    refreshed only every ``refresh`` seconds; between refreshes a sample
    reads one statm file per known process."""

    def __init__(self, interval: float = 0.1, refresh: float = 1.0):
        self.interval = interval
        self.refresh = refresh
        self.busy_s = 0.0
        self.samples = 0
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, walked = [], float("-inf")
        while not self._stop.is_set():
            t0 = time.perf_counter()
            if t0 - walked >= self.refresh:
                pids, walked = tree_pids(), t0
            rss = sum(_rss_bytes(p) for p in pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self.samples += 1
            self.busy_s += time.perf_counter() - t0
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def window(self) -> int:
        """Peak summed RSS (bytes) since the previous call."""
        now = tree_rss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, now), now
        return peak
