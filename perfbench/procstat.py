"""CPU time and resident memory of this process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launched and the
Python workers the JVM forks.  CPU time of a child that exits is kept:
once reaped it moves into its parent's ``cutime``/``cstime``, which are
summed too.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    parent_of = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                parent_of[int(name)] = int(f[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of its Spark Python
    workers), user + system, including reaped children."""
    total = py = 0.0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after the name: utime=11 stime=12 cutime=13 cstime=14
        secs = sum(int(x) for x in f[11:15]) / _TICK
        total += secs
        if _is_python_worker(pid):
            py += secs
    return total, py


def tree_rss_bytes(pids: list[int]) -> int:
    rss = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return rss


class PeakRss:
    """Samples the tree's summed RSS on a thread while resumed and keeps
    the peak since the last ``resume``; the process list is refreshed
    every ``refresh`` samples."""

    def __init__(self, interval_s: float = 0.05, refresh: int = 10):
        self.interval_s = interval_s
        self.refresh = refresh
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, n = [], 0
        while not self._stop.is_set():
            if not self._on.wait(0.2):
                continue
            if n % self.refresh == 0:
                pids = tree_pids()
            n += 1
            rss = tree_rss_bytes(pids)
            with self._lock:
                if self._on.is_set():  # not a sample that straddled pause()
                    self.peak = max(self.peak, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(5)

    def resume(self) -> None:
        with self._lock:
            self.peak = 0
            self._on.set()

    def pause(self) -> int:
        """Stop sampling; returns the peak bytes since ``resume``."""
        last = tree_rss_bytes(tree_pids())
        with self._lock:
            self._on.clear()
            self.peak = max(self.peak, last)
            return self.peak


# Interference record, taken with the frozen bench's own probes.  It is
# recorded beside a run only; never used to drop, repeat or choose samples.

def membw_gbps() -> float:
    """Single-core DRAM read bandwidth (GB/s)."""
    import bench

    try:
        return bench._membw_gbps()
    finally:
        bench._MEMBW_BUF = None  # release the probe's 256 MB sweep buffer


def read_steal():
    """(steal ticks, total ticks) from /proc/stat, or None."""
    import bench

    return bench._read_steal()


def steal_pct(before, after) -> float | None:
    """Percent of CPU ticks stolen between two ``read_steal`` samples."""
    import bench

    return bench._steal_pct(before, after)
