"""CPU time and resident memory of a process tree, read from /proc.

The extraction job runs in the Spark JVM, which the PySpark driver starts
as its child; the JVM in turn starts the pyspark daemon, which forks the
Python workers. Summing over the descendants of the driver process covers
all three. CPU time is utime + stime of every live process plus cutime +
cstime (the CPU time of children the process has already reaped), so a
worker that exits mid-run is still counted, once, in its parent. Memory
is the sum of the processes' resident set sizes.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[int, int, int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages, vsize, start
    time), or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses: fields start after the last ')'
    fields = data[data.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    ticks = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
    return ppid, ticks, int(fields[21]), int(fields[20]), int(fields[19])


def _all_stats() -> dict[int, tuple[int, int, int, int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


class ProcessTree:
    """The descendants of the process that creates it."""

    def __init__(self):
        self.root = os.getpid()

    def _members(self, stats: dict) -> list[int]:
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_) in stats.items():
            children.setdefault(ppid, []).append(pid)
        todo = list(children.get(self.root, []))
        out: list[int] = []
        while todo:
            pid = todo.pop()
            if pid in stats and pid not in out:
                out.append(pid)
                todo.extend(children.get(pid, []))
        return out

    def sample(self) -> tuple[float, int]:
        """(cpu seconds, rss bytes) summed over the tree right now."""
        stats = _all_stats()
        ticks = pages = 0
        for pid in self._members(stats):
            ppid, t, rss, vsize, _ = stats[pid]
            ticks += t
            # A child between vfork and exec (the JVM spawning a helper)
            # runs in its parent's address space: count that memory once.
            if stats.get(ppid, (0, 0, -1, -1, 0))[2:4] != (rss, vsize):
                pages += rss
        return ticks / _CLK, pages * _PAGE

    def processes(self) -> set[tuple[int, int]]:
        """(pid, start time) of every process in the tree."""
        stats = _all_stats()
        return {(pid, stats[pid][4]) for pid in self._members(stats)}


def wait_gone(procs: set[tuple[int, int]], timeout_s: float) -> None:
    """Wait until none of `procs` (from `processes()`) is alive; kill the
    ones still alive after `timeout_s` and wait for those too."""

    def alive():
        out = []
        for pid, start in procs:
            st = _read_stat(pid)
            if st is not None and st[4] == start:
                out.append(pid)
        return out

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)


class PeakRss:
    """Background sampler of the tree's summed RSS every 50 ms; `peak()`
    returns the maximum seen since the last `reset()`."""

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            _, rss = self.tree.sample()
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(0.05)

    def reset(self) -> None:
        _, rss = self.tree.sample()
        with self._lock:
            self._peak = rss

    def peak(self) -> int:
        _, rss = self.tree.sample()
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


def burn_cpu(seconds: float) -> None:
    """Spin on the CPU until this process has used `seconds` of CPU time."""
    end = time.process_time() + seconds
    x = 0
    while time.process_time() < end:
        x += 1
