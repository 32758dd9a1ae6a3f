"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's own process is the root: the Spark JVM is its child and the
PySpark worker daemons are the JVM's children, so the tree covers the
Python process that plans the jobs, the JVM and the Python workers. CPU counts each process's own and
reaped children's user+system time, so a worker that exits inside a job
still counts.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """`root` and all its descendants alive now."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds(pids: list[int]) -> float:
    """Summed utime+stime+cutime+cstime of `pids`."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every 20 ms on a thread until stopped;
    `peak` is the largest sum seen. The tree is rescanned every tenth
    sample, so workers forked mid-job are picked up."""

    INTERVAL = 0.02
    RESCAN = 10

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n = 0
        pids = tree(self.root)
        while True:
            if n % self.RESCAN == 0:
                pids = tree(self.root)
            self.peak = max(self.peak, rss_bytes(pids))
            n += 1
            if self._stop.wait(self.INTERVAL):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(tree(self.root)))
