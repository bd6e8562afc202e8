"""Peak resident memory of a whole process tree (Linux ``/proc``).

The benchmark's tree is the driver's Python, the JVM it launches and the
JVM's Python workers; the sampler sums the memory of the root and every
live descendant and keeps the maximum seen. Each process counts its
proportional set size (PSS): a page shared by several processes counts
once in total. Summing plain RSS would count the JVM twice whenever a
sample lands while it forks a helper process, and every forked Python
worker would count the pages it shares with its daemon again.
"""

from __future__ import annotations

import os
import threading

# sampling period of the background sampler
INTERVAL_S = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we listed
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass  # the process ended, or is a kernel thread
    return total


class PeakRss:
    """Background sampler of this process's tree: ``start()``, then
    ``stop()`` returns the peak tree RSS in bytes."""

    def __init__(self):
        self.root = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(INTERVAL_S):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak
