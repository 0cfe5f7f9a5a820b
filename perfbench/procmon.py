"""Peak resident memory of a process tree, sampled from ``/proc``.

Used for the Spark driver JVM plus its Python workers: the JVM is the
root and the worker daemon and workers are its descendants.  Each
process counts its proportional set size (``Pss``): the Python workers
are forked from one daemon and share most of their pages with it, so
summing plain RSS would count those pages once per worker.
"""

from __future__ import annotations

import os
import threading


def _ppid_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    children = _ppid_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_bytes(pid)
        stack.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Context manager that samples ``tree_rss_bytes(root)`` on a thread."""

    def __init__(self, root: int, interval_s: float = 0.2) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
