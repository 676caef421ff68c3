"""Resident memory of a process tree, sampled from /proc."""

from __future__ import annotations

import os
import threading

INTERVAL_S = 0.1


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakSampler:
    """Samples the RSS of this process and its descendants (the JVM and the
    Python workers) every ``INTERVAL_S`` seconds; ``take()`` returns the peak
    since the previous ``take()``."""

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(INTERVAL_S)

    def take(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, tree_rss_bytes(os.getpid())
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
