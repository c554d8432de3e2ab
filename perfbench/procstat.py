"""CPU time and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2 ** 20


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return s[s.rfind(")") + 2:].split()


def tree_stats(root: int | None = None) -> tuple[float, float]:
    """(cpu_s, rss_mb) summed over ``root`` and its live descendants.
    CPU includes reaped children (cutime/cstime), so exited Python
    workers still count once their parent has waited for them."""
    root = os.getpid() if root is None else root
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat(name)
        if f is None:
            continue
        pid = int(name)
        stats[pid] = f
        children.setdefault(int(f[1]), []).append(pid)
    cpu = rss = 0.0
    todo = [root]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f is None:
            continue
        # utime stime cutime cstime are fields 14-17 (1-based), rss is 24
        cpu += sum(int(x) for x in f[11:15]) / _TICK
        rss += int(f[21]) * _PAGE_MB
        todo += children.get(pid, [])
    return cpu, rss


class PeakRss:
    """Background sampler of the tree's summed RSS; ``reset`` starts a
    new window and returns the previous window's peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self._peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self):
        while not self._stop.wait(self.interval_s):
            self._peak = max(self._peak, tree_stats()[1])

    def reset(self) -> float:
        peak = max(self._peak, tree_stats()[1])
        self._peak = 0.0
        return peak
