"""CPU time and resident memory of this process and all its
descendants (the Spark JVM and its reused Python workers), read from
``/proc``.  CPU is utime + stime + cutime + cstime, so workers that
exited and were reaped inside the tree still count."""

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
    # comm may contain spaces/parens: split after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` plus every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime (stat(5) 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's total RSS on a background thread; ``peak`` is
    the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak
