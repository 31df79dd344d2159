"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process and every descendant: the JVM that
PySpark launches and the Python workers under it. Stdlib only.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` from field 3 (state) on; the
    command name before them may itself contain spaces."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of every live process in the tree, plus what
    each has collected from children it reaped."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            fields = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICKS


def rss_mb(root: int) -> float:
    """Resident memory of the tree now: the sum of each live process's
    ``VmRSS``."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds between
    ``start()`` and ``stop()`` and keeps the largest sample."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_mb(self.root))
            if self._done.wait(self.interval):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._done.set()
        self._thread.join()
        self.peak = max(self.peak, rss_mb(self.root))
        return self.peak
