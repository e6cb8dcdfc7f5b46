"""Process-tree resource readings from ``/proc``.

The engine runs as three kinds of process: the Python process that owns the
SparkSession, the JVM it launches, and the Python UDF workers the JVM
forks. CPU time and memory are summed over that whole tree, so work that
moves between them still shows.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(entry)
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU-seconds used so far by the tree.

    A process's ``cutime``/``cstime`` hold the time of children it has
    reaped, so summing user+system+children over the live tree counts each
    ended worker once, in the process that waited for it.
    """
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(str(pid))
        if fields is not None:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK


class PeakRss:
    """Samples the tree's resident memory on a daemon thread; ``peak`` is
    the highest sum seen. Use as a context manager so the thread stops."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
