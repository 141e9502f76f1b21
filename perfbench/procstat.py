"""Process-tree memory and CPU from ``/proc``: this Python process, the JVM
it launched and the JVM's Python workers."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.1  # PeakRss sampling interval


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are space-separated
    return [raw[raw.index("(") + 1:raw.rindex(")")]] + raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> parsed stat for ``root`` and all its descendants."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[2]), []).append(pid)  # st[2] is ppid
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def rss_mb(root: int) -> float:
    return sum(int(st[22]) for st in tree(root).values()) * _PAGE / 2**20  # st[22] is rss pages


def worker_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of the Python processes below the JVM:
    the daemon and its forked workers. Exited workers are not counted,
    so callers take deltas over spans in which workers are reused."""
    total = 0
    for pid, st in tree(root).items():
        if pid != root and st[0].startswith("python"):
            total += int(st[12]) + int(st[13])  # utime, stime
    return total / _TICK


class PeakRss:
    """Samples the summed RSS of a process tree on a background thread."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, rss_mb(self.root))
