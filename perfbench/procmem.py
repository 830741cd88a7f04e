"""Peak resident memory of a process tree, sampled from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _statm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:  # the process exited
        return None


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all of its descendants.

    A child whose virtual size equals its parent's is taken to share the
    parent's address space (a vfork-style spawn that has not exec'ed yet,
    or a fork that has not diverged) and is not counted again: counting it
    would double the JVM for the instant a helper process is spawned.
    """
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [(root_pid, None)]
    while todo:
        pid, parent_size = todo.pop()
        statm = _statm(pid)
        if statm is None:
            continue
        size, resident = statm.split()[:2]
        if size != parent_size:
            total += int(resident) * _PAGE
        todo.extend((child, size) for child in children.get(pid, ()))
    return total


class PeakRss:
    """Background sampler of the tree RSS; use as a context manager."""

    def __init__(self, pid: int | None = None, interval: float = 0.1):
        self.pid = pid or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.pid))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
