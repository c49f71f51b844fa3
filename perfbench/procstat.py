"""CPU time and resident memory of a process tree, read from /proc, and
the means to end that tree.

A background thread samples the tree rooted at this process (the driver
Python, the JVM it launched and the JVM's Python workers) and keeps the
user + system CPU each process accrued since sampling began, and the
highest summed RSS seen.  CPU of a process that exits between two
samples is counted up to its last sample.

``adopt_orphans`` and ``stop_tree`` make sure no process of the tree
outlives this one: left alone, the JVM only notices that its Python
parent is gone after that parent has exited, and its Python workers
after the JVM has.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss bytes) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = text[text.rindex(")") + 2:].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK, int(fields[21]) * _PAGE


def tree_stats(root: int) -> dict[int, tuple[float, int]]:
    """pid → (cpu seconds, rss bytes) for ``root`` and its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def adopt_orphans() -> bool:
    """Make this process a child subreaper: a descendant whose parent
    exits is re-parented here, not to init, so ``stop_tree`` still
    finds it.  Returns False where the kernel does not offer it."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(36, 1, 0, 0, 0) == 0  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        return False


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace: float = 20.0) -> None:
    """End every descendant of this process and wait until each is gone:
    SIGTERM first, SIGKILL to whatever still runs after ``grace``
    seconds."""
    me = os.getpid()
    termed: set[int] = set()
    deadline = time.monotonic() + grace
    while True:
        _reap()
        kids = [pid for pid in tree_stats(me) if pid != me]
        if not kids:
            return
        late = time.monotonic() > deadline
        for pid in kids:
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)


class TreeSampler:
    """Samples this process tree every ``interval`` seconds between
    ``start()`` and ``stop()``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root = os.getpid()
        self._base: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        stats = tree_stats(self.root)
        for pid, (cpu, _) in stats.items():
            # a process first seen after start() began during the run
            self._base.setdefault(pid, 0.0)
            self._last[pid] = cpu
        self.peak_rss = max(self.peak_rss, sum(rss for _, rss in stats.values()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        stats = tree_stats(self.root)
        for pid, (cpu, _) in stats.items():
            self._base[pid] = cpu
            self._last[pid] = cpu
        self.peak_rss = sum(rss for _, rss in stats.values())
        self._thread.start()

    def stop(self) -> tuple[float, float]:
        """Stop sampling; returns (cpu seconds, peak RSS in MB)."""
        self._stop.set()
        self._thread.join()
        self._sample()
        cpu = sum(self._last[p] - self._base[p] for p in self._last)
        return cpu, self.peak_rss / 2**20
