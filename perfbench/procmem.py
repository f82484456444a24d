"""Process-tree memory and lifetime helpers built on ``/proc`` alone.

The benchmark's driver process starts the Spark JVM, which starts the
Python worker daemon and its workers. ``PeakRss`` samples the summed
resident set of that whole tree from a background thread, so the figure
covers the driver, the JVM and the workers together.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def children(pid: int) -> list[int]:
    """Direct children of ``pid`` (every thread's ``children`` list)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    out: list[int] = []
    todo = children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(pid: int) -> int:
    return rss_kb(pid) + sum(rss_kb(p) for p in descendants(pid))


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """User plus system CPU of ``pid`` and of its waited-for children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    # fields after the parenthesised command: utime is the 12th
    f = stat[stat.rindex(")") + 2:].split()
    return sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds used so far by ``pid`` (default: this process) and all
    of its descendants, the Spark JVM and its Python workers included."""
    pid = os.getpid() if pid is None else pid
    return cpu_s(pid) + sum(cpu_s(p) for p in descendants(pid))


class PeakRss:
    """Background sampler of the summed RSS of this process and all of its
    descendants. Use as a context manager; ``peak_mb`` holds the highest
    sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def reap_children(timeout_s: float = 30.0) -> None:
    """Terminate every remaining descendant of this process and wait until
    all of them have ended (SIGKILL after ``timeout_s``; gives up 10 s
    later on a process that cannot be killed)."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    sig = signal.SIGTERM
    while time.time() < deadline + 10:
        left = descendants(me)
        if not left:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        # collect direct children so they do not linger as zombies
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)
