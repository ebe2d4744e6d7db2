"""Process-tree readings from /proc: resident memory and CPU time."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it (via /proc/<pid>/task/*/children)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue  # exited meanwhile
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()  # fields from 3 (state) on


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python workers, live and reaped: own
    and waited-for-children time of every python process below the JVM,
    plus the JVM's own waited-for-children time (its direct children
    are all Python processes: the worker daemon and streaming runners)."""
    ticks = 0
    for p in descendants(jvm_pid):
        f = _stat(p)
        if f is None:
            continue
        if p == jvm_pid:
            ticks += int(f[13]) + int(f[14])  # cutime, cstime
            continue
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


class PeakRss:
    """Background sampler of the summed RSS of this process's tree
    (the Python driver, the JVM and its Python workers)."""

    def __init__(self, interval_s: float = 0.05):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(me)))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
