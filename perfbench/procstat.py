"""CPU time and resident memory of this process tree, read from ``/proc``,
and the ending of that tree.

The tree rooted at the benchmark's own process holds the Python driver,
the driver JVM it launches, and the Python daemon and workers the JVM
forks, so one walk covers every process that does the work.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we walked
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        out[int(name)] = (int(fields[1]), fields)
    return out


def _tree(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system seconds of this process and every descendant, including
    descendants already reaped (their time sits in the parent's
    ``cutime``/``cstime``)."""
    table = _table()
    ticks = 0
    for pid in _tree(table, os.getpid()):
        f = table[pid][1]
        # fields 14-17 of stat: utime stime cutime cstime
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def descendants() -> list[int]:
    """Every live or unreaped descendant of this process."""
    root = os.getpid()
    return [pid for pid in _tree(_table(), root) if pid != root]


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree: a descendant
    whose parent ends is re-parented here rather than to init, so
    :func:`stop_descendants` still sees it and can reap it."""
    pr_set_child_subreaper = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float) -> None:
    """Wait until every descendant has ended and been reaped: first up to
    ``grace_s`` for them to end on their own, then ``grace_s`` after a
    SIGTERM, then up to ``grace_s`` after a SIGKILL."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace_s
        while True:
            _reap()
            if not descendants():
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)


def descendants_rss_mb(root: int) -> float:
    """Resident MiB of every descendant of ``root`` (not ``root`` itself)."""
    table = _table()
    pages = 0
    for pid in _tree(table, root):
        if pid == root:
            continue
        pages += int(table[pid][1][21])  # field 24 of stat: rss in pages
    return pages * _PAGE / (1 << 20)


def high_water_rss_mb(pid: int) -> float:
    """The kernel's resident high-water mark of ``pid`` (``VmHWM``), MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


class PeakRss:
    """Samples :func:`descendants_rss_mb` of ``root`` on a background thread
    between :meth:`start` and :meth:`stop`; :attr:`peak_mb` is the largest
    sum."""

    interval_s = 0.2

    def __init__(self, root: int) -> None:
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
