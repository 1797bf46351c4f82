"""CPU and resident memory of a process tree, read from /proc.

The tree is the Spark JVM and every process it started (the Python daemon
and its ``mapInPandas`` workers); CPU time also counts the driver's own
Python process, where driver-side product code runs. CPU time
of a child that has exited and been reaped is still counted: the kernel
adds it to its parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after the parenthesised command name, which may hold spaces
            return fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(jvm_pid: int) -> float:
    """User + system CPU of the JVM tree (reaped children included) and of this process."""
    total = 0
    for pid in descendants(jvm_pid):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    own = _stat(os.getpid())
    total += int(own[11]) + int(own[12])  # the JVM is our child: skip cutime/cstime
    return total / _TICK


def rss_mb(jvm_pid: int) -> float:
    """Resident memory of the JVM tree, in MB. This process is left out: it
    also holds the benchmark's own output checks."""
    total = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total * _PAGE / 1e6


class PeakRss:
    """Samples ``rss_mb`` on a background thread while the ``with`` block runs."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.05):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_mb(self.jvm_pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._thread.join(timeout=10)
        return False
