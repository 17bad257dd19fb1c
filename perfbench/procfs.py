"""CPU and peak-memory probe for the local Spark JVM, read from ``/proc``.

The probe walks the process tree below the benchmark's own process to find
the JVM that PySpark launched.  Every failure degrades to an absent reading
with a reason; nothing here raises, and no reading is ever reported as 0.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_fields(pid: int) -> list[str] | None:
    """``/proc/<pid>/stat`` fields after the ``(comm)`` field, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    close = raw.rfind(")")
    if close < 0:
        return None
    return [raw[raw.find("(") + 1:close]] + raw[close + 2:].split()


def _children() -> dict[int, list[int]]:
    """Map of parent pid to child pids for every process on the box."""
    tree: dict[int, list[int]] = {}
    try:
        entries = os.listdir("/proc")
    except OSError:
        return tree
    for name in entries:
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None or len(f) < 3:
            continue
        try:
            tree.setdefault(int(f[2]), []).append(int(name))
        except ValueError:
            continue
    return tree


def descendants(root: int) -> list[int]:
    """Pids below ``root`` in the process tree, breadth first."""
    tree = _children()
    out, todo = [], list(tree.get(root, []))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(tree.get(pid, []))
    return out


def _cpu_ticks(pid: int, with_children: bool) -> int | None:
    f = _stat_fields(pid)
    # proc(5) fields 14-17 are utime, stime, cutime, cstime; field k sits
    # at index k - 2 here, with comm (field 2) at index 0
    if f is None or len(f) < 16:
        return None
    try:
        ticks = int(f[12]) + int(f[13])
        if with_children:
            ticks += int(f[14]) + int(f[15])
    except ValueError:
        return None
    return ticks


class JvmProbe:
    """CPU seconds of the benchmark's process tree and the JVM's peak RSS.

    ``cpu_s()`` sums the driver's own CPU with that of every live
    descendant (the JVM and its Python workers), including children they
    have already reaped.  ``reason`` says why a reading is absent.
    """

    def __init__(self) -> None:
        self.me = os.getpid()
        self.jvm_pid: int | None = None
        self.reason = ""
        self.find()

    def find(self) -> int | None:
        for pid in descendants(self.me):
            f = _stat_fields(pid)
            if f is not None and f[0] == "java":
                self.jvm_pid = pid
                self.reason = ""
                return pid
        self.jvm_pid = None
        self.reason = "no java process below the benchmark's process"
        return None

    def cpu_s(self) -> float | None:
        if self.jvm_pid is None:
            return None
        total = 0
        for pid in descendants(self.me):
            ticks = _cpu_ticks(pid, with_children=True)
            if ticks is not None:
                total += ticks
        jvm = _cpu_ticks(self.jvm_pid, with_children=False)
        if jvm is None:
            self.reason = f"JVM {self.jvm_pid} exited"
            return None
        return total / _CLK_TCK + time.process_time()

    def peak_rss_mb(self) -> float | None:
        if self.jvm_pid is None:
            return None
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        if kb > 0:
                            return kb / 1024.0
        except (OSError, ValueError, IndexError):
            pass
        self.reason = f"no VmHWM for JVM {self.jvm_pid}"
        return None
