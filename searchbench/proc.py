"""Process-tree CPU, host steal/iowait and driver memory, read from /proc.

The searcher's CPU cost is spread over three kinds of process: the driver
(this Python process), the JVM that PySpark launched, and the Python
workers the JVM forks. Workers exit mid-run, so a sum over the live pids
at two instants can go down between them. ``TreeCPU`` instead keeps every
process's last-seen utime+stime, keyed by (pid, start time) so a reused
pid is a new process; a window's CPU is the change of that sum. A
sampling thread refreshes it often enough that an exiting worker loses
at most one sampling period of its CPU.
"""

from __future__ import annotations

import os
import resource
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: str):
    """(ppid, utime+stime ticks, start time) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rfind(b")") + 2:].split()
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[19])


class TreeCPU:
    """CPU seconds used by the process tree under ``root``, by role.

    Roles: ``driver`` (the root), ``jvm`` (set with :meth:`set_jvm`) and
    ``workers`` (every other descendant)."""

    def __init__(self, root: int | None = None, period_s: float = 0.1):
        self.root = root or os.getpid()
        self.jvm: int | None = None
        self._period = period_s
        self._last: dict[tuple[int, int], tuple[int, str]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def set_jvm(self, pid: int) -> None:
        self.jvm = pid

    def _role(self, pid: int) -> str:
        if pid == self.root:
            return "driver"
        return "jvm" if pid == self.jvm else "workers"

    def sample(self) -> None:
        stats = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(name)
                if st is not None:
                    pid = int(name)
                    stats[pid] = st
                    children.setdefault(st[0], []).append(pid)
        todo = [self.root]
        with self._lock:
            while todo:
                pid = todo.pop()
                st = stats.get(pid)
                if st is None:
                    continue
                self._last[(pid, st[2])] = (st[1], self._role(pid))
                todo.extend(children.get(pid, ()))

    def totals(self) -> dict[str, float]:
        """Fresh sample, then CPU seconds per role since process start."""
        self.sample()
        out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        with self._lock:
            for ticks, role in self._last.values():
                out[role] += ticks / _TICK
        return out

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def __enter__(self) -> "TreeCPU":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="tree-cpu", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    d = {k: after[k] - before[k] for k in before}
    d["total"] = sum(d.values())
    return d


def host_ticks() -> tuple[int, int, int]:
    """(total, iowait, steal) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user, so it is not added again
    return sum(vals[:8]), vals[4], vals[7]


def host_fracs(before: tuple[int, int, int], after: tuple[int, int, int]) -> dict[str, float]:
    total = max(1, after[0] - before[0])
    return {
        "iowait_frac": (after[1] - before[1]) / total,
        "steal_frac": (after[2] - before[2]) / total,
    }


def peak_rss_mb() -> float:
    """Peak resident set of this process (Linux reports ru_maxrss in KiB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
