"""Host readings from /proc: CPU load over a run and process memory peaks."""

from __future__ import annotations

import os


def cpu_seconds() -> tuple[float, float]:
    """(busy, steal) core-seconds since boot, from the aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    v = [int(x) for x in fields]
    hz = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = (v + [0] * 8)[:8]
    return (user + nice + system + irq + softirq) / hz, steal / hz


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: a reaped child's time moves into its
    parent's c-fields, so summing live processes counts each tick once."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds used so far by ``pid``, its live descendants and this
    process. Steal time is not charged to processes, so this holds steady
    where wall time does not."""
    ticks = sum(_cpu_ticks(p) for p in [pid] + descendants(pid))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


class PeakRss:
    """High-water RSS of the Spark JVM plus its largest Python worker.

    VmHWM is the kernel's per-process peak; workers are sampled after every
    build because a worker that exits takes its peak with it.
    """

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.jvm_kb = 0
        self.worker_kb = 0

    def sample(self) -> None:
        for p in descendants(self.jvm_pid):
            self.worker_kb = max(self.worker_kb, _status_kb(p, "VmHWM"))

    def mb(self) -> float:
        self.sample()
        self.jvm_kb = _status_kb(self.jvm_pid, "VmHWM")
        return (self.jvm_kb + self.worker_kb) / 1024.0
