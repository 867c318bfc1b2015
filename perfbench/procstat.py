"""Process-tree CPU and memory, and host steal time, from ``/proc``.

The benchmark process starts the JVM, and the JVM starts the Python
workers, so the tree rooted at this process holds every process that does
work for an operation.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' splits cleanly
    head, _, tail = raw.rpartition(")")
    return [head.split(" (", 1)[1]] + tail.split()


def tree(root: int | None = None) -> dict[int, list[str]]:
    """``{pid: stat fields from comm on}`` for ``root`` (default: this
    process) and all its live descendants."""
    root = os.getpid() if root is None else root
    parents: dict[int, int] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            stats[int(name)] = fields
            parents[int(name)] = int(fields[2])
    keep = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {pid: stats[pid] for pid in keep if pid in stats}


def kind(pid: int, fields: list[str]) -> str:
    """``driver`` (this process), ``jvm`` or ``worker`` (any other
    descendant: Python workers and helper shells)."""
    if pid == os.getpid():
        return "driver"
    return "jvm" if fields[0] == "java" else "worker"


def cpu_by_kind(procs: dict[int, list[str]]) -> dict[str, float]:
    """Seconds of user+system CPU per kind, counting children already
    reaped (cutime/cstime), so a worker that exits keeps its time in its
    parent's total."""
    out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
    for pid, f in procs.items():
        # fields: comm state ppid ...; utime stime cutime cstime = 12..15
        ticks = int(f[12]) + int(f[13]) + int(f[14]) + int(f[15])
        out[kind(pid, f)] += ticks / _TICK
    return out


def hwm_kb(pids) -> dict[int, int]:
    """Peak resident set (VmHWM, KiB) of each live pid."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            continue
    return out


class TreeMonitor:
    """Accumulates process-tree CPU over chosen intervals and the peak
    resident memory of every process seen."""

    def __init__(self):
        self.cpu = {"driver": 0.0, "jvm": 0.0, "worker": 0.0}
        self._peak: dict[int, int] = {}
        self._start: dict[str, float] | None = None

    def _sample(self) -> dict[str, float]:
        procs = tree()
        for pid, kb in hwm_kb(procs).items():
            self._peak[pid] = max(self._peak.get(pid, 0), kb)
        return cpu_by_kind(procs)

    def begin(self) -> None:
        self._start = self._sample()

    def end(self) -> None:
        now = self._sample()
        for k in self.cpu:
            self.cpu[k] += now[k] - self._start[k]
        self._start = None

    def peak_rss_mb(self) -> float:
        """Sum over processes of each one's peak resident set, in MiB."""
        self._sample()
        return sum(self._peak.values()) / 1024.0


def host_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])
