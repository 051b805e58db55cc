"""Outside-in resource sampling of the benchmark's process tree (the
driver, the Spark JVM it launched, and the JVM's Python daemon and
workers), read from ``/proc``.

CPU is ``utime + stime + cutime + cstime`` summed over the live tree, so
a worker that exits and is reaped inside a job still counts through its
parent. Peak memory is each process's ``VmHWM`` (its own resident
high-water mark), maximised per pid over the samples and summed.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """Samples CPU seconds and per-pid ``VmHWM`` of a process tree."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self.hwm_kb: dict[int, int] = {}

    def cpu_s(self) -> float:
        ticks = 0
        for pid in tree_pids(self.root):
            fields = _stat(pid)
            if fields is not None:
                # utime, stime, cutime, cstime (stat fields 14-17)
                ticks += sum(int(x) for x in fields[11:15])
        return ticks / _TICK

    def sample_memory(self) -> None:
        for pid in tree_pids(self.root):
            kb = _vm_hwm_kb(pid)
            if kb > self.hwm_kb.get(pid, 0):
                self.hwm_kb[pid] = kb

    def peak_rss_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0
