"""Host and process-tree readings from ``/proc`` (Linux only).

The benchmark's driver Python starts the Spark JVM, which forks the
Python worker daemon and its workers, so every process that works for
a run is a descendant of the benchmark process.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree() -> list[int]:
    """This process and all its live descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, including children
    that already exited and were reaped (their time is folded into the
    parent's ``cutime``/``cstime``)."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_hwm_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over the live process tree."""
    kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def steal_s() -> float:
    """Host-wide steal seconds since boot (``/proc/stat`` cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
