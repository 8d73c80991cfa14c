"""Resource use of the benchmark's process tree, read from ``/proc``.

The tree is this Python process and all its descendants: the Spark
driver JVM and the Python workers it forks.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _tree() -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) the tree has used so far, including
    children it has already reaped. Time the host gives to other guests
    or processes is not in it, so on a shared host it varies far less
    than wall time."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


def jit_cpu_s() -> float:
    """CPU seconds the tree's JIT compiler threads have used so far. The
    JVM must keep a fixed set of them
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the time of one that
    exits moves into its process's total."""
    ticks = 0
    for pid in _tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += int(f[11]) + int(f[12])  # utime stime
    return ticks / _CLK_TCK


def peak_rss_mb() -> float:
    """VmHWM summed over the tree."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
