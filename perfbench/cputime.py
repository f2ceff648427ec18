"""CPU time of the benchmark's process tree, read from /proc.

A pass's CPU cost is what it keeps a cluster busy for. On a shared host
it moves far less than wall time: time the hypervisor gives to other
guests, or that other processes hold a core for, is nobody's CPU time
here, while it is part of every wall-clock reading.
"""

from __future__ import annotations

import os

# HotSpot's compiler threads ("C2 CompilerThread0", cut to 15 characters
# by the kernel). Their work is warm-up: how much of it lands inside a
# pass depends on how far the JIT has got, not on the pass. The JVM must
# run with -XX:-UseDynamicNumberOfCompilerThreads, or an idle compiler
# thread exits and its time moves into the process total.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
TICKS = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after comm) of a /proc stat file."""
    with open(path) as f:
        s = f.read()
    end = s.rindex(")")
    return s[s.index("(") + 1 : end], s[end + 2 :].split()


def cpu_seconds() -> float:
    """User + system CPU seconds of this process and its descendants
    (the Spark JVM, pyspark's daemon and Python workers), children they
    have reaped included, less the JIT compiler threads of each."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, f = _stat(f"/proc/{name}/stat")
        except OSError:
            continue  # exited while listing
        pid = int(name)
        children.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        stack += children.get(pid, [])
        total += ticks.get(pid, 0)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm in JIT_THREADS:
                total -= int(f[11]) + int(f[12])
    return total / TICKS
