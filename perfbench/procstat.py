"""CPU time and peak RSS of this process's tree, read from /proc.

The tree is the benchmark process, the driver JVM it launches, the PySpark
daemon and the Python workers the daemon forks.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                line = fh.read()
        except OSError:  # the process ended while we listed
            continue
        comm = line[line.find("(") + 1 : line.rfind(")")]
        f = line[line.rfind(")") + 2 :].split()
        # utime stime cutime cstime: the c* fields hold reaped children, so
        # workers that already exited stay counted through their parent
        out[int(name)] = (int(f[1]), comm, sum(int(x) for x in f[11:15]) / _TICK)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo += kids.get(pid, [])
    return out


def descendants(root: int | None = None) -> list[int]:
    """Live processes below ``root`` (default: this process)."""
    me = root or os.getpid()
    return [p for p in _tree(_stats(), me) if p != me]


# HotSpot names its JIT compiler threads "C1 CompilerThread<n>" and
# "C2 CompilerThread<n>"; /proc cuts a thread name to 15 characters
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the live JIT compiler threads of JVM ``pid``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                line = fh.read()
        except OSError:  # the thread ended while we listed
            continue
        if line[line.find("(") + 1 : line.rfind(")")].startswith(JIT_THREADS):
            f = line[line.rfind(")") + 2 :].split()
            ticks += int(f[11]) + int(f[12])
    return ticks / _TICK


def tree_work_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    every descendant, less the CPU of the JVMs' JIT compiler threads.

    The compiler threads are left out because they compile code for later
    calls: their share of a call depends on how far the JVM has warmed,
    not on the call's work. The JVM must keep its compiler threads for
    its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``): the CPU
    of a thread that exits stays in its process's total, so it could no
    longer be subtracted."""
    stats = _stats()
    pids = _tree(stats, root or os.getpid())
    return sum(stats[p][2] for p in pids) - sum(
        _jit_cpu_s(p) for p in pids if stats[p][1] == "java"
    )


def python_worker_hwm_mb(root: int | None = None) -> float:
    """Highest VmHWM among Python processes below the driver JVM."""
    stats = _stats()
    me = root or os.getpid()
    best = 0.0
    for pid in _tree(stats, me):
        if pid == me or not stats[pid][1].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]) / 1024.0)
                        break
        except OSError:
            continue
    return best
