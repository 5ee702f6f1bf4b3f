"""CPU time of the engine's processes, and a reference to scale it by.

The kernel charges a thread only for the time it runs: time spent waiting
for a CPU is left out, and on a paravirtualised guest so is the time the
hypervisor stole. A core that runs slower because a neighbour shares it,
or at a lower clock, still makes every thread cost more CPU time; the
reference sort measures that, so the benchmark can report a pass's CPU
time in units of the sort's.
"""

from __future__ import annotations

import os
import time

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _fields(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a ``stat`` file, or None if the
    process or thread ended meanwhile."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    end = stat.rfind(")")
    return stat[stat.find("(") + 1:end], stat[end + 2:].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process below
    it, reaped children included (``utime + stime + cutime + cstime``)."""
    usage: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (stat := _fields(f"/proc/{name}/stat")):
            usage[int(name)] = sum(int(x) for x in stat[1][11:15])
            children.setdefault(int(stat[1][1]), []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += usage.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * _TICK_S


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's JIT compiler threads. Exact
    only while no compiler thread ends, so the benchmark's JVM keeps all
    of them (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        stat = _fields(f"/proc/{jvm_pid}/task/{tid}/stat")
        if stat and "CompilerThre" in stat[0]:
            total += int(stat[1][11]) + int(stat[1][12])
    return total * _TICK_S


class ReferenceSort:
    """A fixed sort of 1M seeded longs in the engine's JVM, timed by the
    CPU time of the JVM thread that runs it. Its code and input never
    change, so its cost tracks only how fast the host's cores run right
    now. PySpark pins each Python thread to one JVM thread, so the sort
    and both clock reads run on the same thread."""

    N = 1_000_000
    EVERY_S = 1.0  # least time between two samples taken after operations

    def __init__(self, jvm):
        self.jvm = jvm
        self.src = jvm.java.util.Random(42).longs(self.N).toArray()
        self.bean = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        for _ in range(10):  # let the JIT compile the sort first
            self._sort()
        self.samples: list[float] = []
        self.last = 0.0

    def _sort(self) -> float:
        a = self.jvm.java.util.Arrays.copyOf(self.src, self.N)
        t0 = self.bean.getCurrentThreadCpuTime()
        self.jvm.java.util.Arrays.sort(a)
        return (self.bean.getCurrentThreadCpuTime() - t0) / 1e9

    def sample(self) -> None:
        """Time one sort and keep its CPU seconds."""
        self.samples.append(self._sort())
        self.last = time.perf_counter()

    def due(self) -> bool:
        """Whether ``EVERY_S`` has passed since the last sample."""
        return time.perf_counter() - self.last >= self.EVERY_S
