"""CPU time the engine spends, read from ``/proc``.

The engine is this Python process (the PySpark driver side), the JVM and
every process under the JVM (the Python UDF workers). CPU time, unlike
wall time, does not grow when the host's other tenants take the cores
away, so it is the figure that stays put between runs on a shared
machine. The JVM's JIT compiler threads are counted apart: they compile
in the background on their own schedule, so how much of their work
lands inside one operation depends on timing, not on the operation.
"""

from __future__ import annotations

import os

TCK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """Fields of a ``stat`` file after the command name, so that
    ``[1]`` is the parent pid and ``[11:15]`` are utime, stime, cutime
    and cstime."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live process under it,
    including the children each of them has already reaped."""
    children: dict[int, list[int]] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat(f"/proc/{name}/stat")
        except OSError:  # exited while listing
            continue
        pid = int(name)
        fields[pid] = f
        children.setdefault(int(f[1]), []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        f = fields.get(pid)
        if f is None:
            continue
        total += sum(int(x) for x in f[11:15]) / TCK
        todo.extend(children.get(pid, ()))
    return total


class CpuMeter:
    """Reads the engine's CPU seconds so far, split into work and JIT
    compilation. Take differences of two readings."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self._jit: dict[str, float] = {}  # compiler thread id -> last reading
        self._other: set[str] = set()

    def jit_s(self) -> float:
        """CPU seconds of the JVM's compiler threads. A compiler thread
        that has exited keeps its last reading, so the sum never drops
        when the JVM retires one."""
        task = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task):
            if tid in self._other:
                continue
            try:
                if tid not in self._jit:
                    with open(f"{task}/{tid}/comm") as f:
                        if "CompilerThre" not in f.read():
                            self._other.add(tid)
                            continue
                f = _stat(f"{task}/{tid}/stat")
                self._jit[tid] = (int(f[11]) + int(f[12])) / TCK
            except OSError:  # thread exited between listing and reading
                pass
        return sum(self._jit.values())

    def read(self) -> tuple[float, float]:
        """(work, jit): engine CPU seconds without and with only the
        JIT compiler threads."""
        own = os.times()
        jit = self.jit_s()
        return own.user + own.system + tree_cpu_s(self.jvm) - jit, jit

