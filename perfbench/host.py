"""Readers for what the benchmark measures from outside the engine:
per-process CPU and peak memory from ``/proc``, load average and
hypervisor steal from ``/proc/stat``, and bytes on disk."""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    cpu_ticks: int  # utime + stime
    child_ticks: int  # cutime + cstime: exited children this process reaped


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a ``/proc`` stat file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:  # the process or thread exited between listdir and open
        return None
    # comm (field 2) may contain spaces; everything after its ')' is fixed
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _read_proc(pid: int) -> Proc | None:
    stat = _read_stat(f"/proc/{pid}/stat")
    if stat is None:
        return None
    fields = stat[1]
    return Proc(
        pid=pid,
        ppid=int(fields[1]),
        cpu_ticks=int(fields[11]) + int(fields[12]),
        child_ticks=int(fields[13]) + int(fields[14]),
    )


def process_table() -> dict[int, Proc]:
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_proc(int(name))
            if p is not None:
                table[p.pid] = p
    return table


def descendants(table: dict[int, Proc], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in table.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


@dataclass(frozen=True)
class CpuSample:
    """CPU seconds consumed so far by the benchmark's process tree:
    ``driver`` (this Python process), ``jvm`` (the Spark driver JVM's
    threads except its JIT-compiler and garbage-collector threads), ``jit``
    and ``gc`` (those threads) and ``pyworker`` (every process under the
    JVM — the PySpark daemon and its workers — plus the exited ones the JVM
    reaped).

    ``total`` leaves out ``jit`` and ``gc``. A fresh JVM keeps compiling for
    many passes, and G1's concurrent marking cycles came and went from run
    to run, doubling the JVM's CPU for the same entries in about one run
    in four; both are reported on their own instead."""

    driver: float
    jvm: float
    jit: float
    gc: float
    pyworker: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker

    def __sub__(self, other: CpuSample) -> CpuSample:
        return CpuSample(
            self.driver - other.driver,
            self.jvm - other.jvm,
            self.jit - other.jit,
            self.gc - other.gc,
            self.pyworker - other.pyworker,
        )


# HotSpot thread names: "C1 CompilerThread0", "C2 CompilerThread1"; G1's
# "GC Thread#0", "G1 Conc#0", "G1 Refine#0", "G1 Service", ...
_JIT_THREADS = ("C1 Compiler", "C2 Compiler")
_GC_THREADS = ("GC Thread", "G1 ")


def _runtime_ticks(jvm_pid: int) -> tuple[int, int]:
    """CPU ticks of the JVM's JIT-compiler threads and of its GC threads."""
    jit = gc = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        stat = _read_stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        if stat is None:
            continue
        ticks = int(stat[1][11]) + int(stat[1][12])
        if stat[0].startswith(_JIT_THREADS):
            jit += ticks
        elif stat[0].startswith(_GC_THREADS):
            gc += ticks
    return jit, gc


def cpu_sample(jvm_pid: int) -> CpuSample:
    table = process_table()
    me = table[os.getpid()]
    jvm = table[jvm_pid]
    jit, gc = _runtime_ticks(jvm_pid)
    workers = sum(
        table[p].cpu_ticks + table[p].child_ticks for p in descendants(table, jvm_pid)
    )
    return CpuSample(
        driver=me.cpu_ticks / CLK_TCK,
        jvm=(jvm.cpu_ticks - jit - gc) / CLK_TCK,
        jit=jit / CLK_TCK,
        gc=gc / CLK_TCK,
        pyworker=(workers + jvm.child_ticks) / CLK_TCK,
    )


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus its live descendants
    (the Python workers), each process's own high-water mark."""
    pids = [jvm_pid, *descendants(process_table(), jvm_pid)]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def steal_ticks() -> int:
    """Cumulative hypervisor steal ticks over all CPUs (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8])


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total
