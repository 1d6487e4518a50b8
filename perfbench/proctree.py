"""CPU seconds of a process tree, read from ``/proc``.

Spark's ``executorCpuTime`` covers JVM task threads only. The Python
workers that run ``applyInPandas`` bodies, the JVM's own service threads
and the driver's Python process are invisible to it, so the benchmark
reads the kernel's accounting for the whole tree instead.

Each process contributes ``utime + stime + cutime + cstime``: a child that
exits and is reaped during a measurement moves its time into its parent's
``cutime``, so a before/after difference over the live tree stays exact
as processes come and go. PySpark's worker daemon is the exception: it
ignores SIGCHLD, so the kernel reaps the workers it kills and drops their
time; ``diff`` then stops counting such a worker at its last snapshot.
"""

from __future__ import annotations

import os
import signal
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcCpu:
    pid: int
    ppid: int
    comm: str
    cpu_s: float


def read_proc(pid: int) -> ProcCpu | None:
    """One process's CPU seconds (own + reaped children), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm is parenthesised and may itself contain spaces or parentheses
    head, _, rest = stat.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(fields[1])
    ticks = sum(int(v) for v in fields[11:15])
    return ProcCpu(pid, ppid, comm, ticks / CLK_TCK)


def descendants(root: int) -> list[ProcCpu]:
    """``root`` and every live descendant, from one pass over ``/proc``."""
    procs: dict[int, ProcCpu] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(procs[pid])
        stack.extend(children.get(pid, []))
    return out


def ignores_sigchld(pid: int) -> bool:
    """Whether ``pid`` ignores SIGCHLD, from ``SigIgn`` in its status."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("SigIgn:"):
                    return bool(int(line.split()[1], 16) >> (signal.SIGCHLD - 1) & 1)
    except (FileNotFoundError, ProcessLookupError):
        pass
    return False


@dataclass(frozen=True)
class Sample:
    kind: str  # "driver", "jvm" or "worker"
    cpu_s: float
    time_dropped_on_exit: bool  # its parent ignores SIGCHLD


def tree_cpu(root: int | None = None) -> dict[int, Sample]:
    """A snapshot of the tree under ``root`` (default: this process). Each
    process is a ``driver`` (the root itself), a ``worker`` (the Python
    daemon and workers the JVM forks) or ``jvm`` (everything else: the JVM
    and the shell that launched it)."""
    root = os.getpid() if root is None else root
    procs = descendants(root)
    ignoring = {p.pid for p in procs if ignores_sigchld(p.pid)}
    return {
        p.pid: Sample(
            "driver" if p.pid == root else "worker" if p.comm.startswith("python") else "jvm",
            p.cpu_s,
            p.ppid in ignoring,
        )
        for p in procs
    }


def diff(after: dict[int, Sample], before: dict[int, Sample]) -> dict[str, float]:
    """CPU seconds the tree used between two snapshots, by kind and in
    ``total``. A process that exited in between left its whole time in its
    parent's ``cutime``, which ``after`` counts, so its ``before`` share is
    subtracted, unless that time was dropped on exit."""
    split = dict.fromkeys(("driver", "jvm", "worker"), 0.0)
    for p in after.values():
        split[p.kind] += p.cpu_s
    for pid, p in before.items():
        if pid in after or not p.time_dropped_on_exit:
            split[p.kind] -= p.cpu_s
    split["total"] = sum(split.values())
    return split


def steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs,
    summed over CPUs. It explains wall time that no process was charged."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK
