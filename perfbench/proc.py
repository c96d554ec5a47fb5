"""Process-tree figures read from ``/proc``: the benchmark's own
process, the JVM it launched and the JVM's Python workers."""

from __future__ import annotations

import os
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over the live tree."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


#: JVM thread names of the JIT compilers, as /proc shows them (15 chars)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> dict[tuple[int, int], int]:
    """CPU ticks of each JIT compiler thread of process ``pid``."""
    out: dict[tuple[int, int], int] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except (OSError, ValueError):
            continue
        if name in _JIT_THREADS:
            f = rest.split()
            out[(pid, int(tid))] = int(f[11]) + int(f[12])
    return out


def cpu_ticks() -> tuple[int, dict[tuple[int, int], int]]:
    """User + system CPU ticks of the live tree, including reaped
    children (a worker that exited is counted in its parent), and the
    ticks of every JIT compiler thread in it."""
    ticks, jit = 0, {}
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
        except (OSError, ValueError):
            continue
        f = rest.split()
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        if name == "java":
            jit.update(_jit_ticks(pid))
    return ticks, jit


def program_cpu_s(before, after) -> float:
    """CPU seconds of the tree between two `cpu_ticks` readings, less
    what the JVM's JIT compiler threads spent. How much the compilers
    do inside one operation depends on when their queues drain, not
    on the operation. The runner starts the JVM with a fixed set of
    compiler threads: the CPU of a thread that exited in between
    would count as the program's."""
    (t0, j0), (t1, j1) = before, after
    jit = sum(max(0, n - j0.get(t, 0)) for t, n in j1.items())
    return (t1 - t0 - jit) / _TICK


class CpuMeter:
    """The program's CPU seconds (`program_cpu_s`) per measured block,
    by kind of operation."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}

    @contextmanager
    def measure(self, kind: str):
        c0 = cpu_ticks()
        try:
            yield
        finally:
            self.samples.setdefault(kind, []).append(program_cpu_s(c0, cpu_ticks()))

    def fastest(self) -> dict[str, float]:
        return {k: min(xs) for k, xs in self.samples.items()}

    def per_op(self) -> float:
        """CPU seconds per operation of the run's mix, each kind of
        operation at its cheapest sample. Host contention only adds
        CPU time (cache and SMT sharing, lock spinning) and an
        operation right after a new code path still runs partly
        interpreted, so the cheapest sample is the steadiest estimate
        of what the operation itself costs."""
        n = sum(len(xs) for xs in self.samples.values())
        low = self.fastest()
        return sum(len(xs) * low[k] for k, xs in self.samples.items()) / n
