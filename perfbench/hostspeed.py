"""Host speed probe: a fixed JVM computation, independent of the
program and of its Spark configuration, whose CPU cost tracks how fast
this host's cores run at the moment.

On a shared virtual machine the same operation costs more CPU time
while co-tenants load the physical cores (cache and SMT sharing): on
the 4-vCPU host the bounds were set on, identical runs read 1.5-1.65x
more CPU seconds per operation in busy periods than in quiet ones,
and busy periods last minutes. The probe sorts a copy of a fixed
pseudo-random int array with `java.util.Arrays.parallelSort` (the
JVM's common fork-join pool, on every core) in the benchmark's JVM,
and reads its CPU time the way the operations are read
(`proc.program_cpu_s`). The workloads sample it between operations.
"""

from __future__ import annotations

import statistics

from proc import cpu_ticks, program_cpu_s

#: ints sorted per probe (~0.4-0.55 CPU seconds, ~0.2 s wall)
N_INTS = 4_000_000
#: CPU seconds of one probe at the reference speed: the median probe
#: on the 4-vCPU host the bounds were set on
REFERENCE_S = 0.5


class HostProbe:
    def __init__(self, spark):
        self._jvm = spark._jvm
        self._base = self._jvm.java.util.Random(42).ints(N_INTS).toArray()
        self.samples: list[float] = []
        for _ in range(3):  # compile the sort before it is timed
            self._sort()

    def _sort(self) -> float:
        arr = self._jvm.java.util.Arrays.copyOf(self._base, N_INTS)
        c0 = cpu_ticks()
        self._jvm.java.util.Arrays.parallelSort(arr)
        return program_cpu_s(c0, cpu_ticks())

    def sample(self) -> None:
        self.samples.append(self._sort())

    def factor(self) -> float:
        """How much slower than the reference the cores ran over the
        run: the probes' median CPU seconds over `REFERENCE_S`."""
        return statistics.median(self.samples) / REFERENCE_S
