"""CPU steal accounting.

The benchmark runs on a shared virtual machine whose hypervisor
withholds CPU time from it when the host is busy.  Measured over whole
runs on 4 vCPUs, 2-33 % of the CPU time the machine asked for was
stolen (``steal`` in ``/proc/stat``), while the CPU time it did get for
the same run stayed within 8 %; wall times moved by up to 2x with the
steal.  A timing calibrated against a short CPU workload did not follow
it: the calibration sees the host as it is for a second, not over the
minute the operations take.

So each timed operation reads the machine's busy and stolen clock ticks
before and after it, and a timing is reported as its wall time times
the share of the asked-for CPU time that was granted over the same
operations: the time they would have taken had the host withheld
nothing.

Steal is not the whole story: with no steal at all, the same query pass
ran 2.4x faster on one hour than the hour before (frequency, a busy
sibling hyperthread, shared caches).  So each run also times a fixed
single-threaded workload in CPU seconds, before its timed operations
and after them (:func:`cpu_speed_s`, steal-free by construction), and
scales its timings by ``REFERENCE_SPEED_S`` over the mean of the two.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

#: :func:`cpu_speed_s` on a quiet host of the kind the benchmark was
#: written on (4 vCPUs); timings are reported as if on such a host.
REFERENCE_SPEED_S = 0.09


def cpu_ticks() -> tuple[int, int]:
    """``(busy, stolen)`` clock ticks of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fields[1:9])
    return user + nice + system + irq + softirq, steal


class StealClock:
    """Busy and stolen ticks summed over the operations it has timed."""

    def __init__(self) -> None:
        self.busy = self.stolen = 0

    @contextmanager
    def timing(self):
        b0, s0 = cpu_ticks()
        try:
            yield
        finally:
            b1, s1 = cpu_ticks()
            self.busy += b1 - b0
            self.stolen += s1 - s0

    def granted(self) -> float:
        """Share of the asked-for CPU time that was granted (1.0 when
        nothing was timed)."""
        asked = self.busy + self.stolen
        return self.busy / asked if asked else 1.0


def cpu_speed_s(rounds: int = 9) -> float:
    """CPU seconds of this thread that a fixed Python-and-numpy workload
    takes: the median over ``rounds`` rounds.  Time the thread was not
    running (steal) is not in it; a slower core is."""
    import numpy as np

    a = np.random.default_rng(0).random(1 << 20)
    times = []
    for _ in range(rounds):
        t0 = time.thread_time()
        x = 0
        for i in range(600_000):
            x += i * i % 7
        for _ in range(4):
            np.sort(a)
        times.append(time.thread_time() - t0)
    return statistics.median(times)
