"""Host speed: a fixed pure-Python loop, timed again and again on a CPU
kept free of the workload process.

The benchmark runs on a shared host whose speed moves, by up to a factor
of two between one minute and the next, with what its other tenants do.
While a workload process runs, ``run.py`` times this loop every
``INTERVAL_S`` seconds on the CPU it reserved.  A wall time measured over
a span, multiplied by ``SpeedLog.factor`` of that span, is in reference
seconds: the time the span would have taken on a host where the loop
takes ``REFERENCE_LOOP_S``.
"""

from __future__ import annotations

import os
import statistics
import time

LOOP_N = 50_000
# Near the loop's median time on the 4-core 2.1 GHz Xeon host the
# benchmark's bounds were set on, so reference seconds read close to
# wall seconds there.
REFERENCE_LOOP_S = 2.5e-3
INTERVAL_S = 0.05


def split_cpus() -> tuple[set[int], set[int]]:
    """``(workload CPUs, sampler CPU)``: the last CPU is the sampler's.
    With a single CPU both share it."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 2:
        return set(cpus), set(cpus)
    return set(cpus[:-1]), {cpus[-1]}


def loop_time() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(LOOP_N):
        x += i
    return time.perf_counter() - t0


class SpeedLog:
    def __init__(self) -> None:
        # (wall-clock time at the sample's middle, loop seconds)
        self.samples: list[tuple[float, float]] = []

    def sample(self) -> None:
        start = time.time()
        dt = loop_time()
        self.samples.append((start + dt / 2, dt))

    def factor(self, start: float, end: float) -> float:
        """``REFERENCE_LOOP_S`` over the mean loop time in the wall-clock
        span ``[start, end]``; a span too short to hold a sample takes
        the nearest one."""
        inside = [dt for t, dt in self.samples if start <= t <= end]
        if not inside:
            mid = (start + end) / 2
            inside = [min(self.samples, key=lambda s: abs(s[0] - mid))[1]]
        return REFERENCE_LOOP_S / statistics.mean(inside)

    def median_loop_s(self) -> float:
        return statistics.median(dt for _t, dt in self.samples)
