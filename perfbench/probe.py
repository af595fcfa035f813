"""Host-speed probe, used to report times at a reference host speed.

The benchmark shares a machine whose speed swings by 2x and more within
seconds to minutes: a fixed Python loop on each of 4 cores went from
~25 ms to ~11 ms per pass within 15 s, and other tenants took 25-35 %
of the machine's time (``steal`` in /proc/stat) for whole runs. That
moves every wall-clock figure by more than any bound a regression
check could use.

A probe is a fixed computation (:func:`probe_once`), timed by the wall
clock, run only while the program is idle: between two queries, or in
the stream sink before the batch is written (the job waits on the sink
call then). It slows down with the host -- slower cores and stolen
time alike -- but the program cannot slow it. A time ``t`` measured in
a phase whose probes took a median ``p`` is reported as
``t * PROBE_REF_S / p``: the time it would take on a host where the
probe takes PROBE_REF_S. The raw wall-clock figures are printed too
and kept as per-layer metrics.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
import zlib

import numpy as np

# the probe's typical time on an idle 4-core x86-64 host (the first
# baseline's); it only sets the scale of the reported figures
PROBE_REF_S = 0.020

_LOOP = 100_000
_BUF = np.random.default_rng(0).integers(0, 64, 200_000, dtype=np.uint8).tobytes()
_ARR = np.random.default_rng(1).random(8_000_000, dtype=np.float32)  # 32 MB
_IDX = np.random.default_rng(2).integers(0, len(_ARR), 1_000_000)
_THREADS = len(os.sched_getaffinity(0))  # one per core the program may use


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _interpreter() -> None:
    x = 0
    for j in range(_LOOP):
        x += j * j % 7
    zlib.compress(_BUF, 6)


def _gather() -> None:
    float(_ARR[_IDX].sum())


def _parallel() -> None:
    ts = [threading.Thread(target=zlib.compress, args=(_BUF, 6)) for _ in range(_THREADS)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


def probe_once() -> float:
    """Geometric mean of the seconds taken by three fixed computations:
    an interpreter loop plus a zlib pass on one core (as the driver and
    the Python workers run), a random gather over a 32 MB array (memory
    bound, as the JVM's scans and joins are) and one zlib pass per core
    on as many threads at once (zlib releases the GIL), as a job's
    parallel tasks run."""
    xs = (_timed(_interpreter), _timed(_gather), _timed(_parallel))
    return math.prod(xs) ** (1 / len(xs))


class Probe:
    """The probe samples of one run."""

    def __init__(self):
        self.samples: list[float] = []

    def sample(self, n: int = 1) -> list[float]:
        """Run ``n`` probes; return their times."""
        xs = [probe_once() for _ in range(n)]
        self.samples.extend(xs)
        return xs


def scale(probe_s: list[float]) -> float:
    """Factor taking the times measured next to these probes to the
    reference speed."""
    return PROBE_REF_S / statistics.median(probe_s)
