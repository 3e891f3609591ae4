"""Machine-speed calibration: a fixed CPU loop timed between the jobs.

The host's speed drifts by tens of percent over tens of seconds (other
tenants, frequency changes): a fixed single-threaded loop read 60 ms in
one 10-s window and 86 ms two windows later on the 4-core VM of the
baseline. A run measures the same loop on every core between its jobs,
and the end-to-end metrics divide the median job time by the run's
median loop time. A slow window slows both and cancels out; a change to
the program moves only the jobs.

The workers are forked before the Spark session starts, so that none is
forked from a process that holds the JVM gateway, and sit idle, blocked
on their queue, while a job runs. Forking also starts no resource-tracker
process, which would outlive the pool.
"""

from __future__ import annotations

import multiprocessing as mp
import statistics
import time

import numpy as np

# Loop time, in seconds, of the machine the normalised metrics are scaled
# to: about the median on the 4-core VM of the README's baseline.
REF_LOOP_S = 0.030
ITERATIONS = 12  # loop iterations per worker per calibration


def _loop_once() -> float:
    """One iteration: interpreter-bound arithmetic, then a numpy sort,
    the two kinds of work the Python workers do."""
    t = time.perf_counter()
    s = 0
    for i in range(300_000):
        s += i * i
    np.sort(np.random.default_rng(s & 0xFFFF).random(200_000))
    return time.perf_counter() - t


def _task(_):
    return [_loop_once() for _ in range(ITERATIONS)]


class Calibrator:
    """A pool of one worker per core that times ``_loop_once``."""

    def __init__(self, cores: int):
        self.cores = cores
        self.samples: list[float] = []
        self._pool = mp.get_context("fork").Pool(cores)
        self._pool.map(_task, range(cores))  # imports and first-touch, untimed

    def pids(self) -> set[int]:
        return {p.pid for p in self._pool._pool} if self._pool else set()

    def measure(self) -> None:
        for times in self._pool.map(_task, range(self.cores)):
            self.samples.extend(times)

    def loop_s(self) -> float:
        """Median loop time over every calibration of the run."""
        return statistics.median(self.samples)

    def scale(self) -> float:
        """Factor that turns a time measured in this run into one at the
        reference machine speed."""
        return REF_LOOP_S / self.loop_s()

    def close(self) -> None:
        if self._pool is not None:
            self._pool.close()
            self._pool.join()
            self._pool = None
