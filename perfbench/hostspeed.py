"""Host speed, sampled between timed operations.

The benchmark runs on a few cores of a shared host whose speed drifts with
its neighbours' load: the same run can take twice as long an hour later,
in every phase alike.  A fixed probe - a pure-Python loop and a NumPy sort,
about 2.5 ms on an idle host - is timed at quiet points of a run (no engine
call in flight), and the run's timings are reported scaled by

    factor = REF_S / median(probe times of the run)

that is, in seconds of an idle host.  The raw timings and the factor go to
the details line.  The probe runs in the driver process while Spark and the
Python workers are idle and calls no engine code, so a change to the engine
does not move it, unless the engine leaves threads busy between calls -
that would show as a smaller ``factor`` and in the raw figures.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

# the probe's median time on an idle 4-vCPU host of the kind the benchmark
# was tuned on; it sets the scale of the reported timings, nothing else
REF_S = 0.0025
_ARRAY = np.random.default_rng(0).random(100_000)


def _probe() -> None:
    s = 0
    for i in range(40_000):
        s += i * i % 7
    np.sort(_ARRAY)


class HostSpeed:
    def __init__(self) -> None:
        self.samples: list[float] = []

    def sample(self, n: int = 5) -> None:
        """Time the probe ``n`` times; call it only while no engine call runs."""
        for _ in range(n):
            t0 = time.perf_counter()
            _probe()
            self.samples.append(time.perf_counter() - t0)

    @property
    def median_ms(self) -> float:
        return statistics.median(self.samples) * 1e3

    @property
    def factor(self) -> float:
        """Idle-host seconds per second measured in this run."""
        return REF_S / statistics.median(self.samples)
