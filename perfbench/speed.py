"""Host speed, measured with fixed work that never calls the program.

The host's vCPUs change speed, and CPU seconds change with them. On an
idle machine, a fixed loop on one thread flips between two speeds about
40% apart every few seconds, and the share of time spent in the slow
state moves over minutes: in one set of ten batch_pipeline runs in a
row, session start fell from 10.6 s to 5.9 s and the CPU seconds per
pass from 13.5 to 8.8, with no change to the code and no stolen time.

So a run probes the host before every measured pass. A probe runs a
fixed sort plus a fixed interpreter loop on four threads at once, one
per vCPU the Spark tasks run on, and keeps the mean thread CPU time.
The run's CPU-second metrics are scaled by ``REF_S / mean probe``.
Recomputed over four sets of five runs (two of them probed with the
sort alone), scaling by probes taken between passes cut the spread of
the CPU seconds per pass in three sets (0.09 to 0.05, 0.22 to 0.16,
0.15 to 0.03) and raised it in the fourth (0.08 to 0.12); it cut that
of the set-up CPU in three. Probes taken before session start and after
it stopped tracked worse. Probes run outside every measured interval,
and call nothing in the program. They do share the machine with
whatever the JVM still runs between passes (JIT compiler and GC
threads), so a program that keeps those busier slows the probe a
little.
"""

from __future__ import annotations

import statistics
import threading
import time

import numpy as np

# a probe's mean between passes on the reference host (4 vCPUs); scaled
# metrics read as CPU seconds on that host
REF_S = 0.035
THREADS = 4


class HostSpeed:
    """The probes of one run."""

    def __init__(self):
        # allocated once, so a probe takes no page faults
        self._src = np.random.default_rng(0).random(1 << 20)
        self._bufs = [np.empty_like(self._src) for _ in range(THREADS)]
        self.samples: list[float] = []

    def _work(self, i: int, out: list[float]) -> None:
        t = time.thread_time()
        for _ in range(2):
            np.copyto(self._bufs[i], self._src)
            self._bufs[i].sort()  # numpy releases the GIL here
        acc: dict[int, int] = {}
        for j in range(50_000):  # interpreter-bound, like the Python workers
            acc[j % 1021] = acc.get(j % 1021, 0) + j
        out[i] = time.thread_time() - t

    def probe(self, reps: int = 3) -> None:
        for _ in range(reps):
            out = [0.0] * THREADS
            threads = [threading.Thread(target=self._work, args=(i, out))
                       for i in range(THREADS)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            self.samples.append(statistics.fmean(out))

    def factor(self) -> float:
        """What a CPU-second figure of this run is multiplied by; 1 when
        the run failed before its first measured pass."""
        return REF_S / statistics.fmean(self.samples) if self.samples else 1.0
