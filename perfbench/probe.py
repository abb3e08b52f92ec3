"""The machine's speed during a run, from a fixed piece of pure-Python work.

The host shares its cores with other machines, and its speed drifts by a
factor of two and more within minutes. A run therefore times ``spin()`` in
the benchmark's own process before each timed request or pipeline entry,
while the program is idle, and reads how much of the CPUs' time the host
took meanwhile (steal). The run's times are multiplied by

    REF_SPIN_S / mean spin time * (1 - steal share)

so a reported time is the time the run would have taken at the reference
speed with all of the CPUs' time. The unscaled times, the spin times and the
steal share go to the detail line.
"""

from __future__ import annotations

import os
import statistics
import time

SPIN_N = 100_000  # dict updates per spin(), 10-25 ms
SPINS = 2  # samples before each timed operation
REF_SPIN_S = 0.016  # a middling mean spin() on the reference machine (README)


def spin(n: int = SPIN_N) -> float:
    """Seconds taken by ``n`` dict updates."""
    t = time.perf_counter()
    d: dict[int, int] = {}
    for i in range(n):
        k = i & 1023
        d[k] = d.get(k, 0) + i
    return time.perf_counter() - t


def steal_jiffies() -> int:
    """Time the host took from this machine's CPUs (``/proc/stat`` steal)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class Meter:
    """Spin samples and stolen time over a run, and the factor that scales
    its times."""

    def __init__(self, clock=time.monotonic, spinner=spin, steal=steal_jiffies):
        self.clock, self.spinner, self.steal = clock, spinner, steal
        self.spins: list[float] = []
        self.t0, self.steal0 = clock(), steal()

    def tick(self) -> None:
        """Sample the speed; call it just before a timed operation."""
        self.spins.extend(self.spinner() for _ in range(SPINS))

    def report(self) -> dict:
        """The factor (below 1 when the machine ran slow), the spin times
        and the steal share since the meter started."""
        elapsed = self.clock() - self.t0
        stolen = (self.steal() - self.steal0) / os.sysconf("SC_CLK_TCK")
        share = min(stolen / (elapsed * os.cpu_count()), 1.0) if elapsed > 0 else 0.0
        return {"factor": REF_SPIN_S / statistics.mean(self.spins) * (1.0 - share),
                "spin_ms": [round(s * 1e3, 2) for s in self.spins], "steal_share": share}
