"""How much CPU time the hypervisor withheld from this machine, over
any interval of a run.

On a virtual machine that shares its host, the hypervisor may leave a
runnable virtual CPU unscheduled; the guest kernel counts that time as
*steal* in ``/proc/stat``.  Time stolen while the program wanted a CPU
stretches every duration the benchmark measures without the program
doing more work, and on a busy host it comes and goes over minutes.
``HostMeter`` samples the machine's busy and stolen ticks on a thread;
``adjust`` scales a measured duration by the share of the CPU time the
machine asked for in that interval that it was given:

    adjusted = measured * busy / (busy + steal)

For CPU-bound work this is the duration the same work takes when no
tick is stolen; with no steal it is the measured duration.
"""

from __future__ import annotations

import threading
import time
from bisect import bisect_left, bisect_right

PERIOD_S = 0.05


def read_ticks() -> tuple[int, int]:
    """(busy, stolen) ticks of all CPUs since boot; busy is user, nice,
    system, irq and softirq time."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


class HostMeter:
    """Use as a context manager around the run.  ``adjust`` is exact for
    an interval that ended before the last ``mark`` or the exit.  Times
    are ``time.perf_counter`` readings."""

    def __init__(self, period_s: float = PERIOD_S):
        self.period_s = period_s
        self.samples: list[tuple[float, int, int]] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="hostmeter", daemon=True)

    def mark(self) -> None:
        """Take a sample now, so that every interval ending before this
        call is bracketed by samples."""
        with self._lock:
            self.samples.append((time.perf_counter(), *read_ticks()))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.mark()

    def __enter__(self) -> HostMeter:
        self.mark()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.mark()

    def stolen_share(self, t0: float, t1: float) -> float:
        """steal / (busy + steal) from the last sample at or before
        ``t0`` to the first at or after ``t1``."""
        with self._lock:
            samples = list(self.samples)
        times = [s[0] for s in samples]
        i = max(0, bisect_right(times, t0) - 1)
        j = min(len(times) - 1, bisect_left(times, t1))
        busy = samples[j][1] - samples[i][1]
        steal = samples[j][2] - samples[i][2]
        return steal / (busy + steal) if busy + steal else 0.0

    def adjust(self, t0: float, t1: float) -> float:
        """Seconds from ``t0`` to ``t1`` less the stolen share."""
        return (t1 - t0) * (1.0 - self.stolen_share(t0, t1))
