"""Facts about the host a run measured on: CPU steal and peak memory.

Steal is CPU time the hypervisor gave to other guests while this machine's
virtual CPUs wanted to run. It slows every timed operation, and by more
than its share: on a 4-core guest a run-level steal of 5% cut drain
throughput by about a fifth. :class:`HostSteal` samples ``/proc/stat``
through the run, so that the steal share of any measured interval can be
read afterwards and a sample taken under steal can be set aside.
"""

from __future__ import annotations

import bisect
import os
import threading
import time


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return 100.0 * delta[7] / total if total > 0 and len(delta) > 7 else 0.0


class HostSteal:
    """Samples the host's cumulative CPU times every ``interval`` seconds on
    a thread, from :meth:`start` to :meth:`stop`."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.times: list[float] = []
        self.points: list[list[int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="perfbench-steal", daemon=True)

    def _sample(self) -> None:
        self.points.append(cpu_times())
        self.times.append(time.time())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> HostSteal:
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def pct(self, t0: float, t1: float) -> float:
        """Steal share (%) of the host's CPU time from the last sample at or
        before ``t0`` to the first at or after ``t1``."""
        i = max(0, bisect.bisect_right(self.times, t0) - 1)
        j = min(len(self.times) - 1, bisect.bisect_left(self.times, t1))
        return steal_pct(self.points[i], self.points[j]) if j > i else 0.0


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``root_pid`` and every
    descendant: the driver JVM and any Python workers."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
