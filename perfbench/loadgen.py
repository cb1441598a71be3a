"""Open-loop file generator: the trickle workload's independent users.

One thread moves pre-staged stream files into the watched directory on a
fixed schedule. The schedule never waits for the engine: a file is due at
its scheduled time whether or not earlier files have been processed, and
the benchmark times every file from that due time, so a stall shows as
latency on the files behind it. The generator records how late it ran
itself; a run whose generator lagged is a measurement of the generator,
not of the engine.
"""

from __future__ import annotations

import os
import threading
import time


def schedule(rates: list[float], files_per_rate: list[int], start: float) -> tuple[list[float], list[int]]:
    """Due times (wall clock) and the rate index of each file: the files of
    rate ``k`` follow those of rate ``k - 1`` at ``1 / rates[k]`` spacing."""
    due, which = [], []
    t = start
    for k, (r, n) in enumerate(zip(rates, files_per_rate)):
        for _ in range(n):
            due.append(t)
            which.append(k)
            t += 1.0 / r
    return due, which


class OpenLoopGenerator(threading.Thread):
    """Drops ``staged[i]`` into ``dest`` at ``due[i]`` by an atomic rename.

    The file's modification time is set just before the rename and kept
    strictly increasing, so the file source orders files exactly as they
    were scheduled. ``clock`` and ``sleep`` are injectable for tests."""

    def __init__(self, staged: list[str], dest: str, due: list[float],
                 clock=time.time, sleep=None, move=os.rename):
        super().__init__(name="perfbench-loadgen", daemon=True)
        if len(staged) != len(due):
            raise ValueError("one due time per staged file")
        self.staged, self.dest, self.due = staged, dest, due
        self.clock, self.move = clock, move
        self._lock = threading.Lock()
        self._dropped = 0
        self.dropped_at: list[float] = []
        self.error: BaseException | None = None
        self._halt = threading.Event()
        self.sleep = sleep or self._halt.wait

    def run(self) -> None:
        last_mtime = 0.0
        try:
            for path, due in zip(self.staged, self.due):
                wait = due - self.clock()
                if wait > 0:
                    self.sleep(wait)
                if self._halt.is_set():
                    return
                mtime = max(self.clock(), last_mtime + 0.002)
                os.utime(path, (mtime, mtime))
                self.move(path, os.path.join(self.dest, os.path.basename(path)))
                last_mtime = mtime
                with self._lock:
                    self.dropped_at.append(self.clock())
                    self._dropped += 1
        except BaseException as exc:  # surfaced by the engine loop
            self.error = exc

    def stop(self) -> None:
        self._halt.set()

    def dropped(self) -> int:
        with self._lock:
            return self._dropped

    def lag_max_s(self) -> float:
        """How late the generator itself ran: the largest gap between a
        file's due time and its actual drop."""
        with self._lock:
            return max((a - d for a, d in zip(self.dropped_at, self.due)), default=0.0)


def backlog_at_drops(dropped_at: list[float], landed_at: list[float]) -> list[int]:
    """Files dropped but not yet landed, sampled on the generator's clock
    just after each drop: ``len(dropped_at[: i + 1])`` minus the files
    whose rows landed (``landed_at``, the end of the engine cycle that sank
    them; ``inf`` if never) by then."""
    landed = sorted(landed_at)
    out, k = [], 0
    for i, t in enumerate(dropped_at):
        while k < len(landed) and landed[k] <= t:
            k += 1
        out.append(i + 1 - k)
    return out


def growing(times: list[float], backlog: list[int], phase_start: float, rate: float, cycle_s: float) -> bool:
    """True when the backlog grows through a rate's phase.

    ``times`` and ``backlog`` are the phase's drop-time samples. Those of
    the phase's first cycle still carry the previous phase and are left
    out. Under a steady engine the backlog saws between one and two
    cycles' arrivals, so the mean of the last third of the samples may
    exceed that of the first third by at most one cycle's arrivals,
    ``rate * cycle_s``; more is growth. Fewer than three samples give no
    verdict."""
    pts = [b for t, b in zip(times, backlog) if t >= phase_start + cycle_s]
    if len(pts) < 3:
        return False
    third = len(pts) // 3
    first, last = pts[:third], pts[-third:]
    return sum(last) / third - sum(first) / third > rate * cycle_s
