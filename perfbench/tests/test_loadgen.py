import os
import random
import threading
import time

import pytest

from perfbench.loadgen import OpenLoopGenerator, backlog_at_drops, growing, schedule


def test_schedule_spaces_each_rate_and_chains_them():
    due, which = schedule([1.0, 4.0], [2, 3], start=100.0)
    assert due == [100.0, 101.0, 102.0, 102.25, 102.5]
    assert which == [0, 0, 1, 1, 1]


class FakeClock:
    """Time advances only when the generator sleeps, plus a fixed cost per
    drop, so lateness is exact."""

    def __init__(self, t0, drop_cost):
        self.t, self.drop_cost = t0, drop_cost

    def now(self):
        return self.t

    def sleep(self, s):
        self.t += s

    def move(self, src, dst):
        os.rename(src, dst)
        self.t += self.drop_cost


def _staged(tmp_path, n):
    src = tmp_path / "stage"
    src.mkdir()
    paths = []
    for i in range(n):
        p = src / f"f{i:03d}"
        p.write_text(str(i))
        paths.append(str(p))
    dest = tmp_path / "in"
    dest.mkdir()
    return paths, str(dest)


def test_generator_drops_on_schedule_and_reports_its_own_lag(tmp_path):
    paths, dest = _staged(tmp_path, 4)
    clock = FakeClock(1000.0, drop_cost=0.3)
    due = [1000.0, 1000.5, 1001.0, 1001.1]  # the last one is due during the third drop
    g = OpenLoopGenerator(paths, dest, due, clock=clock.now, sleep=clock.sleep, move=clock.move)
    g.run()
    assert g.error is None
    assert sorted(os.listdir(dest)) == [os.path.basename(p) for p in paths]
    assert g.dropped() == 4
    # drop i finishes at max(due_i, previous finish) + 0.3
    assert g.dropped_at == pytest.approx([1000.3, 1000.8, 1001.3, 1001.6])
    assert g.lag_max_s() == pytest.approx(0.5)
    mtimes = [os.stat(os.path.join(dest, os.path.basename(p))).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_generator_stops_promptly_and_joins(tmp_path):
    paths, dest = _staged(tmp_path, 3)
    later = time.time() + 3600
    g = OpenLoopGenerator(paths, dest, [0.0, later, later])
    g.start()
    for _ in range(200):
        if g.dropped() == 1:
            break
        threading.Event().wait(0.01)
    g.stop()
    g.join(timeout=5)
    assert not g.is_alive() and g.error is None
    assert g.dropped() == 1 and os.listdir(dest) == ["f000"]


def test_backlog_counts_files_dropped_and_not_yet_landed():
    dropped = [0.0, 1.0, 2.0, 3.0, 4.0]
    landed = [2.5, 2.5, 4.0, float("inf"), float("inf")]
    assert backlog_at_drops(dropped, landed) == [1, 2, 3, 2, 2]


# The production shape: 8 files at 1 file/s, then 24 at 3 files/s (a
# 16-second run), an engine loop that takes every pending file per cycle.
RATES, PER = [1.0, 3.0], [8, 24]


def _simulate(cycle_s):
    """Drop times, rate index and land time of each file, and the cycle
    lengths, for an engine whose cycle over ``n`` files takes
    ``cycle_s(n)`` seconds."""
    due, which = schedule(RATES, PER, 0.0)
    landed, cycles, t, taken = [float("inf")] * len(due), [], 0.0, 0
    while taken < len(due):
        t = max(t, due[taken])
        n = sum(1 for d in due if d <= t) - taken
        cycles.append(cycle_s(n))
        landed[taken: taken + n] = [t + cycles[-1]] * n
        taken, t = taken + n, t + cycles[-1]
    return due, which, landed, cycles


def _verdicts(due, which, landed, cycles):
    backlog = backlog_at_drops(due, landed)
    cycle = sorted(cycles)[len(cycles) // 2]
    out = []
    for k, rate in enumerate(RATES):
        idx = [i for i in range(len(due)) if which[i] == k]
        out.append(growing([due[i] for i in idx], [backlog[i] for i in idx], due[idx[0]], rate, cycle))
    return out


def test_growth_verdict_at_the_production_cycle_count():
    rng = random.Random(0)
    for _ in range(300):  # a steady engine with ~5 s cycles is never marked
        assert _verdicts(*_simulate(lambda n: rng.uniform(3.5, 6.5) + 0.01 * n)) == [False, False]
    # 0.35 s per file keeps up with 1 file/s and falls behind 3 files/s
    assert _verdicts(*_simulate(lambda n: 1.2 + 0.35 * n)) == [False, True]


def test_growth_needs_three_samples_after_the_first_cycle():
    assert not growing([0.0, 1.0, 5.0, 6.0], [1, 2, 10, 20], 0.0, 1.0, 4.5)
