"""Stage-id range diffs and the eviction (gap) check."""

from __future__ import annotations

import pytest

from perfbench.stagestats import IdMark, StageGapError, skew, totals


class FakeStore:
    def __init__(self, stages: dict[int, dict], tasks: dict[int, list[int]]):
        self.stages, self.tasks = stages, tasks

    def stage(self, sid):
        st = self.stages.get(sid)
        return None if st is None else {"id": sid, "attempt": 0, **st}

    def task_run_ms(self, sid, attempt):
        return self.tasks[sid]


def _stage(tasks, run_ms, shuffle=0, spill=0):
    return {"tasks": tasks, "run_ms": run_ms, "cpu_ns": run_ms * 10**6 // 2,
            "gc_ms": 1, "shuffle_read": shuffle, "shuffle_write": 2 * shuffle, "spill": spill}


def test_totals_cover_exactly_the_id_range():
    store = FakeStore(
        {0: _stage(1, 999), 1: _stage(4, 400, shuffle=10), 2: _stage(2, 100, spill=7),
         3: _stage(0, 0), 4: _stage(9, 999)},
        {1: [100, 100, 100, 100], 2: [40, 60]},
    )
    t = totals(store, IdMark(stage=1, job=5), IdMark(stage=4, job=7))
    assert (t.jobs, t.stages, t.tasks) == (2, 3, 6)
    assert t.task_run_s == pytest.approx(0.5)
    assert t.task_cpu_s == pytest.approx(0.25)
    assert t.gc_s == pytest.approx(0.003)
    assert (t.shuffle_read_bytes, t.shuffle_write_bytes, t.spill_bytes) == (10, 20, 7)
    assert t.task_skew == pytest.approx(1.0)  # widest stage (id 1) is even


def test_skew_is_max_over_median_of_the_widest_stage():
    store = FakeStore({0: _stage(2, 50), 1: _stage(3, 900)}, {1: [100, 200, 600]})
    assert totals(store, IdMark(0, 0), IdMark(2, 1)).task_skew == pytest.approx(3.0)
    assert skew([]) == 1.0
    assert skew([0, 0, 5]) == 1.0


def test_evicted_stage_fails_loudly():
    store = FakeStore({0: _stage(1, 1), 2: _stage(1, 1)}, {0: [1], 2: [1]})
    with pytest.raises(StageGapError, match=r"1 of 3 stages"):
        totals(store, IdMark(0, 0), IdMark(3, 1))


def test_empty_range_is_zero():
    t = totals(FakeStore({}, {}), IdMark(5, 5), IdMark(5, 5))
    assert (t.jobs, t.stages, t.tasks, t.task_run_s) == (0, 0, 0, 0.0)
