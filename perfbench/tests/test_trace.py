"""Span recording and self-time arithmetic."""

from __future__ import annotations

import threading

import pytest

from perfbench.trace import Span, Tracer, covered


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(1, 9), (2, 3), (4, 5)], 0, 10) == pytest.approx(8)


def test_self_time_subtracts_nested_children():
    c = Clock()
    tr = Tracer(clock=c)
    root = tr.begin("root")
    c.t = 1
    child = tr.begin("child")
    c.t = 3
    grand = tr.begin("grand")
    c.t = 4
    tr.end(grand)
    tr.end(child)
    c.t = 10
    tr.end(root)
    assert child.parent == root.id and grand.parent == child.id
    assert tr.self_time(root) == pytest.approx(7)
    assert tr.self_time(child) == pytest.approx(2)
    assert tr.self_time(grand) == pytest.approx(1)


def test_concurrent_member_threads_count_once():
    """Commit members run on pool threads: each thread's span is parented to
    the span open on the submitting thread, and overlapping members cover
    the parent once, not once per thread."""
    c = Clock()
    tr = Tracer(clock=c)
    root = tr.begin("engine.run_epoch")
    c.t = 2
    spans = {}
    ready = threading.Barrier(4)

    def member(name):
        spans[name] = tr.begin(name)
        ready.wait()  # all three open at once
        ready.wait()
        tr.end(spans[name], end={"a": 5.0, "b": 6.0, "c": 7.0}[name])

    threads = [threading.Thread(target=member, args=(n,)) for n in "abc"]
    for t in threads:
        t.start()
    ready.wait()
    ready.wait()
    for t in threads:
        t.join()
    c.t = 10
    tr.end(root)
    assert {s.parent for s in spans.values()} == {root.id}
    assert {s.thread for s in spans.values()} != {root.thread}
    # children cover [2, 7]: 5 s, counted once although three overlap
    assert tr.self_time(root) == pytest.approx(5)


def test_add_children_from_phase_times_reparents_spans():
    c = Clock()
    tr = Tracer(clock=c)
    ep = tr.begin("engine.run_epoch")
    c.t = 3.5
    merge = tr.begin("tables.merge")
    c.t = 4
    tr.end(merge)
    c.t = 6
    tr.end(ep)
    tr.add_children(ep, [("engine.select_dedup", 1.0), ("engine.fetch_stage", 2.0),
                         ("engine.commits", 2.9)])
    phases = {s.name: s for s in tr.children(ep)}
    assert set(phases) == {"engine.select_dedup", "engine.fetch_stage", "engine.commits"}
    assert phases["engine.commits"].start == pytest.approx(3.0)
    assert merge.parent == phases["engine.commits"].id
    assert tr.self_time(ep) == pytest.approx(0.1)
    assert tr.self_time(phases["engine.commits"]) == pytest.approx(2.4)


def test_wrappers_install_and_uninstall():
    class Lib:
        def work(self, x):
            return x * 2

    orig = Lib.work
    tr = Tracer()
    tr.wrap(Lib, "work", "lib.work")
    assert Lib().work(3) == 6
    assert [s.name for s in tr.spans] == ["lib.work"]
    assert tr.spans[0].end is not None
    tr.uninstall()
    assert Lib.work is orig


def test_root_hooks_see_only_top_level_spans():
    tr = Tracer()
    seen = []
    tr.on_root_start = lambda sp: seen.append(("start", sp.name))
    tr.on_root_end = lambda sp: seen.append(("end", sp.name))
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert seen == [("start", "outer"), ("end", "outer")]


def test_span_duration_open_is_zero():
    assert Span(0, "x", 5.0).duration == 0
