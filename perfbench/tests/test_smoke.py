"""Tiny-size runs of every workload in one Spark session, including the
output checks and a traced cycle. Slow (a few minutes); run with
``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os

import pytest

from perfbench.analytics import Analytics, layer_of
from perfbench.crawl import CrawlFresh, CrawlSteady, engine_metric_names
from perfbench.env import RunEnv
from perfbench.stagestats import StageGapError, StatusStore, marking_tracer, totals


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    with RunEnv(str(tmp_path_factory.mktemp("root"))) as e:
        e.start_spark()
        yield e


def _traced_cycle(wl):
    wl.tracer.install_library_wrappers()
    try:
        wl.cycle(True)
    finally:
        wl.tracer.uninstall()


def test_status_store_diff_and_gap(env):
    store = StatusStore(env.spark)
    a = store.mark()
    env.spark.range(1000).repartition(3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    b = store.mark()
    store.drain()
    t = totals(store, a, b)
    assert t.jobs >= 1 and t.stages >= 1 and t.tasks >= 3 and t.shuffle_write_bytes > 0
    with pytest.raises(StageGapError):  # ids past the last submitted stage
        totals(store, a, type(b)(b.stage + 5, b.job))


def test_crawl_fresh_smoke(env):
    wl = CrawlFresh(env.spark, env, seed=7, tracer=marking_tracer(env.spark))
    wl.N_URLS, wl.WARMUP_URLS = 84, 42
    wl.setup()
    wl.cycle(False)
    _traced_cycle(wl)
    wl.check()
    assert wl.failed == 0, wl.errors
    assert wl.attempted >= 6
    e2e = wl.end_to_end()
    assert e2e["cycle_s"] > 0
    layers = wl.per_layer()
    assert set(layers) == set(engine_metric_names())
    assert layers["engine.phase_coverage"] >= 0.9
    assert layers["engine.jobs"] > 0 and layers["tables.adopt_s"] > 0


def test_crawl_steady_smoke_and_failed_check(env):
    wl = CrawlSteady(env.spark, env, seed=7, tracer=marking_tracer(env.spark))
    wl.N_FRESH = 84
    wl.setup()
    wl.cycle(False)
    _traced_cycle(wl)
    assert wl.failed == 0, wl.errors
    layers = wl.per_layer()
    assert layers["engine.phase_coverage"] >= 0.9
    assert layers["frontier.reseed_s"] > 0 and layers["tables.merge_calls"] > 0
    assert layers["engine.selected"] > 0
    # a row-count mismatch is caught and counted, not raised
    wl.sums["seen"] += 1
    wl._check_epoch(wl.eng, wl.cycles[-1]["stats"])
    assert wl.failed == 1 and "table rows" in wl.errors[-1]


def test_analytics_smoke_and_failed_check(env):
    wl = Analytics(env.spark, env, seed=7, tracer=marking_tracer(env.spark), sf=0.001)
    wl.setup()
    wl.cycle(False)
    wl.cycle(True)
    wl.check()
    assert wl.failed == 0, wl.errors
    assert set(wl.results) == set(wl.leaves)
    e2e = wl.end_to_end()
    assert e2e["cycle_s"] > 0
    layers = wl.per_layer()
    assert all(layers[f"{layer_of(q)}.{q}_jobs"] > 0 for q in wl.leaves)
    # a wrong result fails its oracle comparison, and the pin of this seed
    first = next(iter(wl.results))
    wl.results[first] = wl.results[first].iloc[:-1]
    wl.check()
    assert wl.failed == 2 and any(first in e for e in wl.errors)
    assert os.path.exists(os.path.join(env.root, ".perfbench", "digests.json"))
