"""P8 distributed robots resolution + the Transport seam (VERDICT r2 #2/#6).

- robots.txt is resolved by a distributed pre-pass into the robots SnapTable:
  the driver performs ZERO robots fetches (proven by poisoning the
  driver-side FixtureWeb.fetch — worker processes re-import the module, so
  only a driver-side call would hit the poison), one append per epoch with new
  hosts, none afterwards, TTL re-fetch when configured (read through the
  engine's TTL-windowed view).
- the engine is not fixture-welded: a dict-backed DictTransport built by
  snapshotting FixtureWeb's behavior passes the schedule/request-spec parity
  test unchanged (same assertions, same budget, same seeds).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biz_crawlers_spark.engine.crawl import CrawlEngine
from biz_crawlers_spark.engine.transport import (
    DictTransport,
    make_transport,
    snapshot_transport,
)
from biz_crawlers_spark.fixtures.web import (
    FixtureWeb,
    company_seed,
    hosts,
    search_seed,
)
from biz_crawlers_spark.frontier.canonical import canonicalize
from biz_crawlers_spark.frontier.seed import synthetic_seed_df
from biz_crawlers_spark.politeness.budget import PolitenessBudget
from biz_crawlers_spark.simulator.reference_sim import ReferenceSimulator

WEB_PARAMS = {"seed": 42, "n_hosts": 4}


def _engine(spark, wd, web_params=WEB_PARAMS, **kw):
    kw.setdefault("per_host_budget", 10_000)
    return CrawlEngine(
        spark, str(wd), web_params=web_params,
        budget=PolitenessBudget(time_scale=0), bloom_shards=4,
        bloom_bits=1 << 16, table_buckets=4, fetch_partitions=4, **kw,
    )


def test_robots_distributed_o1_driver(spark, tmp_path, monkeypatch):
    """10^3-host epoch: robots land in the robots SnapTable via the worker
    pre-pass; the DRIVER never fetches (poisoned), and an epoch with no new
    hosts commits no new robots snapshot."""

    def _boom(self, url, attempt=0, method="GET", payload=None):
        raise AssertionError(f"driver-side fetch of {url}")

    # poison ONLY the driver process: executors re-import fixtures.web in
    # their own interpreters, so a passing crawl proves all robots fetches
    # happened in workers
    monkeypatch.setattr(FixtureWeb, "fetch", _boom)

    eng = _engine(
        spark, tmp_path / "r1k",
        web_params={"seed": 42, "n_hosts": 1000, "max_images_per_page": 1},
        per_host_budget=2000,
    )
    eng.add_seed_df(synthetic_seed_df(spark, 4000, n_hosts=1000))
    st0 = eng.run_epoch()
    assert st0["fetched"] + st0["robots_denied"] > 0
    n_hosts_seen = eng.robots.read().count()
    assert n_hosts_seen > 500  # most of the 10^3 hosts contacted in epoch 0
    assert (
        eng.robots.read().filter(F.col("rules").isNull()).count() == 0
    ), "every contacted host has parsed rules persisted"
    sid0 = eng.robots.current_snapshot_id()

    st1 = eng.run_epoch()  # the h0 remainder: no new hosts
    assert st1["fetched"] > 0
    assert eng.robots.current_snapshot_id() == sid0, (
        "an epoch without new hosts must not commit a robots snapshot"
    )
    # the table is the durable cache: a fresh engine instance reuses it
    eng2 = _engine(
        spark, tmp_path / "r1k",
        web_params={"seed": 42, "n_hosts": 1000, "max_images_per_page": 1},
        per_host_budget=2000,
    )
    eng2.run_epoch()
    assert eng2.robots.current_snapshot_id() == sid0


def test_robots_ttl_refetch(spark, tmp_path):
    """robots_ttl_epochs: rules older than the TTL re-fetch; within the TTL
    they do not. The current rules are read through the engine's windowed
    view (the robots table is append-only, so an expired row stays behind
    in the raw table)."""
    seeds = company_seed(114, 3)
    eng = _engine(spark, tmp_path / "ttl", robots_ttl_epochs=3, ttl_epochs=1)
    eng.seed_from_urls(seeds)
    eng.run(max_epochs=5)
    sid = eng.robots.current_snapshot_id()
    first = {
        r["host"]: r["rules"]
        for r in eng._known_robots_hosts(eng.current_epoch()).collect()
    }
    assert first

    # inside the TTL window: reseed → no robots re-fetch
    eng.reseed_from_urls(seeds)
    eng.run_epoch()
    assert eng.robots.current_snapshot_id() == sid

    # jump past the TTL: every host re-fetches at the jump epoch
    jump = eng.current_epoch() + 10
    eng._record_state(jump)
    eng.reseed_from_urls(seeds)
    eng.run_epoch()
    after = {r["host"]: r["rules"] for r in eng._known_robots_hosts(jump).collect()}
    assert after == first
    fresh = eng.robots.read().filter(F.col("fetched_epoch") == jump)
    assert {r["host"] for r in fresh.collect()} == set(first)
    assert eng.robots.current_snapshot_id() > sid


def test_robots_ttl_view_key_unique_and_fresh(spark, tmp_path):
    """After a TTL re-fetch the append-only table holds every host twice
    and the windowed view once, and the fetch stage joins only the fresh
    rules: expired rows rewritten to deny everything deny nothing."""
    seeds = company_seed(114, 3)
    eng = _engine(spark, tmp_path / "ttlv", robots_ttl_epochs=3, ttl_epochs=1)
    eng.seed_from_urls(seeds)
    eng.run(max_epochs=5)
    deny_all = '["D:/"]'
    eng.robots.overwrite(eng.robots.read().withColumn("rules", F.lit(deny_all)))
    jump = eng.current_epoch() + 10
    eng._record_state(jump)
    eng.reseed_from_urls(seeds)
    st = eng.run_epoch()
    view = eng._known_robots_hosts(jump).collect()
    hosts = [r["host"] for r in view]
    assert len(hosts) == len(set(hosts)) > 0
    assert eng.robots.read().count() == 2 * len(hosts)
    assert all(r["rules"] != deny_all for r in view)
    assert st["fetched"] > 0
    assert st["fetched"] + st["robots_denied"] + st["deduped"] == st["selected"]


def test_dict_transport_unit():
    t = DictTransport(
        responses={"u": [("throttled", "slow"), ("ok", "fine")]},
        specs={"p": ("POST", "x=1")},
    )
    assert t.fetch("u")["status"] == "throttled"
    assert t.fetch("u", attempt=1) == {"status": "ok", "body": b"fine"}
    assert t.fetch("u", attempt=9)["status"] == "ok"  # clamped
    assert t.fetch("missing")["status"] == "not_found"
    assert t.fetch("p", method="GET")["status"] == "error"
    assert make_transport({"transport": "dict", "responses": {}}).fetch("z")[
        "status"
    ] == "not_found"


def _dict_web_params(budget: PolitenessBudget, seeds):
    """Snapshot FixtureWeb's behavior over the crawl's reachable URL set
    (seeds + robots + two-hop detail pages) into DictTransport params."""
    web = FixtureWeb(**WEB_PARAMS)
    urls = [canonicalize(s.url) for s in seeds]
    urls += [f"https://{h}/robots.txt" for h in hosts(WEB_PARAMS["n_hosts"])]
    for s in seeds:
        cu = canonicalize(s.url)
        if "/search" in cu:
            d = web.latest_detail_url(cu)
            if d:
                urls.append(d)
    return snapshot_transport(web, urls, max_attempts=budget.max_retries + 1)


def _assert_schedule_parity(spark, tmp_path, tag, budget, seeds, web_params, sim_params):
    """The schedule/request-spec parity assertions of
    test_crawl_parity.test_schedule_and_request_spec_parity, run UNCHANGED
    against an alternative transport: the engine's politeness/session/retry
    semantics are transport-independent (the seam is real). ``sim_params``
    drives the pure-Python simulator (for the http transport the simulator
    uses the in-process fixture — same web by construction — so it does not
    consume the live server's per-URL retry counters)."""
    sim = ReferenceSimulator(make_transport(sim_params), budget).run(seeds)
    assert sim.counters["retried"] > 0, "fixture must exercise retries"

    eng = CrawlEngine(
        spark, str(tmp_path / f"sched_{tag}"), web_params=web_params,
        budget=budget, per_host_budget=10**9, bloom_shards=4,
        bloom_bits=1 << 16, table_buckets=4, fetch_partitions=4,
        keep_staging=True,
    )
    eng.seed_from_urls(seeds)
    st = eng.run_epoch()
    assert st["ok"] > 0, "search POSTs must succeed (S4 spec validated)"

    staged = spark.read.parquet(os.path.join(eng.workdir, "staging", "epoch=0"))
    rows = staged.filter(F.col("row_type") == "status").collect()
    eng_sched = {r["url_key"]: r["scheduled_at"] for r in rows}
    eng_status = {r["url_key"]: r["status"] for r in rows}
    assert set(sim.schedule) == {
        k for k, s in eng_status.items() if s != "robots_denied"
    }
    for k in sim.schedule:
        assert eng_sched[k] == sim.schedule[k], f"schedule divergence for {k}"
    for k, s in sim.statuses.items():
        if s != "robots_denied":
            assert eng_status[k] == s
    return st


_PARITY_BUDGET = dict(
    time_scale=0.0, warmup_requests=2, backoff="linear", retry_delay_s=3.0
)


@pytest.mark.parametrize("transport", ["fixture", "dict"])
def test_schedule_parity_any_transport(spark, tmp_path, transport):
    budget = PolitenessBudget(**_PARITY_BUDGET)
    seeds = company_seed(114, 3) + search_seed(25, base_priority=5000)
    web_params = (
        WEB_PARAMS if transport == "fixture" else _dict_web_params(budget, seeds)
    )
    _assert_schedule_parity(
        spark, tmp_path, transport, budget, seeds, web_params, web_params
    )


def test_schedule_parity_http_transport(spark, tmp_path):
    """VERDICT r3 #3: the urllib HTTPTransport against a loopback
    http.server serving the fixture web passes the SAME parity suite —
    statuses, retry schedule, S4 POST specs, and binary payload bodies all
    survive a real network round-trip."""
    from biz_crawlers_spark.fixtures.httpd import FixtureHTTPServer

    budget = PolitenessBudget(**_PARITY_BUDGET)
    seeds = company_seed(114, 3) + search_seed(25, base_priority=5000)
    with FixtureHTTPServer(WEB_PARAMS) as srv:
        st = _assert_schedule_parity(
            spark, tmp_path, "http", budget, seeds,
            {"transport": "http", "base_addr": srv.addr},
            WEB_PARAMS,
        )
    assert st["images"] > 0, (
        "image payloads must survive the HTTP round-trip byte-exact "
        "(decode would fail otherwise)"
    )


def test_http_transport_unit():
    """Direct HTTPTransport semantics against the loopback server: status
    mapping, POST spec validation, throttle-once via server-side hit
    counting, byte-exact bodies vs the in-process fixture."""
    from biz_crawlers_spark.engine.transport import HTTPTransport
    from biz_crawlers_spark.fixtures.httpd import FixtureHTTPServer

    fx = FixtureWeb(**WEB_PARAMS)
    with FixtureHTTPServer(WEB_PARAMS) as srv:
        t = HTTPTransport(base_addr=srv.addr)
        h = hosts(WEB_PARAMS["n_hosts"])
        # robots: h1 has rules, last host 404s
        r = t.fetch(f"https://{h[1]}/robots.txt")
        assert r == fx.fetch(f"https://{h[1]}/robots.txt")
        assert t.fetch(f"https://{h[-1]}/robots.txt")["status"] == "not_found"
        # a detail page: byte-exact body incl. embedded base64 image payloads
        url = f"https://{h[0]}/report?fileName=11403O00est.pdf&subPath=11403"
        assert t.fetch(url)["body"] == fx.fetch(url)["body"]
        # S4: search without the POST spec is an error; with it, content flows
        s = next(s.url for s in search_seed(25) if fx.classify(canonicalize(s.url)) == "ok")
        su = canonicalize(s)
        assert t.fetch(su)["status"] == "error"  # GET → 405
        qc = su.split("qryCond=")[1]
        ok = t.fetch(su, method="POST", payload=f"qryType=cmpyType&qryCond={qc}")
        assert ok["status"] == "ok" and b"eslist-table" in ok["body"]
        # throttle-once: server hit counters stand in for the attempt arg
        srv.reset_hits()
        tu = next(
            f"https://{h[0]}/report?fileName={n:05d}O01chg.pdf&subPath={n:05d}"
            for n in range(10000, 11000)
            if fx.classify(
                f"https://{h[0]}/report?fileName={n:05d}O01chg.pdf&subPath={n:05d}"
            )
            == "throttle_once"
        )
        first, second = t.fetch(tu), t.fetch(tu)
        assert first["status"] == "throttled"
        assert second["status"] == "ok"
        # transport errors (nothing listening) classify as retryable error
        dead = HTTPTransport(base_addr="127.0.0.1:9", timeout=0.5)
        assert dead.fetch("https://x.test/a")["status"] == "error"
