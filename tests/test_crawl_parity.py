"""Crawl-parity: the Spark engine vs the pure-Python reference simulator
(SURVEY.md §5.2.2, BASELINE.json north_rule invariants):

  (a) identical per-host crawl order (sequence of url_keys),
  (b) identical final URL-seen set,
  (c) per-image decoded pixels exact vs simulator + PSNR ≥ 40 dB vs the
      pre-encode golden pixels for lossy formats + caption equality,
  (d) lineage totals account for every frontier row.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from biz_crawlers_spark import codecs
from biz_crawlers_spark.engine.crawl import CrawlEngine
from biz_crawlers_spark.fixtures.web import (
    FixtureWeb,
    business_seed,
    company_seed,
    school_seed,
    search_seed,
)
from biz_crawlers_spark.politeness.budget import PolitenessBudget
from biz_crawlers_spark.simulator.reference_sim import ReferenceSimulator

WEB_PARAMS = {"seed": 42, "n_hosts": 4}
BUDGET = PolitenessBudget(time_scale=0.0)


def _seeds():
    # the school group must be LAST both in insertion order and priority:
    # discovered pages inherit the parent priority, so the reference's
    # append-at-end queue semantics only map onto the engine's priority sort
    # when nothing lower-priority follows (SURVEY.md §7 ordering note)
    return (
        company_seed(114, 3, base_priority=0)
        + business_seed(114, 3, base_priority=100)
        + search_seed(20, base_priority=5000)  # two-hop search→detail flow
        + school_seed(base_priority=10000)
    )


@pytest.fixture(scope="module")
def sim_result():
    web = FixtureWeb(**WEB_PARAMS)
    return ReferenceSimulator(web, BUDGET).run(_seeds())


def _run_engine(spark, workdir, per_host_budget):
    eng = CrawlEngine(
        spark,
        workdir,
        web_params=WEB_PARAMS,
        budget=BUDGET,
        per_host_budget=per_host_budget,
        bloom_shards=4,
        bloom_bits=1 << 16,
        table_buckets=4,
        fetch_partitions=4,
        keep_staging=True,  # the staging archive doubles as two-hop evidence
    )
    eng.seed_from_urls(_seeds())
    stats = eng.run(max_epochs=60)
    assert stats[-1]["drained"], "frontier must drain"
    _assert_adopt_commits(stats)
    return eng, stats


def _assert_adopt_commits(stats):
    """Keeping staging must not change the payload commit path: the tables
    checked here are committed by the adopt that every workload runs."""
    assert any(st["payload_paths"] for st in stats), "no epoch committed payload"
    for st in stats:
        assert set(st["payload_paths"].values()) <= {"adopt", "adopt_patch"}, st


def _engine_order(eng):
    rows = eng.order_log.read().orderBy("host", "epoch", "host_seq").collect()
    order: dict[str, list[int]] = {}
    for r in rows:
        order.setdefault(r["host"], []).append(r["url_key"])
    return order


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory):
    return _run_engine(spark, str(tmp_path_factory.mktemp("crawl")), per_host_budget=10_000)


def test_seen_set_parity(engine_run, sim_result):
    eng, _ = engine_run
    eng_seen = {r["url_key"] for r in eng.seen.read().collect()}
    assert eng_seen == sim_result.seen


def test_crawl_order_parity(engine_run, sim_result):
    eng, _ = engine_run
    assert _engine_order(eng) == sim_result.per_host_order


def test_images_parity_and_psnr(engine_run, sim_result):
    eng, _ = engine_run
    web = FixtureWeb(**WEB_PARAMS)
    rows = eng.images.read().collect()
    eng_by_id = {r["image_id"]: r for r in rows}
    assert set(eng_by_id) == set(sim_result.images)
    # caption equality + exact pixel match vs simulator
    for iid, sim_rec in sim_result.images.items():
        er = eng_by_id[iid]
        assert er["caption"] == sim_rec["caption"]
        pix = codecs.decode(bytes(er["bytes"]), er["fmt"])
        assert np.array_equal(pix, sim_rec["pixels"])
        assert er["w"] == pix.shape[1] and er["h"] == pix.shape[0]
        assert er["phash"] == sim_rec["phash"]
    # PSNR ≥ 40 dB vs pre-encode golden pixels (exact for lossless)
    checked = 0
    for host, keys in sim_result.per_host_order.items():
        for key in keys:
            if sim_result.statuses.get(key) != "ok":
                continue
            url = next(
                (r["canonical_url"] for r in eng.frontier.read()
                 .filter(F.col("url_key") == key).collect()), None
            )
            if url is None or "/school_list" in url:
                continue
            for g in web.images_for(url):
                er = eng_by_id[g["image_id"]]
                pix = codecs.decode(bytes(er["bytes"]), er["fmt"])
                p = codecs.psnr(g["pixels"], pix)
                if g["fmt"] in codecs.LOSSLESS_FMTS:
                    assert np.array_equal(pix, g["pixels"])
                else:
                    assert p >= 40.0, f"{g['image_id']}: PSNR {p:.1f}"
                checked += 1
            if checked > 30:
                break
        if checked > 30:
            break
    assert checked > 0


def test_lineage_accounts_for_everything(engine_run, sim_result):
    eng, _ = engine_run
    tot = (
        eng.lineage.read()
        .groupBy()
        .agg(
            F.sum("fetched").alias("fetched"),
            F.sum("ok").alias("ok"),
            F.sum("failed").alias("failed"),
            F.sum("retried").alias("retried"),
            F.sum("robots_denied").alias("robots_denied"),
            F.sum("not_found").alias("not_found"),
            F.sum("images").alias("images"),
        )
        .collect()[0]
    )
    c = sim_result.counters
    assert tot["fetched"] == c["fetched"]
    assert tot["ok"] == c["ok"]
    assert tot["failed"] == c["failed"]
    assert tot["retried"] == c["retried"]
    assert tot["robots_denied"] == c["robots_denied"]
    assert tot["not_found"] == c["not_found"]
    assert tot["images"] == c["images"]
    # conservation: every frontier row ends in a terminal state
    fr = eng.frontier.read()
    assert fr.filter(F.col("state").isin("pending", "in_flight")).count() == 0


def test_records_parity(engine_run, sim_result):
    """Field-level parity on the FULL record surface (X4-X8, X12, X13, X19):
    entity names, cleaned address, shareholders (incl. the legal-entity
    union), managers (ROC dates), nested capital, and parse_mode."""
    import json as _json

    eng, _ = engine_run
    rows = eng.records.read().collect()
    eng_rec = {r["entity_id"]: r for r in rows}
    assert set(eng_rec) == set(sim_result.records)
    for eid, sr in sim_result.records.items():
        er = eng_rec[eid]
        for f in ("entity_name", "entity_names", "address", "change_date",
                  "biz_items", "shareholders", "managers", "capital",
                  "parse_mode"):
            assert er[f] == sr[f], f"{eid}.{f}: {er[f]!r} != {sr[f]!r}"
    # coverage: the fixture variants must actually be exercised
    multi = sum(
        1 for r in rows if r["entity_names"] and len(_json.loads(r["entity_names"])) > 1
    )
    assert multi >= 3, "X19 multi-name union-type variants must be exercised"
    shs = [s for r in rows for s in _json.loads(r["shareholders"] or "[]")]
    assert sum(1 for s in shs if s["legal_id"]) >= 3, "X5 legal-entity links"
    assert sum(1 for s in shs if s["legal_id"] is None and s["legal_name"]) >= 3
    assert sum(1 for s in shs if not s["legal_name"]) >= 3, "X5 empty legal cell"
    mgrs = [m for r in rows for m in _json.loads(r["managers"] or "[]")]
    assert sum(1 for m in mgrs if m["date"] and m["date"]["year"] >= 2011) >= 3, "X6"
    caps = [c for r in rows for c in _json.loads(r["capital"] or "[]")]
    assert len(caps) >= 3 and all(isinstance(c["amount"], int) for c in caps), "X7"
    assert sum(1 for r in rows if r["parse_mode"] == "regex") >= 2, "X8 fallback"
    # X4/X12/X13: addresses cleaned, control chars stripped
    addrs = [r["address"] for r in rows if r["address"]]
    assert addrs and all("\r" not in a and "&nbsp;" not in a and " " not in a
                         for a in addrs if a)
    assert all("\x01" not in (r["entity_name"] or "") for r in rows), "X13"


def test_multi_epoch_budget_order_parity(spark, tmp_path, sim_result):
    """Small per-host budget forces many epochs; concatenated per-host order
    must still equal the simulator's sequential order."""
    eng, stats = _run_engine(spark, str(tmp_path / "c2"), per_host_budget=7)
    assert len(stats) > 3, "expected multiple epochs"
    assert _engine_order(eng) == sim_result.per_host_order
    eng_seen = {r["url_key"] for r in eng.seen.read().collect()}
    assert eng_seen == sim_result.seen


def test_two_hop_detail_parity(engine_run, sim_result):
    """Two-hop flow (§3.2): per-host detail fetch order equals the
    simulator's, and each engine-selected detail URL is exactly the fixture's
    latest-by-date candidate (X3 golden)."""
    import os

    eng, _ = engine_run
    staged = eng.spark.read.parquet(os.path.join(eng.workdir, "staging"))
    details = staged.filter(
        (F.col("row_type") == "status") & F.col("parent_key").isNotNull()
    ).collect()
    assert details, "no two-hop detail fetches recorded"
    pairs = {r["parent_key"]: r["url_key"] for r in details}
    order = _engine_order(eng)
    eng_detail = {
        h: [pairs[k] for k in keys if k in pairs] for h, keys in order.items()
    }
    eng_detail = {h: v for h, v in eng_detail.items() if v}
    assert eng_detail == sim_result.detail_order
    # golden latest-pick + PSNR/caption on detail payloads
    from biz_crawlers_spark import codecs
    from biz_crawlers_spark.frontier.canonical import url_key as ukey

    web = FixtureWeb(**WEB_PARAMS)
    fr = {r["url_key"]: r["canonical_url"] for r in eng.frontier.read().collect()}
    eng_imgs = {r["image_id"]: r for r in eng.images.read().collect()}
    checked = psnr_checked = 0
    for pk, dk in pairs.items():
        su = fr.get(pk)
        if not su or "/search" not in su:
            continue
        golden_url = web.latest_detail_url(su)
        assert ukey(golden_url) == dk
        checked += 1
        if sim_result.statuses.get(dk) == "ok" and psnr_checked < 6:
            for g in web.images_for(golden_url):
                er = eng_imgs[g["image_id"]]
                assert er["caption"] == g["caption"]
                pix = codecs.decode(bytes(er["bytes"]), er["fmt"])
                assert codecs.psnr(g["pixels"], pix) >= 40.0
                psnr_checked += 1
    assert checked >= 10 and psnr_checked >= 3


def test_salted_fetch_mode_order_parity(spark, tmp_path, sim_result):
    """Throughput mode (salted fetch lanes) must produce the identical
    derived crawl order, seen set — the salting changes physical placement
    only (north_rule: salted-repartition skew kill)."""
    eng = CrawlEngine(
        spark, str(tmp_path / "c4"), web_params=WEB_PARAMS, budget=BUDGET,
        per_host_budget=10_000, bloom_shards=4, bloom_bits=1 << 16,
        table_buckets=4, fetch_partitions=4, fetch_salting=4,
    )
    eng.seed_from_urls(_seeds())
    stats = eng.run(max_epochs=30)
    assert stats[-1]["drained"]
    assert _engine_order(eng) == sim_result.per_host_order
    assert {r["url_key"] for r in eng.seen.read().collect()} == sim_result.seen


def test_reseed_dedups_before_fetch(spark, tmp_path):
    """D2: re-enqueued already-seen URLs are skipped by Bloom+anti-join
    without fetching (the reference's filename-seen fast path)."""
    eng, _ = _run_engine(spark, str(tmp_path / "c3"), per_host_budget=10_000)
    total_fetched_before = eng.lineage.read().agg(F.sum("fetched")).collect()[0][0]
    # force the done rows back to pending (as a re-enumeration would)
    fr = eng.frontier.read().filter(F.col("state") == "done")
    eng.frontier.merge(fr.withColumn("state", F.lit("pending")))
    stats = eng.run_epoch()
    assert stats["fetched"] == 0
    assert stats["deduped"] > 0
    total_fetched_after = eng.lineage.read().agg(F.sum("fetched")).collect()[0][0]
    assert total_fetched_after == total_fetched_before


def test_schedule_and_request_spec_parity(spark, tmp_path):
    """S3/P6/S4: the engine's per-host virtual politeness clock — including
    session warmups (2-request init), session-reset recharges on every 2nd
    retry, linear retry waits, and the POST form spec for search pages —
    must equal the sequential reference simulator's clock EXACTLY, per
    url_key (single epoch, strict host-per-partition mode)."""
    import os

    budget = PolitenessBudget(
        time_scale=0.0, warmup_requests=2, backoff="linear", retry_delay_s=3.0
    )
    seeds = company_seed(114, 3) + search_seed(25, base_priority=5000)
    sim = ReferenceSimulator(FixtureWeb(**WEB_PARAMS), budget).run(seeds)
    assert sim.counters["retried"] > 0, "fixture must exercise retries"

    eng = CrawlEngine(
        spark, str(tmp_path / "sched"), web_params=WEB_PARAMS, budget=budget,
        per_host_budget=10**9, bloom_shards=4, bloom_bits=1 << 16,
        table_buckets=4, fetch_partitions=4, keep_staging=True,
    )
    eng.seed_from_urls(seeds)
    st = eng.run_epoch()
    assert st["ok"] > 0, "search POSTs must succeed (S4 spec validated by fixture)"
    _assert_adopt_commits([st])

    staged = spark.read.parquet(os.path.join(eng.workdir, "staging", "epoch=0"))
    rows = staged.filter(F.col("row_type") == "status").collect()
    eng_sched = {r["url_key"]: r["scheduled_at"] for r in rows}
    eng_status = {r["url_key"]: r["status"] for r in rows}
    sim_keys = set(sim.schedule)
    assert sim_keys == {
        k for k, s in eng_status.items() if s != "robots_denied"
    }
    for k in sim_keys:
        assert eng_sched[k] == sim.schedule[k], (
            f"schedule divergence for {k}: {eng_sched[k]} != {sim.schedule[k]}"
        )
    for k, s in sim.statuses.items():
        if s != "robots_denied":
            assert eng_status[k] == s
