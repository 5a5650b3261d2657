"""D7 true TTL (24 h recency window, epoch-denominated) and corrupted-record
invalidation — DetailCrawler.php:125-129, :1172-1210."""

from __future__ import annotations

from pyspark.sql import functions as F

from biz_crawlers_spark.engine.crawl import CrawlEngine
from biz_crawlers_spark.fixtures.web import company_seed
from biz_crawlers_spark.politeness.budget import PolitenessBudget

WEB = {"seed": 42, "n_hosts": 4}


def _engine(spark, wd, **kw):
    return CrawlEngine(
        spark, str(wd), web_params=WEB, budget=PolitenessBudget(time_scale=0),
        per_host_budget=10_000, bloom_shards=4, bloom_bits=1 << 16,
        table_buckets=4, fetch_partitions=4, **kw,
    )


def test_ttl_skip_recrawl_and_corruption(spark, tmp_path):
    seeds = company_seed(114, 3)
    eng = _engine(spark, tmp_path / "ttl", ttl_epochs=5)
    eng.seed_from_urls(seeds)
    stats = eng.run(max_epochs=10)
    assert stats[-1]["drained"]
    fetched0 = sum(s["fetched"] for s in stats)
    n_records = eng.records.read().count()
    assert n_records > 10

    # terminally-failed URLs (junk pages) are NOT in the seen set, so a
    # re-seed re-attempts them (the reference re-attempts failures on the
    # next run); the TTL assertions below are about the seen/ok ones
    n_failed = eng.frontier.read().filter(F.col("state") == "failed").count()

    # (1) re-seed INSIDE the TTL window → every seen URL dedups; only the
    # failed stragglers re-attempt
    eng.reseed_from_urls(seeds)
    st = eng.run_epoch()
    assert st["fetched"] == n_failed and st["deduped"] > 0

    # (2) corrupt one record's biz_items → that URL alone re-fetches even
    # inside the TTL window (the reference deletes the invalid JSON file and
    # re-crawls); the re-fetch REPAIRS the record
    victim = eng.records.read().filter(F.col("url_key").isNotNull()).first()
    eng.records.merge(
        spark.createDataFrame(
            [(victim["entity_id"], "{not-json")], "entity_id string, biz_items string"
        )
    )
    assert (
        eng.records.read()
        .filter(F.col("entity_id") == victim["entity_id"])
        .first()["biz_items"]
        == "{not-json"
    )
    eng.reseed_from_urls(seeds)
    st = eng.run_epoch()
    assert st["fetched"] == n_failed + 1 and st["ok"] == 1
    repaired = (
        eng.records.read().filter(F.col("entity_id") == victim["entity_id"]).first()
    )
    assert repaired["biz_items"] == victim["biz_items"]

    # (3) advance the epoch clock PAST the TTL window → a re-seed re-fetches
    # every previously-ok URL (the 24 h window expired)
    eng._record_state(eng.current_epoch() + 10)
    eng.reseed_from_urls(seeds)
    st = eng.run_epoch()
    assert st["fetched"] > 0 and st["deduped"] == 0
    # everything non-robots-denied refetches; same count as the first crawl
    assert st["fetched"] == fetched0
    assert eng.records.read().count() == n_records


def test_permanent_mode_unchanged(spark, tmp_path):
    """Default (ttl_epochs=None): re-seeding after drain fetches nothing,
    ever — the round-1 permanent-seen semantics are preserved."""
    seeds = company_seed(114, 3)
    eng = _engine(spark, tmp_path / "perm")
    eng.seed_from_urls(seeds)
    eng.run(max_epochs=10)
    n_failed = eng.frontier.read().filter(F.col("state") == "failed").count()
    eng._record_state(eng.current_epoch() + 100)
    eng.reseed_from_urls(seeds)
    st = eng.run_epoch()
    # only the never-seen failures re-attempt; every seen key stays deduped
    assert st["fetched"] == n_failed and st["deduped"] > 0


def test_d9_cache_routing_reparse_without_refetch(spark, tmp_path):
    """D9 (DetailCrawler.php:105-123): keys present in the raw-page archive
    re-parse from cache — proven by re-running against a BROKEN web (a
    different fixture seed would produce different image bytes): the
    restored rows are byte-identical to the originals and fetched == 0."""
    import numpy as np
    from pyspark.sql import functions as F

    from biz_crawlers_spark.engine.repair import repair_lost_payloads

    wd = tmp_path / "d9"
    eng = _engine(spark, wd, archive_pages=True)
    eng.seed_from_urls(company_seed(114, 3))
    eng.run(max_epochs=10)
    recs0 = {r["entity_id"]: r for r in eng.records.read().collect()}
    imgs0 = {r["image_id"]: bytes(r["bytes"]) for r in eng.images.read().collect()}
    assert not eng.pages.is_empty()

    # damage: drop images+records for two fetched-ok payload-bearing keys
    ok_keys = [
        r["url_key"]
        for r in eng.order_log.read()
        .filter((F.col("status") == "ok") & (F.col("n_payload") > 0))
        .limit(2)
        .collect()
    ]
    kdf = spark.createDataFrame([(k,) for k in ok_keys], "url_key long")
    for t in (eng.images, eng.records):
        victims = t.read().join(kdf, "url_key", "left_semi").select(*t.key_cols)
        t.merge(victims, delete=True)
    stats = repair_lost_payloads(eng)
    assert stats["reopened"] == 2

    # the web "breaks": a NEW engine instance on the same workdir sees a
    # different fixture universe; only the archive can reproduce the data
    broken = CrawlEngine(
        spark, str(wd), web_params={"seed": 999, "n_hosts": 4},
        budget=PolitenessBudget(time_scale=0), per_host_budget=10_000,
        bloom_shards=4, bloom_bits=1 << 16, table_buckets=4,
        fetch_partitions=4, archive_pages=True,
    )
    st = broken.run_epoch()
    assert st["cache_hits"] == 2 and st["fetched"] == 0 and st["ok"] == 0

    recs1 = {r["entity_id"]: r for r in broken.records.read().collect()}
    imgs1 = {r["image_id"]: bytes(r["bytes"]) for r in broken.images.read().collect()}
    assert set(recs1) == set(recs0) and set(imgs1) == set(imgs0)
    for eid, r0 in recs0.items():
        for f in ("entity_names", "address", "biz_items", "shareholders",
                  "managers", "capital"):
            assert recs1[eid][f] == r0[f]
    for iid, b0 in imgs0.items():
        assert imgs1[iid] == b0
    # lineage carries the cache_hits evidence
    total_hits = broken.lineage.read().agg(F.sum("cache_hits")).collect()[0][0]
    assert total_hits == 2


def test_vacuum_storage_maintenance(spark, tmp_path):
    """vacuum(): snapshot/filter-version retention shrinks on-disk state
    while the live tables, the Bloom state, and resumability stay
    intact (crash-rollback window preserved)."""
    import os

    def _du(path):
        total = 0
        for dp, _, fns in os.walk(path):
            for fn in fns:
                total += os.path.getsize(os.path.join(dp, fn))
        return total

    eng = CrawlEngine(
        spark, str(tmp_path / "vac"), web_params=WEB,
        budget=PolitenessBudget(time_scale=0), per_host_budget=7,
        bloom_shards=4, bloom_bits=1 << 16, table_buckets=4, fetch_partitions=4,
    )
    eng.seed_from_urls(company_seed(114, 3))
    stats = eng.run(max_epochs=30)  # small budget => many epochs => history
    assert stats[-1]["drained"]
    golden = sorted(r["url_key"] for r in eng.seen.read().collect())
    n_records = eng.records.read().count()

    before = _du(str(tmp_path / "vac"))
    vs = eng.vacuum(keep_last=2)
    after = _du(str(tmp_path / "vac"))
    assert after < before
    assert sum(v.get("expired_snapshots", 0) for v in vs.values()
               if isinstance(v, dict)) > 0
    assert vs["bloom_versions_removed"] >= 1

    # tables unharmed, engine still resumable and re-runnable
    fresh = CrawlEngine(
        spark, str(tmp_path / "vac"), web_params=WEB,
        budget=PolitenessBudget(time_scale=0), per_host_budget=7,
        bloom_shards=4, bloom_bits=1 << 16, table_buckets=4, fetch_partitions=4,
    )
    fresh.resume()
    assert sorted(r["url_key"] for r in fresh.seen.read().collect()) == golden
    assert fresh.records.read().count() == n_records
    st = fresh.run_epoch()
    assert st["drained"] or st["fetched"] == 0


def test_reseed_one_merge_equals_insert_then_reopen(spark, tmp_path):
    """reseed_from_urls commits ONE frontier snapshot whose rows equal the
    two-merge reference: insert-if-absent (prefer="old"), then a reopen that
    sets only state and not_before. Covered: a pending row with retries, a
    done, a failed and a denied row, a known row with a NULL column (the
    seed fills it), a discovered row whose stored order key differs from its
    seed's (the stored values win), unknown URLs, and a duplicate seed."""
    import shutil
    from dataclasses import replace

    from biz_crawlers_spark.frontier.seed import FRONTIER_DDL, seed_df, seed_rows

    seeds = company_seed(114, 3)
    known, unknown = seeds[:6], seeds[6:10]
    rows = [list(r) for r in seed_rows(known)]
    # cols: url_key, canonical_url, host, org_idx, type_idx, page, priority,
    #       state, retries, not_before, discovered_epoch
    rows[0][7:10] = ["pending", 2, 3]
    rows[1][7] = "done"
    rows[2][7:9] = ["failed", 3]
    rows[3][7] = "denied"
    rows[4][3] = None  # a NULL column the seed's value fills
    rows[5][6], rows[5][10] = 999, 1  # discovered: own priority + epoch
    rows.append(list(seed_rows([seeds[10]])[0]))
    rows[-1][7:] = ["done", 0, 0, 2]  # known, NOT reseeded: untouched
    reseed = known + unknown + [known[1], replace(known[5], priority=7)]

    eng = _engine(spark, tmp_path / "one")
    eng.add_seed_df(spark.createDataFrame([tuple(r) for r in rows], FRONTIER_DDL))
    eng._record_state(4)
    shutil.copytree(tmp_path / "one", tmp_path / "two")
    ref = _engine(spark, tmp_path / "two")

    sid = eng.frontier.current_snapshot_id()
    eng.reseed_from_urls(reseed)
    assert eng.frontier.current_snapshot_id() == sid + 1

    df = seed_df(spark, reseed, epoch=ref.current_epoch())
    ref.frontier.merge(df, prefer="old", mostly_new=True)
    ref.frontier.merge(
        df.select(
            "url_key",
            F.lit("pending").alias("state"),
            F.lit(ref.current_epoch()).alias("not_before"),
        )
    )

    def _rows(e):
        return sorted(tuple(r) for r in e.frontier.read().collect())

    got = _rows(eng)
    assert got == _rows(ref)
    assert len(got) == len(rows) + len(unknown)
    by_key = {r[0]: r for r in got}
    assert by_key[rows[0][0]][7:10] == ("pending", 2, 4)
    assert by_key[rows[4][0]][3] == known[4].org_idx
    assert by_key[rows[5][0]][6] == 999
    assert by_key[rows[-1][0]][7] == "done"
