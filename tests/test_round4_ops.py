"""Round-4 operator upgrades (VERDICT r3 "Next round" + ADVICE r3):

- steady-state robots fast path: an epoch where every host is already in the
  robots cache plans ZERO robots jobs (asserted via the Spark status
  tracker's job-group accounting — all robots work is tagged "robots")
- SnapTable.ensure_meta: a workdir created by a pre-``corrupt`` engine
  version migrates on open; the D7 corruption probe works on legacy data
  files via on-the-fly derived-column healing (ADVICE r3 medium)
- merge touched_hint="all": skips the discovery job, result identical
- order-log ranking: the staged ranker equals a test-side row_number
  reference in strict, range-lane and archive (cached + fetched) epochs
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from biz_crawlers_spark.engine.crawl import CrawlEngine
from biz_crawlers_spark.frontier.seed import (
    ORDER_COLS,
    RECORDS_CORRUPT_EXPR,
    RECORDS_DDL,
    synthetic_seed_df,
)
from biz_crawlers_spark.politeness.budget import PolitenessBudget
from biz_crawlers_spark.tables.snaptable import SnapTable

LEGACY_RECORDS_DDL = RECORDS_DDL.rsplit(", corrupt boolean", 1)[0]


def _engine(spark, wd, **kw):
    kw.setdefault("per_host_budget", 10_000)
    return CrawlEngine(
        spark, str(wd), web_params={"seed": 42, "n_hosts": 8, "max_images_per_page": 1},
        budget=PolitenessBudget(time_scale=0), bloom_shards=4,
        bloom_bits=1 << 16, table_buckets=4, fetch_partitions=4, **kw,
    )


def _robots_job_ids(spark) -> set:
    tracker = spark.sparkContext.statusTracker()
    return set(tracker.getJobIdsForGroup("robots"))


def test_steady_state_robots_plans_zero_jobs(spark, tmp_path):
    """Epoch 0 contacts new hosts (robots jobs submitted, tagged "robots");
    epoch 1 re-uses the cache for the SAME hosts — the status tracker must
    show no new job in the robots group, and no robots snapshot commits."""
    eng = _engine(spark, tmp_path / "rsteady", per_host_budget=300)
    eng.add_seed_df(synthetic_seed_df(spark, 3000, n_hosts=8))
    st0 = eng.run_epoch()
    assert st0["fetched"] > 0
    jobs_after_e0 = _robots_job_ids(spark)
    assert jobs_after_e0, "epoch 0 must have submitted tagged robots jobs"
    sid0 = eng.robots.current_snapshot_id()

    st1 = eng.run_epoch()  # h0 remainder: same hosts, all cached
    assert st1["fetched"] > 0
    # compare ID SETS, not counts: the status store retains a bounded job
    # history, so mid-suite eviction can shrink the group — only a NEW id
    # would mean a robots job was planned
    assert not (_robots_job_ids(spark) - jobs_after_e0), (
        "a steady-state epoch must plan ZERO robots jobs"
    )
    assert eng.robots.current_snapshot_id() == sid0


def test_ensure_meta_migrates_legacy_records_workdir(spark, tmp_path):
    """A records table written WITHOUT the generated ``corrupt`` column
    (round-2-era workdir) reopened through CrawlEngine: meta migrates, the
    stats probe plans instead of raising, and the legacy corrupt row is
    found via on-the-fly healing (ADVICE r3 medium)."""
    wd = tmp_path / "legacy"
    os.makedirs(wd, exist_ok=True)
    legacy = SnapTable.create(
        spark, str(wd / "records"), LEGACY_RECORDS_DDL, ["entity_id"], n_buckets=4
    )
    rows = [
        ("00000001", "好公司", "[\"好公司\"]", "addr", None, "[]", "[]", "[]",
         "[]", "dom", "est", 11, 0),
        ("00000002", "壞公司", "[\"壞公司\"]", "addr", None, "{not json", "[]",
         "[]", "[]", "dom", "est", 22, 0),
    ]
    legacy.append(spark.createDataFrame(rows, LEGACY_RECORDS_DDL))

    eng = _engine(spark, wd, ttl_epochs=2)
    # meta migrated in place
    meta = json.load(open(wd / "records" / "_meta.json"))
    assert meta["schema_ddl"] == RECORDS_DDL
    assert meta["derived"] == {"corrupt": RECORDS_CORRUPT_EXPR}
    assert meta["stat_cols"] == ["corrupt"]
    # the probe expression the D7 branch runs — previously AnalysisException
    probed = eng.records.read_stats_pruned("corrupt")
    assert probed is not None, "legacy files lack stats => conservatively read"
    bad = probed.filter(F.col("corrupt")).select("entity_id").collect()
    assert [r["entity_id"] for r in bad] == ["00000002"]
    # read() heals too: corrupt is never NULL on a migrated table
    assert eng.records.read().filter(F.col("corrupt").isNull()).count() == 0
    # a crawl epoch on the migrated workdir runs end-to-end
    eng.add_seed_df(synthetic_seed_df(spark, 60, n_hosts=8))
    st = eng.run_epoch()
    assert st["fetched"] > 0
    # the physical rewrite stored the healed values: files now carry stats
    m = eng.records._load_manifest(eng.records.current_snapshot_id())
    assert any("stats" in f and "corrupt" in f["stats"] for f in m["files"])


def test_ensure_meta_rejects_incompatible_schema(spark, tmp_path):
    t = SnapTable.create(spark, str(tmp_path / "bad"), "a string, b int", ["a"])
    import pytest

    with pytest.raises(ValueError, match="incompatible schema evolution"):
        t.ensure_meta("a string, c string, b int")
    # pure additions are fine
    assert t.ensure_meta("a string, b int, c string") is True
    assert t.ensure_meta("a string, b int, c string") is False  # idempotent


def test_merge_touched_hint_all_is_equivalent(spark, tmp_path):
    ddl = "id string, v long"
    t1 = SnapTable.create(spark, str(tmp_path / "h1"), ddl, ["id"], n_buckets=4)
    t2 = SnapTable.create(spark, str(tmp_path / "h2"), ddl, ["id"], n_buckets=4)
    base = spark.createDataFrame([(f"{i:08d}", i) for i in range(50)], ddl)
    upd = spark.createDataFrame(
        [(f"{i:08d}", 1000 + i) for i in range(25, 75)], ddl
    )
    for t in (t1, t2):
        t.append(base)
    t1.merge(upd)
    t2.merge(upd, touched_hint="all")
    rows1 = sorted((r["id"], r["v"]) for r in t1.read().collect())
    rows2 = sorted((r["id"], r["v"]) for r in t2.read().collect())
    assert rows1 == rows2
    assert len(rows2) == 75
    # the hint path never kept a stale file: every current file was rewritten
    sid = t2.current_snapshot_id()
    m = t2._load_manifest(sid)
    assert all(f["path"].startswith(f"data/s{sid}/") for f in m["files"])


def test_prefix_filter_exact_on_zipfian_corpus(spark, tmp_path):
    """VERDICT r3 #8: the PPJOIN prefix variant is equality-pinned on a
    RARE-TAIL (Zipfian) corpus — the distribution where prefix filtering
    actually prunes (the sf oracle corpus has a hot tiny vocabulary, so the
    existing oracle equality there never exercises rare-prefix pruning).
    The timing crossover is recorded in BENCH/prefix_zipf.json (prefix wins
    from ~4k docs at t=0.7); this test pins result identity at test scale."""
    from biz_crawlers_spark.ml import dedup as D
    from tools.bench_prefix_zipf import write_zipf_corpus

    sf = write_zipf_corpus(spark, 300, str(tmp_path / "zipf"))
    cj = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.dedup_ngram_jaccard(spark, sf, threshold=0.7).collect()
    }
    px = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.dedup_ngram_jaccard_prefix(spark, sf, threshold=0.7).collect()
    }
    assert cj == px
    assert len(cj) >= 20, "the dup fraction must produce real pairs"


def _order_log(eng, epoch: int) -> list:
    return sorted(
        (r["host"], r["host_seq"], r["url_key"], r["status"])
        for r in eng.order_log.read().filter(F.col("epoch") == epoch).collect()
    )


def _reference_order_log(spark, eng, epoch: int) -> list:
    """Test-side reference ranking: row_number over (host, *ORDER_COLS) on
    the epoch's batch joined with its statuses. The statuses come from the
    kept staging output (frontier rows only: two-hop detail fetches are not
    ranked); the batch columns come from the frontier."""
    staging = os.path.join(eng.workdir, "staging", f"epoch={epoch}")
    statuses = (
        spark.read.parquet(staging)
        .filter((F.col("row_type") == "status") & F.col("parent_key").isNull())
        .select("url_key", "status")
    )
    w = Window.partitionBy("host").orderBy(*ORDER_COLS)
    ranked = (
        eng.frontier.read()
        .select("host", *ORDER_COLS)
        .join(statuses, "url_key")
        .select(
            "host", (F.row_number().over(w) - 1).alias("host_seq"),
            "url_key", "status",
        )
    )
    return sorted(
        (r["host"], r["host_seq"], r["url_key"], r["status"])
        for r in ranked.collect()
    )


def test_order_log_matches_reference_ranking(spark, tmp_path):
    """The order log (the fetch stage's own per-host sequence + stats-pass
    offsets) equals a test-side row_number ranking in strict mode, in
    range-lane mode (fetch_salting=4: real offsets) and in archive mode —
    including an archive epoch in which hosts mix cached re-parses with
    fetched rows, so cached rows are numbered in place."""
    variants = {
        "strict": {},
        "salted": {"fetch_salting": 4},
        "archive": {"archive_pages": True},
        "archive_salted": {"archive_pages": True, "fetch_salting": 4},
    }
    logs = {}
    for name, kw in variants.items():
        eng = _engine(spark, tmp_path / f"rank_{name}", keep_staging=True, **kw)
        eng.add_seed_df(synthetic_seed_df(spark, 400, n_hosts=8))
        eng.run_epoch()
        logs[name] = _order_log(eng, 0)
        assert logs[name] == _reference_order_log(spark, eng, 0), name
        if not kw.get("archive_pages"):
            continue
        # epoch 1: re-crawl epoch 0's URLs (archived ok pages re-parse as
        # 'cached') together with fresh URLs on the same hosts (fetched)
        eng.seen.merge(eng.seen.read().select("url_key"), delete=True, dedupe=False)
        done = eng.frontier.read().filter(F.col("state") == "done")
        eng.frontier.merge(done.withColumn("state", F.lit("pending")))
        eng.add_seed_df(synthetic_seed_df(spark, 200, n_hosts=8, start_id=400))
        st = eng.run_epoch()
        assert st["cache_hits"] > 0 and st["fetched"] > 0, name
        mixed = _order_log(eng, 1)
        cached_hosts = {h for h, _, _, s in mixed if s == "cached"}
        fetched_hosts = {h for h, _, _, s in mixed if s != "cached"}
        assert cached_hosts & fetched_hosts, "no host mixes cached and fetched rows"
        assert mixed == _reference_order_log(spark, eng, 1), name
        logs[f"{name}_mixed"] = mixed
    assert logs["strict"] == logs["salted"] == logs["archive"] == logs["archive_salted"]
    assert logs["archive_mixed"] == logs["archive_salted_mixed"]
    assert len(logs["strict"]) > 0
