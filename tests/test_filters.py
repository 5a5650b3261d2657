"""Bloom no-false-negative property + FPP sanity; Spark-side sharded
prefilter/update (SURVEY.md §5.2.1, §5.2.4); repair at scale."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from biz_crawlers_spark.filters.bloom import BloomShards, splitmix64

keys_st = st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=300, unique=True)


@given(keys_st)
@settings(max_examples=30, deadline=None)
def test_bloom_no_false_negatives(tmp_path_factory, keys):
    path = str(tmp_path_factory.mktemp("bloom"))
    bf = BloomShards.create(path, n_shards=4, m_bits=1 << 14, k=5)
    bf.add(np.array(keys, dtype=np.int64))
    assert bf.contains(np.array(keys, dtype=np.int64)).all()


def test_bloom_fpp_sane(tmp_path):
    bf = BloomShards.create(str(tmp_path / "b"), n_shards=8, m_bits=1 << 17, k=7)
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    bf.add(inserted)
    probe = rng.integers(-(2**62), 2**62, size=20000, dtype=np.int64)
    probe = np.setdiff1d(probe, inserted)
    fpp = bf.contains(probe).mean()
    assert fpp < 0.02, f"false positive rate {fpp:.4f} too high"


def test_bloom_versioning_rollback_safe(tmp_path):
    bf = BloomShards.create(str(tmp_path / "b"), n_shards=2, m_bits=1 << 12, k=4)
    v0 = bf.current_version()
    bf.add(np.array([1, 2, 3], dtype=np.int64))
    assert bf.current_version() == v0 + 1
    # old version files still exist (the epoch checkpoint can roll back)
    old = BloomShards(str(tmp_path / "b"))
    BloomShards._write_pointer(str(tmp_path / "b"), v0)
    assert not old.contains(np.array([1, 2, 3], dtype=np.int64)).any()


def test_bloom_spark_roundtrip(spark, tmp_path):
    bf = BloomShards.create(str(tmp_path / "b"), n_shards=4, m_bits=1 << 14, k=5)
    df = spark.range(0, 500).select((F.col("id") * 7919 - 250).alias("url_key"))
    bf.add_spark(df, "url_key")
    checked = bf.prefilter_spark(df, "url_key")
    assert checked.filter(~F.col("maybe_seen")).count() == 0  # no false negatives
    fresh = spark.range(10_000, 10_500).select(F.xxhash64("id").alias("url_key"))
    fp = bf.prefilter_spark(fresh, "url_key").filter(F.col("maybe_seen")).count()
    assert fp < 50  # loose FPP sanity on unseen keys


def test_splitmix_distribution():
    x = np.arange(100000, dtype=np.uint64)
    h = splitmix64(x)
    assert len(np.unique(h)) == len(h)
    bits = np.unpackbits(h.view(np.uint8))
    assert abs(bits.mean() - 0.5) < 0.01


def test_repair_scales_without_driver_collect(spark, tmp_path):
    """D6 at scale: repair over a ~3×10^5-key seen table; the lost set
    stays distributed through the exact seen delete and the reopen.
    engine/repair.py must contain no collect at all."""
    import os as _os

    from biz_crawlers_spark.engine.crawl import CrawlEngine
    from biz_crawlers_spark.engine.repair import repair_lost_payloads
    from biz_crawlers_spark.politeness.budget import PolitenessBudget

    src = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
                        "biz_crawlers_spark", "engine", "repair.py")
    assert "collect" not in open(src).read()

    eng = CrawlEngine(
        spark, str(tmp_path / "big"), web_params={"seed": 42, "n_hosts": 4},
        budget=PolitenessBudget(time_scale=0), per_host_budget=10_000,
        bloom_shards=4, bloom_bits=1 << 18, table_buckets=4, fetch_partitions=4,
    )
    n = 300_000
    synth = spark.range(n).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_key"),
        F.lit(0).alias("seen_epoch"),
    )
    eng.seen.append(synth)
    # claimed-payload evidence for 5 of those keys, with no payload rows
    from biz_crawlers_spark.hashing import spark_xxhash64

    lost_keys = [spark_xxhash64(str(i)) for i in range(5)]
    eng.order_log.append(
        spark.createDataFrame(
            [(k, "h0.fixture.test", 0, i, "ok", 1, 3) for i, k in enumerate(lost_keys)],
            eng.order_log.schema_ddl,
        ),
        bucketize=False,
    )
    stats = repair_lost_payloads(eng)
    assert stats["lost"] == 5 and stats["unseen"] == 5
    seen_now = eng.seen.read().count()
    assert seen_now == n - 5
