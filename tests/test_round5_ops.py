"""Round-5 upgrades (VERDICT r4 "Next round" + ADVICE r4):

- SnapTable ``part_col``/``source_parts``: the frontier's done history is
  never rewritten by epoch-end merges (flat c_frontier over a campaign)
- SnapTable ``mostly_new``: insert-heavy merges (images/records at steady
  state) take a pure-append path — O(batch), not O(table) — and still
  overlay genuinely matched keys correctly
- ensure_meta config-downgrade guard (ADVICE r4 #1) + parsed-schema prefix
  comparison robust to comma-bearing types (ADVICE r4 #2)
- Bloom saturation policy (VERDICT r4 #4): fill tracking in version
  metadata, automatic re-size/rebuild past the threshold, prefilter
  hit-rate restored, engine-wired and rollback-safe
- sustained-epoch invariants: multi-epoch crawl into one workdir keeps
  order-log ranks dense per (host, epoch) and frontier keys unique
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from biz_crawlers_spark.engine import crawl
from biz_crawlers_spark.engine.crawl import CrawlEngine
from biz_crawlers_spark.filters.bloom import BloomShards
from biz_crawlers_spark.frontier.seed import synthetic_seed_df
from biz_crawlers_spark.politeness.budget import PolitenessBudget
from biz_crawlers_spark.tables.snaptable import SnapTable


def _engine(spark, wd, **kw):
    kw.setdefault("per_host_budget", 10_000)
    kw.setdefault("bloom_shards", 4)
    kw.setdefault("bloom_bits", 1 << 16)
    return CrawlEngine(
        spark, str(wd), web_params={"seed": 42, "n_hosts": 8, "max_images_per_page": 1},
        budget=PolitenessBudget(time_scale=0), table_buckets=4,
        fetch_partitions=4, **kw,
    )


# ---------- part_col / source_parts ----------


def _mk_state_table(spark, path):
    t = SnapTable.create(
        spark, str(path), "k long, state string, v int", ["k"],
        n_buckets=4, part_col="state",
    )
    rows = [(i, "pending", 1) for i in range(100)]
    t.overwrite(spark.createDataFrame(rows, "k long, state string, v int"))
    return t


def test_part_col_files_carry_part_values(spark, tmp_path):
    t = _mk_state_table(spark, tmp_path / "pc")
    files = t._load_manifest(t.current_snapshot_id())["files"]
    assert files and all(f.get("part") == "pending" for f in files)
    assert all("_part=pending" in f["path"] for f in files)
    assert t.read().count() == 100


def test_source_parts_merge_never_rewrites_done_files(spark, tmp_path):
    t = _mk_state_table(spark, tmp_path / "sp")
    # transition 0..49 → done (matched keys all pending: the contract)
    upd = spark.createDataFrame(
        [(i, "done", 2) for i in range(50)], "k long, state string, v int"
    )
    t.merge(upd, dedupe=False, source_parts=["pending"])
    m1 = t._load_manifest(t.current_snapshot_id())["files"]
    done_files_1 = sorted(f["path"] for f in m1 if f.get("part") == "done")
    assert done_files_1, "done rows must land in done-part files"
    got = {r["k"]: (r["state"], r["v"]) for r in t.read().collect()}
    assert len(got) == 100
    assert all(got[i] == ("done", 2) for i in range(50))
    assert all(got[i] == ("pending", 1) for i in range(50, 100))

    # second epoch: transition 50..99 → done, insert 100..149 pending.
    # The done files from step 1 must be CARRIED OVER byte-identical
    # (same manifest paths — no copy-on-write of the done history).
    upd2 = spark.createDataFrame(
        [(i, "done", 3) for i in range(50, 100)]
        + [(i, "pending", 1) for i in range(100, 150)],
        "k long, state string, v int",
    )
    t.merge(upd2, dedupe=False, source_parts=["pending"], touched_hint="all")
    m2 = t._load_manifest(t.current_snapshot_id())["files"]
    done_files_2 = sorted(f["path"] for f in m2 if f.get("part") == "done")
    assert set(done_files_1) <= set(done_files_2), (
        "prior done files must be carried, not rewritten"
    )
    got = {r["k"]: (r["state"], r["v"]) for r in t.read().collect()}
    assert len(got) == 150
    assert all(got[i] == ("done", 2) for i in range(50))
    assert all(got[i] == ("done", 3) for i in range(50, 100))
    assert all(got[i] == ("pending", 1) for i in range(100, 150))


def test_source_parts_delete_scopes_to_parts(spark, tmp_path):
    t = _mk_state_table(spark, tmp_path / "spd")
    t.merge(
        spark.createDataFrame([(i, "done", 2) for i in range(40)],
                              "k long, state string, v int"),
        dedupe=False, source_parts=["pending"],
    )
    # delete pending keys 40..59 — done files untouched
    before_done = sorted(
        f["path"]
        for f in t._load_manifest(t.current_snapshot_id())["files"]
        if f.get("part") == "done"
    )
    t.merge(
        spark.createDataFrame([(i,) for i in range(40, 60)], "k long"),
        delete=True, dedupe=False, source_parts=["pending"],
    )
    after = t._load_manifest(t.current_snapshot_id())["files"]
    assert before_done and set(before_done) <= {f["path"] for f in after}
    ks = {r["k"] for r in t.read().collect()}
    assert ks == set(range(40)) | set(range(60, 100))


# ---------- mostly_new ----------


def test_mostly_new_pure_append_when_no_matches(spark, tmp_path):
    t = SnapTable.create(spark, str(tmp_path / "mn"), "k long, v int", ["k"], n_buckets=4)
    t.overwrite(spark.createDataFrame([(i, 1) for i in range(100)], "k long, v int"))
    prev = {f["path"] for f in t._load_manifest(t.current_snapshot_id())["files"]}
    t.merge(
        spark.createDataFrame([(i, 2) for i in range(100, 200)], "k long, v int"),
        dedupe=False, mostly_new=True,
    )
    now = t._load_manifest(t.current_snapshot_id())["files"]
    assert prev <= {f["path"] for f in now}, "no-match merge must be a pure append"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 200
    assert got[5] == 1 and got[150] == 2


def test_mostly_new_overlay_on_real_matches(spark, tmp_path):
    t = SnapTable.create(spark, str(tmp_path / "mn2"), "k long, v int, w string", ["k"], n_buckets=4)
    t.overwrite(
        spark.createDataFrame([(i, 1, f"w{i}") for i in range(100)], "k long, v int, w string")
    )
    # one matched key (overlay: NULL w keeps old value) + new keys
    upd = spark.createDataFrame(
        [(50, 9, None)] + [(i, 2, f"w{i}") for i in range(200, 210)],
        "k long, v int, w string",
    )
    t.merge(upd, dedupe=False, mostly_new=True)
    got = {r["k"]: (r["v"], r["w"]) for r in t.read().collect()}
    assert len(got) == 110
    assert got[50] == (9, "w50"), "matched key: new v wins, absent w keeps old"
    assert got[205] == (2, "w205")
    assert got[49] == (1, "w49")
    # untouched buckets' files carried over
    files = t._load_manifest(t.current_snapshot_id())["files"]
    assert len({f["bucket"] for f in files}) == 4


def test_mor_upsert_append(spark, tmp_path):
    """merge(mor=True): appends the batch + an equality-delete entry; reads
    resolve newest-sequence rows (Iceberg MoR shape). Matched keys get the
    NEW values, unmatched old rows survive, write cost never rewrites old
    files, and compact() folds the deletes away."""
    t = SnapTable.create(spark, str(tmp_path / "mor"), "k long, v int", ["k"], n_buckets=4)
    t.overwrite(spark.createDataFrame([(i, 1) for i in range(100)], "k long, v int"))
    files_before = {
        f["path"] for f in t._load_manifest(t.current_snapshot_id())["files"]
    }
    t.merge(
        spark.createDataFrame(
            [(i, 2) for i in range(50, 120)], "k long, v int"
        ),
        dedupe=False, mor=True,
    )
    m = t._load_manifest(t.current_snapshot_id())
    assert m.get("deletes"), "MoR merge must record an equality-delete entry"
    assert files_before <= {f["path"] for f in m["files"]}, "old files never rewritten"
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 120
    assert got[10] == 1 and got[60] == 2 and got[110] == 2
    # second MoR layer stacks correctly
    t.merge(spark.createDataFrame([(60, 3)], "k long, v int"), dedupe=False, mor=True)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[60] == 3 and got[55] == 2 and got[10] == 1 and len(got) == 120
    # read_stats_pruned-style merge interplay: classic merge on a MoR table
    # must not resurrect superseded rows
    t.merge(spark.createDataFrame([(10, 9)], "k long, v int"), dedupe=False)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[10] == 9 and got[60] == 3 and len(got) == 120
    # compaction folds deletes to zero and preserves content
    t.compact()
    m2 = t._load_manifest(t.current_snapshot_id())
    assert not m2.get("deletes")
    got2 = {r["k"]: r["v"] for r in t.read().collect()}
    assert got2 == got
    # expire keeps only referenced delete dirs; reads stay correct
    t.expire_snapshots(keep_last=2)
    assert {r["k"]: r["v"] for r in t.read().collect()} == got


def test_adopt_with_matched_delete_entry(spark, tmp_path):
    """Engine-level: an epoch whose payload keys PARTIALLY recur must still
    take the zero-copy adopt path, recording the matched keys as an
    equality-delete entry — the new rows win, old unmatched rows survive,
    and no data file is rewritten. Simulated by re-seeding the SAME URL
    range after clearing the seen set (forced re-crawl → identical
    image_ids)."""
    eng = _engine(spark, tmp_path / "adm", per_host_budget=10**9, fetch_salting=2)
    eng.add_seed_df(synthetic_seed_df(spark, 400, n_hosts=8))
    eng.run_epoch()
    n1 = eng.images.read().count()
    m1 = eng.images._load_manifest(eng.images.current_snapshot_id())
    files1 = {f["path"] for f in m1["files"]}
    # force a re-crawl of the same URLs: wipe the seen set and reopen (the
    # Bloom positives then pass the exact anti-join against the empty seen)
    eng.seen.merge(eng.seen.read().select("url_key"), delete=True, dedupe=False)
    fr = eng.frontier.read().filter(F.col("state") == "done")
    eng.frontier.merge(fr.withColumn("state", F.lit("pending")))
    st = eng.run_epoch()
    assert st["fetched"] > 0 and st["deduped"] == 0
    assert st["payload_paths"].get("image") == "adopt"
    m2 = eng.images._load_manifest(eng.images.current_snapshot_id())
    assert files1 <= {f["path"] for f in m2["files"]}, "old files never rewritten"
    assert m2.get("deletes"), "matched re-crawl keys must land as a delete entry"
    assert int(m2["summary"].get("matched", 0)) > 0
    imgs = eng.images.read()
    assert imgs.count() == n1, "MoR resolution: one row per image_id"
    assert imgs.select("image_id").distinct().count() == n1
    # the surviving rows are the NEW epoch's (epoch column advanced)
    assert imgs.agg(F.min("epoch")).collect()[0][0] >= 1
    # vacuum folds the delete entries once past the threshold
    eng.vacuum(compact_deletes_after=1)
    m3 = eng.images._load_manifest(eng.images.current_snapshot_id())
    assert not m3.get("deletes")
    assert eng.images.read().count() == n1


def test_mor_rollback_window(spark, tmp_path):
    """Rolling back past a MoR merge restores the pre-merge view (deletes
    are manifest-scoped)."""
    t = SnapTable.create(spark, str(tmp_path / "morrb"), "k long, v int", ["k"], n_buckets=2)
    t.overwrite(spark.createDataFrame([(1, 1), (2, 1)], "k long, v int"))
    sid = t.current_snapshot_id()
    t.merge(spark.createDataFrame([(2, 9), (3, 9)], "k long, v int"), dedupe=False, mor=True)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: 1, 2: 9, 3: 9}
    t.rollback(sid)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: 1, 2: 1}


# ---------- ensure_meta guards (ADVICE r4 #1/#2) ----------


def test_ensure_meta_downgrade_raises(spark, tmp_path):
    t = SnapTable.create(
        spark, str(tmp_path / "em"), "k long, v int, flag boolean", ["k"],
        n_buckets=2, derived={"flag": "v > 0"}, stat_cols=["flag"],
    )
    with pytest.raises(ValueError, match="downgrade"):
        t.ensure_meta("k long, v int, flag boolean")  # strips derived+stats
    with pytest.raises(ValueError, match="downgrade"):
        t.ensure_meta(
            "k long, v int, flag boolean", derived={"flag": "v > 1"},
            stat_cols=["flag"],
        )  # redefinition
    with pytest.raises(ValueError, match="downgrade"):
        t.ensure_meta(
            "k long, v int, flag boolean", derived={"flag": "v > 0"},
        )  # stat_cols stripped
    # unchanged full config is a no-op
    assert t.ensure_meta(
        "k long, v int, flag boolean", derived={"flag": "v > 0"}, stat_cols=["flag"]
    ) is False
    # part_col cannot be changed once set
    t2 = SnapTable.create(
        spark, str(tmp_path / "em2"), "k long, s string", ["k"], part_col="s"
    )
    with pytest.raises(ValueError, match="downgrade"):
        t2.ensure_meta("k long, s string")


def test_ensure_meta_comma_bearing_types(spark, tmp_path):
    ddl = "k long, m map<string,string>, d decimal(10,2)"
    t = SnapTable.create(spark, str(tmp_path / "emc"), ddl, ["k"], n_buckets=2)
    # append-compatible evolution with comma-bearing types parses correctly
    assert t.ensure_meta(ddl + ", extra string") is True
    assert t.schema_ddl.endswith("extra string")
    # a non-prefix evolution still fails loudly
    with pytest.raises(ValueError, match="not a prefix"):
        t.ensure_meta("k long, m map<string,int>, d decimal(10,2), extra string")


# ---------- Bloom saturation policy ----------


def test_bloom_saturation_rebuild_restores_fpr(spark, tmp_path):
    bf = BloomShards.create(str(tmp_path / "bl"), n_shards=4, m_bits=1 << 10, k=7)
    keys = spark.range(2000).select(F.xxhash64("id").alias("url_key"))
    bf.add_spark(keys, "url_key")
    assert bf.fill_ratio() > 0.5, "2000 keys into 4x1024 bits must saturate"
    est = bf.estimated_keys()
    # fill-based estimate is order-of-magnitude sane even near saturation
    assert est > 500
    old_m = bf.m_bits_of()
    bf.rebuild_spark(keys, "url_key")
    assert bf.m_bits_of() > old_m
    assert bf.fill_ratio() < 0.30
    # no false negatives ever
    kv = np.array([r["url_key"] for r in keys.collect()], dtype=np.int64)
    assert bf.contains(kv).all()
    # false-positive rate on fresh keys restored to useful levels
    fresh = np.array(
        [r["url_key"] for r in spark.range(10_000, 12_000)
         .select(F.xxhash64("id").alias("url_key")).collect()],
        dtype=np.int64,
    )
    assert bf.contains(fresh).mean() < 0.05
    # versioned sizing: the PRE-rebuild version still reads with its own
    # m_bits (rollback safety)
    ver = bf.current_version()
    bf._write_pointer(bf.path, ver - 1)
    assert bf.m_bits_of() == old_m
    assert bf.contains(kv).all()
    bf._write_pointer(bf.path, ver)


def test_engine_bloom_rebuild_in_epoch(spark, tmp_path):
    """A deliberately undersized filter saturates during the epoch commit;
    the engine rebuilds it from the seen set inside the same commit group.
    The rebuilt filter must keep zero false negatives (D2 exactness) and
    regain a real prefilter hit-rate; the state record tracks the new
    version so resume() stays consistent."""
    eng = _engine(
        spark, tmp_path / "blsat", per_host_budget=10**9,
        bloom_shards=4, bloom_bits=1 << 10,
    )
    eng.add_seed_df(synthetic_seed_df(spark, 1500, n_hosts=8))
    eng.run_epoch()
    assert eng.bloom.m_bits_of() > 1 << 10, "epoch commit must have rebuilt"
    assert eng.bloom.fill_ratio() < 0.5
    seen_keys = np.array(
        [r["url_key"] for r in eng.seen.read().select("url_key").collect()],
        dtype=np.int64,
    )
    assert len(seen_keys) > 0 and eng.bloom.contains(seen_keys).all()
    state = eng._read_state()
    assert state["bloom_version"] == eng.bloom.current_version()
    # a fresh batch of unseen URLs mostly passes the prefilter as negatives
    fresh = np.array(
        [r["url_key"] for r in spark.range(50_000, 52_000)
         .select(F.xxhash64("id").alias("url_key")).collect()],
        dtype=np.int64,
    )
    assert eng.bloom.contains(fresh).mean() < 0.05


# ---------- sustained multi-epoch invariants ----------


def test_sustained_epochs_keep_invariants(spark, tmp_path):
    """Three consecutive epochs of FRESH URLs into one workdir: frontier
    keys stay unique across the state-partitioned layout, order-log ranks
    stay dense per (host, epoch), seen grows by exactly the terminal rows,
    and the frontier's done files from epoch N survive epoch N+1 untouched."""
    eng = _engine(spark, tmp_path / "sus", per_host_budget=10**9, fetch_salting=4)
    done_paths_prev: set = set()
    for e in range(3):
        eng.add_seed_df(synthetic_seed_df(spark, 500, n_hosts=8, start_id=e * 500))
        stats = eng.run_epoch()
        assert stats["deduped"] == 0, "fresh URLs must never dedup"
        m = eng.frontier._load_manifest(eng.frontier.current_snapshot_id())["files"]
        done_now = {f["path"] for f in m if f.get("part") == "done"}
        assert done_paths_prev <= done_now
        done_paths_prev = done_now
    fr = eng.frontier.read()
    assert fr.count() == 1500
    assert fr.select("url_key").distinct().count() == 1500
    assert eng.seen.read().count() == eng.seen.read().select("url_key").distinct().count()
    ol = eng.order_log.read().toPandas()
    assert len(ol) == 1500
    for (_h, _e), g in ol.groupby(["host", "epoch"]):
        assert sorted(g["host_seq"]) == list(range(len(g)))


# ---------- streaming boundary probe (VERDICT r4 #8, stretch) ----------


def test_availablenow_processingtime_timeout_boundary(spark, tmp_path):
    """Executable probe of the documented Spark 4.1.2 boundary
    (streaming/pipeline.py stream_sessionize): ProcessingTimeTimeout under
    Trigger.AvailableNow has been seen to hit an internal planner NPE in
    some session states. The probe RUNS the combination: if it raises, the
    failure must carry the documented planner signature (the workaround
    comment stays); if it completes, gap-closed sessions must still be
    correct — either way the boundary is pinned by execution, not prose.
    When a Spark upgrade makes this pass consistently, the docstring's
    caution can be narrowed."""
    import datetime as dt

    from biz_crawlers_spark.streaming.pipeline import (
        EVENTS_DDL,
        read_event_stream,
        stream_sessionize,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = tmp_path / "npe_src"
    src.mkdir()
    rows = [(0, base, 1, "a", 1.0), (1, base + dt.timedelta(minutes=5), 1, "a", 2.0),
            (2, base + dt.timedelta(hours=3), 1, "a", 4.0)]
    spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode("overwrite").parquet(
        str(src)
    )
    try:
        q = (
            stream_sessionize(read_event_stream(spark, str(src)), use_timeout=True)
            .writeStream.format("memory")
            .queryName("r5_npe_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_npe"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    except Exception as e:  # the documented boundary fired
        msg = str(e)
        assert (
            "NullPointerException" in msg or "SparkPlan" in msg or "session" in msg
        ), f"unexpected failure shape for the availableNow+timeout probe: {msg[:400]}"
        return
    got = spark.sql(
        "SELECT * FROM r5_npe_probe ORDER BY session_start"
    ).collect()
    # the 2-event session closed by the 3h gap must be emitted correctly
    closed = [r for r in got if r["n_events"] == 2]
    assert len(closed) == 1 and closed[0]["total_value"] == 3.0


# ---------- payload-key Bloom gate (round-5 follow-up: the last O(table)
# term in the epoch commit — the adopt gate's raw-key scan — replaced by an
# O(batch) Bloom probe whose false positives are provably harmless) ----------


def _force_recrawl(eng):
    """Wipe the seen set and mark done frontier rows pending again — the
    engine then re-fetches the same URLs (identical image_ids/entity_ids)."""
    eng.seen.merge(eng.seen.read().select("url_key"), delete=True, dedupe=False)
    fr = eng.frontier.read().filter(F.col("state") == "done")
    eng.frontier.merge(fr.withColumn("state", F.lit("pending")))


def _exact_matched_keys(spark, table, key, raw_keys: list) -> set:
    """The exact raw-key-scan gate (test-side reference): the keys of the
    last epoch's batch left-semi joined with ``read_keys_raw()`` of the
    table as it stood before that epoch."""
    e_max = table.read().agg(F.max("epoch")).first()[0]
    batch_keys = table.read().filter(F.col("epoch") == e_max).select(key)
    raw = spark.createDataFrame([(k,) for k in raw_keys], table.read_keys_raw().schema)
    return {r[key] for r in batch_keys.join(raw, key, "left_semi").collect()}


def _delete_keys(table, sid: int, key: str) -> set:
    """Keys of the equality-delete entry written by snapshot ``sid``."""
    m = table._load_manifest(sid)
    (entry,) = [d for d in m.get("deletes", []) if d["seq"] == sid]
    df = table.spark.read.parquet(os.path.join(table.path, entry["path"]))
    return {r[key] for r in df.collect()}


_PAYLOAD = (("image", "images", "image_id"), ("record", "records", "entity_id"))


def _replay_staging_mor(eng, part: str, name: str, key: str, dest) -> SnapTable:
    """The payload commit's test-side reference: replay the engine's kept
    staging partitions, epoch by epoch, through ``SnapTable.merge(mor=True)``
    into a fresh table (key-distinct rows, as the commit members select)."""
    t = getattr(eng, name)
    ref = SnapTable.create(
        eng.spark, str(dest), t.schema_ddl, t.key_cols, n_buckets=t.n_buckets,
        derived=t.derived or None, stat_cols=t.stat_cols or None,
    )
    sdir = os.path.join(eng.workdir, "staging")
    for d in sorted(os.listdir(sdir), key=lambda d: int(d.split("=")[1])):
        rows = eng.spark.read.parquet(os.path.join(sdir, d)).filter(
            F.col("row_type") == part
        )
        ref.merge(
            rows.select(*ref._cols()).dropDuplicates([key]), dedupe=False, mor=True
        )
    return ref


def _payload_tuples(images, records) -> dict:
    return {
        "images": sorted(
            (r["image_id"], r["epoch"], r["phash"]) for r in images.read().collect()
        ),
        "records": sorted((r["entity_id"], r["epoch"]) for r in records.read().collect()),
    }


def test_payload_bloom_gate_superset_of_exact_scan(spark, tmp_path):
    """Through a fresh epoch + a full forced re-crawl, the Bloom gate's
    matched keys are a superset of the exact raw-key-scan reference, and the
    adopted tables equal a merge-on-read replay of the kept staging."""
    eng = _engine(
        spark, tmp_path / "eq", per_host_budget=10**9, fetch_salting=2,
        keep_staging=True,
    )
    eng.add_seed_df(synthetic_seed_df(spark, 300, n_hosts=8))
    eng.run_epoch()
    _force_recrawl(eng)
    raw_before = {
        name: [r[key] for r in getattr(eng, name).read_keys_raw().collect()]
        for _, name, key in _PAYLOAD
    }
    st = eng.run_epoch()
    assert st["payload_paths"].get("image") == "adopt"
    for part, name, key in _PAYLOAD:
        t = getattr(eng, name)
        sid = t.current_snapshot_id()
        if st["payload_paths"][part] == "adopt_patch":
            sid -= 1  # the patch commit follows the adopt
        exact = _exact_matched_keys(spark, t, key, raw_before[name])
        assert exact, name
        gated = _delete_keys(t, sid, key)
        assert exact <= gated, name
        m = t._load_manifest(sid)
        assert int(m["summary"]["matched"]) == len(gated)
    ref = {
        name: _replay_staging_mor(eng, part, name, key, tmp_path / f"ref_{name}")
        for part, name, key in _PAYLOAD
    }
    assert _payload_tuples(eng.images, eng.records) == _payload_tuples(
        ref["images"], ref["records"]
    )


def test_keep_staging_keeps_payload_files(spark, tmp_path):
    """A keep_staging engine commits through the same adopt as a default
    engine: its image/record staging files survive the commit (the adopt
    links them), and its tables equal the default engine's."""
    results = {}
    for keep in (False, True):
        eng = _engine(
            spark, tmp_path / f"ks_{keep}", per_host_budget=10**9,
            fetch_salting=2, keep_staging=keep,
        )
        eng.add_seed_df(_collision_seed(spark))
        st = eng.run_epoch()
        assert st["payload_paths"]["record"] == "adopt_patch"
        assert st["payload_paths"]["image"] in ("adopt", "adopt_patch")
        staging = os.path.join(eng.workdir, "staging", "epoch=0")
        assert os.path.isdir(staging) == keep
        if keep:
            for part in ("image", "record"):
                d = os.path.join(staging, f"row_type={part}")
                assert [f for f in os.listdir(d) if f.endswith(".parquet")], part
            kept = spark.read.parquet(staging)
            assert kept.filter(F.col("row_type") == "image").count() == st["images"]
        results[keep] = _payload_tuples(eng.images, eng.records)
    assert results[True] == results[False]


def test_keybloom_false_positives_harmless(spark, tmp_path, monkeypatch):
    """A saturated (tiny) payload-key Bloom marks nearly every NEW key as
    'matched' — the spurious equality-delete keys must be no-ops: reads
    stay exact across epochs of disjoint URLs."""
    monkeypatch.setattr(crawl, "BLOOM_REBUILD_FILL", 1.01)  # keep the FPR high
    eng = _engine(
        spark, tmp_path / "fp", per_host_budget=10**9, fetch_salting=2,
        bloom_bits=1 << 7,           # saturates after the first epoch
    )
    eng.add_seed_df(synthetic_seed_df(spark, 300, n_hosts=8))
    eng.run_epoch()
    n1 = eng.images.read().count()
    kb = eng._payload_keyblooms["image"]
    assert kb.fill_ratio() > 0.5, "test premise: the keybloom must be saturated"
    eng.add_seed_df(synthetic_seed_df(spark, 300, n_hosts=8, start_id=300))
    st = eng.run_epoch()
    assert st["fetched"] > 0
    m = eng.images._load_manifest(eng.images.current_snapshot_id())
    if st["payload_paths"].get("image") == "adopt":
        # disjoint batch, saturated Bloom: matches are (almost) all FPs
        assert int(m["summary"].get("matched", 0)) > 0
    imgs = eng.images.read()
    n2 = imgs.count()
    assert n2 > n1, "second epoch's rows must all survive the spurious deletes"
    assert imgs.select("image_id").distinct().count() == n2


def test_keybloom_legacy_workdir_rebuilds(spark, tmp_path):
    """Opening a pre-keybloom workdir (tables populated, no keys_bloom_*
    dirs) rebuilds the Blooms from the stored raw keys — a forced re-crawl
    then still detects its matches and reads stay duplicate-free."""
    import shutil

    wd = tmp_path / "legacy"
    eng = _engine(spark, wd, per_host_budget=10**9, fetch_salting=2)
    eng.add_seed_df(synthetic_seed_df(spark, 300, n_hosts=8))
    eng.run_epoch()
    n1 = eng.images.read().count()
    for part in ("image", "record"):
        shutil.rmtree(os.path.join(str(wd), f"keys_bloom_{part}"))
    eng2 = _engine(spark, wd, per_host_budget=10**9, fetch_salting=2)
    assert eng2._payload_keyblooms["image"].fill_ratio() > 0, "rebuilt from table"
    _force_recrawl(eng2)
    st = eng2.run_epoch()
    assert st["payload_paths"].get("image") == "adopt"
    m = eng2.images._load_manifest(eng2.images.current_snapshot_id())
    assert int(m["summary"].get("matched", 0)) > 0, (
        "a missed match here would mean a false negative -> duplicate rows"
    )
    imgs = eng2.images.read()
    assert imgs.count() == n1
    assert imgs.select("image_id").distinct().count() == n1


def test_keybloom_saturation_rebuild_engine_wired(spark, tmp_path):
    """Past the fill threshold the payload-key Bloom re-sizes itself from
    the table's durable keys at the epoch commit (same contract as the
    seen-set Bloom), and match detection stays exact afterwards."""
    eng = _engine(
        spark, tmp_path / "sat", per_host_budget=10**9, fetch_salting=2,
        bloom_bits=1 << 9,
    )
    eng.add_seed_df(synthetic_seed_df(spark, 300, n_hosts=8))
    eng.run_epoch()
    kb = eng._payload_keyblooms["image"]
    v = kb.current_version()
    assert kb.m_bits_of(v) > (1 << 9), "rebuild must have grown the bit space"
    assert kb.fill_ratio() <= 0.5
    n1 = eng.images.read().count()
    _force_recrawl(eng)
    st = eng.run_epoch()
    assert st["payload_paths"].get("image") == "adopt"
    imgs = eng.images.read()
    assert imgs.count() == n1
    assert imgs.select("image_id").distinct().count() == n1


# ---------- adopt+patch (round-5 follow-up: a handful of in-batch
# duplicate keys must not force a full-batch MoR byte rewrite — Campaign B3
# measured the image-MoR epochs at 2-3x the adopt commit wall) ----------

# Synthetic-grammar ids whose URLs are distinct but share entity_id
# 67474880 (found by deterministic driver-side search over the same
# grammar; verified in-test) — the smallest reproducible in-batch
# duplicate-key batch.
_COLLIDING_IDS = (14519, 30421)


def _collision_seed(spark):
    df = synthetic_seed_df(spark, 200, n_hosts=8)
    for i in _COLLIDING_IDS:
        df = df.unionByName(synthetic_seed_df(spark, 1, n_hosts=8, start_id=i))
    return df


def test_adopt_patch_table_contract(spark, tmp_path):
    """adopt_files with in-batch duplicate keys + the follow-up MoR patch
    commit reads key-distinct with the patch row winning; rolling back to
    the pre-adopt snapshot restores the original table exactly."""
    t = SnapTable.create(
        spark, str(tmp_path / "ap"), "k long, v int", ["k"], n_buckets=2
    )
    t.overwrite(spark.createDataFrame([(1, 0)], "k long, v int"))
    sid0 = t.current_snapshot_id()
    stage = str(tmp_path / "ap_stage")
    spark.createDataFrame(
        [(1, 10), (2, 20), (2, 21), (3, 30)], "k long, v int"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    files = [
        os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet")
    ]
    # key 1 matches the stored table (a cross-epoch delete entry linked
    # from a key file, as the payload gate writes them); key 2 is the
    # in-batch duplicate the patch supersedes
    import pyarrow as pa
    import pyarrow.parquet as pq

    key_file = str(tmp_path / "matched-keys.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), key_file)
    t.adopt_files(files, summary={"patched": 1}, delete_key_files=[key_file])
    assert os.path.exists(key_file), "the key file is linked, not moved"
    (entry,) = t._load_manifest(t.current_snapshot_id())["deletes"]
    assert os.listdir(os.path.join(t.path, entry["path"])) == ["keys-00000.parquet"]
    t.merge(
        spark.createDataFrame([(2, 21)], "k long, v int"),
        dedupe=False, mor=True,
    )
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: 10, 2: 21, 3: 30}
    assert t.read().count() == 3
    t.rollback(sid0)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: 0}


def test_adopt_patch_engine_equivalence(spark, tmp_path):
    """The adopt + O(dup) patch commit and a full-batch merge-on-read
    replay of the same staging produce identical record tables on a batch
    with one in-batch duplicate entity_id."""
    from biz_crawlers_spark.fixtures.web import FixtureWeb

    web = FixtureWeb(seed=42, n_hosts=8, max_images_per_page=1)
    urls = [
        synthetic_seed_df(spark, 1, n_hosts=8, start_id=i).first()["canonical_url"]
        for i in _COLLIDING_IDS
    ]
    assert urls[0] != urls[1]
    assert web.entity_for(urls[0])[0] == web.entity_for(urls[1])[0]
    assert all(web.classify(u) == "ok" for u in urls)

    eng = _engine(
        spark, tmp_path / "ap", per_host_budget=10**9, fetch_salting=2,
        keep_staging=True,
    )
    eng.add_seed_df(_collision_seed(spark))
    st = eng.run_epoch()
    assert st["payload_paths"]["record"] == "adopt_patch"
    ref = _replay_staging_mor(eng, "record", "records", "entity_id", tmp_path / "ref")
    results = {}
    for side, t in (("patch", eng.records), ("mor", ref)):
        recs = t.read()
        n = recs.count()
        assert recs.select("entity_id").distinct().count() == n
        results[side] = sorted((r["entity_id"], r["epoch"]) for r in recs.collect())
    # the adopt commit precedes the patch commit; its summary counts the
    # duplicated keys
    m = eng.records._load_manifest(eng.records.current_snapshot_id() - 1)
    assert int(m["summary"].get("patched", 0)) >= 1
    assert results["patch"] == results["mor"]


def test_adopt_patch_with_recrawl_matches(spark, tmp_path):
    """A forced full re-crawl of a duplicate-bearing batch exercises the
    patch path and the cross-epoch matched-delete entry in ONE commit:
    reads stay key-distinct, every key's winner is the re-crawled row."""
    eng = _engine(
        spark, tmp_path / "apm", per_host_budget=10**9, fetch_salting=2
    )
    eng.add_seed_df(_collision_seed(spark))
    st0 = eng.run_epoch()
    assert st0["payload_paths"]["record"] == "adopt_patch"
    n1 = eng.records.read().count()
    _force_recrawl(eng)
    st = eng.run_epoch()
    assert st["payload_paths"]["record"] == "adopt_patch"
    recs = eng.records.read()
    assert recs.count() == n1
    assert recs.select("entity_id").distinct().count() == n1
    e_max = recs.agg(F.max("epoch")).first()[0]
    assert recs.filter(F.col("epoch") == e_max).count() == n1


# try_parse_json verdicts that Python's json module gets wrong by default:
# duplicate keys (Spark: corrupt), trailing content after a root object
# (Spark: valid), plus the strictness cases around them
_CORRUPT_PROBES = [
    '{"a":1,"a":2}', '[{"a":1},{"a":1,"a":2}]', '{"a":1} x', "NaN", "[1,]",
    "1e999", '"\\ud800"', "123", '{"\\u0061":1,"a":2}', '{"a":{"b":1,"b":2}}',
    ' {"a":1}\n', "1 x", "1]", "01", "truex", "true]", "\x0b1", '"\t"', "", "[]",
]


@pytest.mark.parametrize("biz_items", _CORRUPT_PROBES)
def test_record_corrupt_matches_try_parse_json(spark, biz_items):
    """The stage's precomputed ``corrupt`` (what an adopted staging file
    commits) equals the records table's generated column."""
    from biz_crawlers_spark.engine.stage import _record_corrupt
    from biz_crawlers_spark.frontier.seed import RECORDS_CORRUPT_EXPR

    want = (
        spark.createDataFrame([(biz_items,)], "biz_items string")
        .selectExpr(f"{RECORDS_CORRUPT_EXPR} AS c")
        .first()["c"]
    )
    assert _record_corrupt(biz_items) == want


def _key_files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _, fs in os.walk(d):
        for f in fs:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


def test_gate_spark_equals_probe_add_and_value_counts(spark, tmp_path):
    """gate_spark's one shard pass: its matched keys are the keys
    prefilter_spark marks at the old version, the new version's bits equal
    a local add of the same hashes, its duplicate keys equal an exact
    value_counts, and a second pass over the same version (a task retry,
    or an epoch re-run after a crash) writes byte-identical key files."""
    import pandas as pd

    def hashed(keys):
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        return df.select("key", F.xxhash64("key").alias("_kh"))

    base = [f"id{k}" for k in range(100, 200)]
    batch = [f"id{k}" for k in list(range(150, 250)) + [160, 210, 210, 240]]
    a = BloomShards.create(str(tmp_path / "ba"), n_shards=4, m_bits=1 << 14, k=5)
    b = BloomShards.create(str(tmp_path / "bb"), n_shards=4, m_bits=1 << 14, k=5)
    for bf in (a, b):
        bf.add_spark(hashed(base), "_kh")
    exp = {
        r["key"]
        for r in b.prefilter_spark(hashed(sorted(set(batch))), "_kh").collect()
        if r["maybe_seen"]
    }
    a.add(np.array([r["_kh"] for r in hashed(batch).collect()], dtype=np.int64))

    out = str(tmp_path / "gate")
    gate = b.gate_spark(spark.createDataFrame([(k,) for k in batch], "key string"), "key", out)
    files = _key_files(out)
    assert not [f for f in files if os.path.basename(f).startswith(".")]
    keys = {
        sub: {r["key"] for r in spark.read.parquet(os.path.join(out, sub)).collect()}
        for sub in ("matched", "dups")
    }
    assert keys["matched"] == exp and len(exp) >= 50
    vc = pd.Series(batch).value_counts()
    assert keys["dups"] == set(vc.index[vc > 1]) == {"id160", "id210", "id240"}
    assert {os.path.join(out, f) for f in files} == set(gate["matched"] + gate["dups"])
    assert gate["n_matched"] == len(exp) and gate["n_dup"] == 3
    assert gate["n_distinct"] == len(set(batch))
    assert a.current_version() == b.current_version() == 2
    for s in range(4):
        assert np.array_equal(np.load(a._shard_file(2, s)), np.load(b._shard_file(2, s)))
    assert abs(a.fill_ratio() - b.fill_ratio()) < 1e-12

    b._write_pointer(b.path, 1)  # re-run the pass over the same version
    b.gate_spark(spark.createDataFrame([(k,) for k in reversed(batch)], "key string"), "key", out)
    assert _key_files(out) == files
