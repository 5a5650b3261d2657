"""run_epoch as named phases: one stats shape for every epoch, every Spark
job of an epoch attributed to a phase or commit-member job group, and no
environment switch outside session.py."""

from __future__ import annotations

import ast
import os
import time

from pyspark.sql import functions as F

from biz_crawlers_spark.engine.crawl import CrawlEngine
from biz_crawlers_spark.frontier.seed import synthetic_seed_df
from biz_crawlers_spark.politeness.budget import PolitenessBudget

PHASES = ("select_dedup", "robots", "fetch_stage", "stats_pass", "commits")
PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "biz_crawlers_spark"
)


def _engine(spark, wd, **kw):
    return CrawlEngine(
        spark, str(wd), web_params={"seed": 42, "n_hosts": 8, "max_images_per_page": 1},
        budget=PolitenessBudget(time_scale=0), bloom_shards=4,
        bloom_bits=1 << 16, table_buckets=4, fetch_partitions=4, **kw,
    )


def test_empty_epoch_stats_have_fetching_epoch_keys(spark, tmp_path):
    """An all-duplicate epoch and a drained epoch return the same keys as a
    fetching epoch; their phase_sec holds only the phases that ran."""
    eng = _engine(spark, tmp_path / "shape", per_host_budget=10**9)
    eng.add_seed_df(synthetic_seed_df(spark, 200, n_hosts=8))
    fetching = eng.run_epoch()
    assert fetching["fetched"] > 0
    assert set(PHASES) | {"commit_breakdown"} == set(fetching["phase_sec"])
    eng.run(max_epochs=5)  # drain any discoveries

    # reopen every done row while the seen set still holds it: the next
    # epoch selects only duplicates and commits just the dedup_skip merge
    done = eng.frontier.read().filter(F.col("state") == "done")
    eng.frontier.merge(done.withColumn("state", F.lit("pending")))
    all_dup = eng.run_epoch()
    assert all_dup["selected"] == all_dup["deduped"] > 0
    assert all_dup["fetched"] == 0 and not all_dup["drained"]
    drained = eng.run_epoch()
    assert drained["selected"] == 0 and drained["drained"]

    for st in (all_dup, drained):
        assert set(st) == set(fetching)
        assert st["payload_paths"] == {}
    assert set(all_dup["phase_sec"]) == {"select_dedup", "commits"}
    assert set(drained["phase_sec"]) == {"select_dedup"}


def _marker_job(spark, group: str) -> int:
    """Run one tagged job and return its id once the status store has it
    (the listener bus is asynchronous, and it delivers events in order, so
    every earlier job is then visible too)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        ids = tracker.getJobIdsForGroup(group)
        if ids:
            return max(ids)
        time.sleep(0.05)
    raise AssertionError(f"marker job {group} never reached the status store")


def test_steady_state_jobs_fall_in_phase_or_member_groups(spark, tmp_path):
    """Every Spark job a steady-state epoch (seen set non-empty, every host's
    robots rules cached) submits belongs to one of the five phase groups or
    one commit-member group — none runs untagged. Pins the job budget of
    the payload commits (a fused Bloom-gate pass each) and of the robots
    phase of the first, all-new-host epoch (an append, no merge); later
    changes may lower these pins, never raise them."""
    eng = _engine(spark, tmp_path / "groups", per_host_budget=100)
    eng.add_seed_df(synthetic_seed_df(spark, 600, n_hosts=8))
    lo0 = _marker_job(spark, "test_epoch0_start")
    assert eng.run_epoch()["fetched"] > 0

    lo = _marker_job(spark, "test_epoch_start")
    st = eng.run_epoch()  # the hot host's remainder: same hosts, all cached
    hi = _marker_job(spark, "test_epoch_end")
    assert st["fetched"] > 0

    tracker = spark.sparkContext.statusTracker()
    epoch_jobs = set(range(lo + 1, hi))
    assert epoch_jobs, "the epoch submitted no job"
    groups = PHASES + tuple(eng.COMMIT_MEMBERS)
    by_group = {g: set(tracker.getJobIdsForGroup(g)) & epoch_jobs for g in groups}
    assert set(st["phase_sec"]["commit_breakdown"]) == set(eng.COMMIT_MEMBERS)
    counted = [j for ids in by_group.values() for j in ids]
    assert len(counted) == len(set(counted)), "a job counted in two groups"
    assert set(counted) == epoch_jobs, (
        f"jobs outside every group: {sorted(epoch_jobs - set(counted))}; "
        f"untagged: {sorted(set(tracker.getJobIdsForGroup(None)) & epoch_jobs)}"
    )
    assert not by_group["robots"], "a steady-state epoch plans no robots job"
    assert len(by_group["c_images"]) <= 2 and len(by_group["c_records"]) <= 2
    new_host_robots = set(tracker.getJobIdsForGroup("robots")) & set(range(lo0 + 1, lo))
    assert 0 < len(new_host_robots) <= 3
    print("jobs per group:", {g: len(ids) for g, ids in by_group.items()})


def _env_reads(tree: ast.AST) -> list[str]:
    """String constants naming a SPARK_GRAFT_* variable (every way of
    reading one — os.environ[...], .get(...), os.getenv(...) — names it)."""
    return [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and n.value.startswith("SPARK_GRAFT_")
    ]


def test_only_session_reads_spark_graft_env():
    """Environment switches belong to session set-up; an engine-level
    SPARK_GRAFT_* switch is a diagnostic that outlived its measurement."""
    offenders = {}
    for root, _, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == os.path.join(PKG, "session.py"):
                continue
            with open(path) as f:
                names = _env_reads(ast.parse(f.read()))
            if names:
                offenders[os.path.relpath(path, PKG)] = names
    assert not offenders, offenders
    with open(os.path.join(PKG, "session.py")) as f:
        assert _env_reads(ast.parse(f.read())), "the scan must see session.py's reads"
