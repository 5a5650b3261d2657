"""Sustained multi-epoch crawl campaign — the 100-TB question (VERDICT r4
"Next round" #1).

Every prior scaling number measured ONE epoch starting from EMPTY tables.
The reference's real workload is a long campaign against an existing store
(crawl-details.php:343-357 commits every 5,000 details into a store with
history; DetailCrawler.php:1172-1210 TTL-skips against prior crawls): at
10^8–10^10 URLs the merge/copy-on-write cost, Bloom fill, and manifest
counts all grow with table size. This tool runs N CONSECUTIVE epochs into
ONE workdir — fresh frontier URLs each epoch, seen/images/records/order-log
accumulating — and records per-epoch throughput plus the per-phase and
per-commit breakdown, so any degradation is attributed, not guessed.

Protocol (pre-registered in BENCH/campaign_r5_prereg.md BEFORE the first
recorded run):
- 32 cores, taskset-pinned, tmpfs workdir, fresh JVM, one untimed 100k-URL
  warmup epoch in a throwaway workdir (same isolation policy as
  bench_scaling.py).
- EPOCHS epochs of EPOCH_URLS fresh URLs each (disjoint id ranges through
  ``synthetic_seed_df(start_id=...)``); seeding is timed separately from
  the epoch (both reported; throughput = epoch wall, comparable to the
  scaling campaign's single-epoch numbers).
- storage maintenance is EXERCISED mid-campaign: ``engine.vacuum()`` after
  the epoch at MAINTAIN_AT (timed, reported, excluded from epoch wall).
- primary criterion: median urls/s over the last 3 epochs ≥ 0.85 × median
  over the first 3; secondary: c_frontier commit time flat (last-3 median
  ≤ 2× first-3 median) — the part_col/mostly_new design makes both O(batch),
  not O(table).
- per-epoch evidence: urls/s, phase_sec, commit_breakdown, Bloom fill,
  per-table file counts and byte sizes (manifest-derived, driver-side).

Usage:
  python tools/bench_sustained.py              # full campaign, JSON out
  SPARK_GRAFT_SUSTAINED_URLS=200000 SPARK_GRAFT_SUSTAINED_EPOCHS=4 \
      python tools/bench_sustained.py          # smoke-scale
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EPOCH_URLS = int(os.environ.get("SPARK_GRAFT_SUSTAINED_URLS", "1000000"))
EPOCHS = int(os.environ.get("SPARK_GRAFT_SUSTAINED_EPOCHS", "10"))
CPUS = int(os.environ.get("SPARK_GRAFT_SUSTAINED_CPUS", "32"))
MAINTAIN_AT = int(os.environ.get("SPARK_GRAFT_SUSTAINED_MAINTAIN_AT", "5"))
N_HOSTS = 256
WARMUP_URLS = 100_000
USE_TMPFS = os.environ.get("SPARK_GRAFT_SCALING_TMPFS", "1") == "1"


def _workdir_base() -> str:
    if USE_TMPFS and os.path.isdir("/dev/shm"):
        return "/dev/shm"
    return tempfile.gettempdir()


def _table_stats(table) -> dict:
    sid = table.current_snapshot_id()
    if sid < 0:
        return {"files": 0, "bytes": 0, "snapshots": 0}
    files = table._load_manifest(sid)["files"]
    total = 0
    for f in files:
        p = os.path.join(table.path, f["path"])
        if os.path.exists(p):
            total += os.path.getsize(p)
    return {"files": len(files), "bytes": total, "snapshots": sid + 1}


def worker() -> None:
    from biz_crawlers_spark.engine.crawl import CrawlEngine
    from biz_crawlers_spark.frontier.seed import synthetic_seed_df
    from biz_crawlers_spark.politeness.budget import PolitenessBudget
    from biz_crawlers_spark.session import get_spark

    spark = get_spark(cores=CPUS, shuffle_partitions=CPUS, app="sustained")

    def _engine(wd: str) -> "CrawlEngine":
        return CrawlEngine(
            spark, wd,
            web_params={
                "seed": 42, "n_hosts": N_HOSTS, "max_images_per_page": 1,
                "image_sizes": (16, 32),
            },
            budget=PolitenessBudget(time_scale=0.0),
            per_host_budget=10**9,
            bloom_shards=32, bloom_bits=1 << 23, table_buckets=32,
            fetch_partitions=CPUS,
            fetch_salting=CPUS,
        )

    wd_warm = tempfile.mkdtemp(prefix="sustwarm_", dir=_workdir_base())
    wd = tempfile.mkdtemp(prefix="sustained_", dir=_workdir_base())
    epochs: list[dict] = []
    try:
        warm = _engine(wd_warm)
        warm.add_seed_df(synthetic_seed_df(spark, WARMUP_URLS, n_hosts=N_HOSTS))
        warm.run_epoch()
        shutil.rmtree(wd_warm, ignore_errors=True)

        eng = _engine(wd)
        for e in range(EPOCHS):
            t0 = time.time()
            eng.add_seed_df(
                synthetic_seed_df(
                    spark, EPOCH_URLS, n_hosts=N_HOSTS, start_id=e * EPOCH_URLS
                )
            )
            seed_sec = time.time() - t0
            t0 = time.time()
            stats = eng.run_epoch()
            dt = time.time() - t0
            processed = stats["fetched"] + stats["robots_denied"] + stats["deduped"]
            rec = {
                "epoch": e + 1,
                "epoch_sec": round(dt, 2),
                "seed_sec": round(seed_sec, 2),
                "processed": processed,
                "images": stats["images"],
                "urls_per_sec": round(processed / dt, 1),
                "images_per_sec": round(stats["images"] / dt, 1),
                "phase_sec": stats.get("phase_sec"),
                "payload_paths": stats.get("payload_paths"),
                "bloom_fill": round(eng.bloom.fill_ratio(), 4),
                "tables": {
                    n: _table_stats(getattr(eng, n))
                    for n in ("frontier", "seen", "images", "records", "order_log")
                },
            }
            if e + 1 == MAINTAIN_AT:
                t0 = time.time()
                vstats = eng.vacuum()
                rec["vacuum_sec"] = round(time.time() - t0, 2)
                rec["vacuum"] = {
                    k: v for k, v in vstats.items() if not isinstance(v, dict)
                }
                rec["vacuum_expired"] = {
                    k: v["expired_snapshots"]
                    for k, v in vstats.items()
                    if isinstance(v, dict)
                }
            epochs.append(rec)
            print(json.dumps(rec), flush=True)
            # live progress for the operator (parent captures stdout)
            with open("/tmp/sustained_progress.jsonl", "a") as pf:
                pf.write(json.dumps(rec) + "\n")
        import statistics

        first3 = statistics.median(r["urls_per_sec"] for r in epochs[:3])
        last3 = statistics.median(r["urls_per_sec"] for r in epochs[-3:])
        cf_first = statistics.median(
            r["phase_sec"]["commit_breakdown"].get("c_frontier", 0.0)
            for r in epochs[:3]
        )
        cf_last = statistics.median(
            r["phase_sec"]["commit_breakdown"].get("c_frontier", 0.0)
            for r in epochs[-3:]
        )
        result = {
            "campaign": "sustained",
            "cpus": CPUS, "epoch_urls": EPOCH_URLS, "epochs": EPOCHS,
            "maintain_at": MAINTAIN_AT,
            "tmpfs": wd.startswith("/dev/shm"),
            "first3_median_urls_per_sec": first3,
            "last3_median_urls_per_sec": last3,
            "sustained_ratio": round(last3 / first3, 3),
            "epoch10_over_epoch1": round(
                epochs[-1]["urls_per_sec"] / epochs[0]["urls_per_sec"], 3
            ),
            "c_frontier_first3_median": cf_first,
            "c_frontier_last3_median": cf_last,
            "per_epoch": epochs,
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(wd, ignore_errors=True)
        shutil.rmtree(wd_warm, ignore_errors=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker()
        return
    cmd = [sys.executable, os.path.abspath(__file__), "--worker"]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["/usr/bin/taskset", "-c", f"0-{CPUS - 1}"] + cmd
    env = {**os.environ}
    # a 10^7-row growing store needs more driver heap than the single-epoch
    # default (the whole local "cluster" lives in one JVM)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=14400,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    sys.stderr.write(out.stderr[-4000:] if out.stderr else "")
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    finals = []
    for l in lines:
        try:
            rec = json.loads(l)
        except ValueError:
            continue
        if rec.get("campaign") == "sustained":
            finals.append(rec)
    if not finals:
        raise SystemExit(
            "worker died before the campaign summary "
            f"({len(lines)} epoch records on stdout; stderr tail above)"
        )
    result = finals[-1]
    print(json.dumps(result))
    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/sustained_result.json"
    doc = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                doc = json.load(f)
        except ValueError:
            doc = {}
    doc.setdefault("runs", []).append(result)
    doc["latest"] = result
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)


if __name__ == "__main__":
    main()
