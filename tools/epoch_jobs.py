"""Per-group Spark job counts and per-job wall times of crawl_steady cycles.

Runs the benchmark's ``crawl_steady`` workload shape (the engine settings of
``perfbench/crawl.py``: strict mode, per-host budget 8, TTL dedup, vacuum
after every epoch) for a warm-up cycle plus ``--cycles`` measured cycles in
one Spark session, and reads every job the measured cycles submitted back
from Spark's status store: its job group (each epoch phase and commit member
runs under its own; this tool adds ``add_seed``, ``reseed`` and ``vacuum``
around the seeding and maintenance calls, and ``checks`` around the
workload's untimed output checks), its submission and completion
time and its call site. Prints one line per job, a per-group summary, the
seen/order-log digests perfbench pins for the seed, and a final JSON line.

    python tools/epoch_jobs.py --seed 1 --cycles 2

Run from the root of a checkout; the run directory lives under
``.perfbench/`` and is removed on exit, like a perfbench run's.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.crawl import CrawlSteady  # noqa: E402
from perfbench.env import RunEnv  # noqa: E402
from perfbench.stagestats import StatusStore  # noqa: E402

# the groups a cycle's jobs fall in, in cycle order
CYCLE_GROUPS = (
    "add_seed", "reseed", "select_dedup", "robots", "fetch_stage", "stats_pass",
    "commits", "c_images", "c_records", "c_frontier", "c_seen", "c_bloom",
    "c_order_log", "c_lineage", "c_pages", "checks", "vacuum",
)
OUTSIDE_EPOCH = ("add_seed", "reseed", "checks", "vacuum")


def _grouped(sc, group: str, fn):
    @functools.wraps(fn)
    def run(*a, **kw):
        sc.setJobGroup(group, group)
        try:
            return fn(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return run


class _Steady(CrawlSteady):
    """crawl_steady that keeps the digests it pins and runs its output
    checks under the ``checks`` job group."""

    pinned: tuple[str, dict] | None = None

    def check_pinned(self, key: str, dig: dict) -> None:
        self.pinned = (key, dig)
        super().check_pinned(key, dig)

    def _check_epoch(self, eng, s: dict) -> None:
        _grouped(self.spark.sparkContext, "checks", super()._check_epoch)(eng, s)

    def digests(self, eng) -> dict[str, str]:
        return _grouped(self.spark.sparkContext, "checks", super().digests)(eng)


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs_between(spark, lo: int, hi: int) -> list[dict]:
    """Job id, group, wall ms and call site of every job with id in
    [lo, hi), from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for jid in range(lo, hi):
        j = store.job(jid)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        out.append({
            "job": jid,
            "group": _opt(j.jobGroup()) or "(none)",
            "wall_ms": done.getTime() - sub.getTime() if sub and done else None,
            "call_site": j.name(),
        })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cycles", type=int, default=2)
    args = ap.parse_args(argv)
    with RunEnv(ROOT) as env:
        spark = env.start_spark()
        sc = spark.sparkContext
        status = StatusStore(spark)
        wl = _Steady(spark, env, args.seed, None)
        wl.setup()
        for name, group in (("add_seed_df", "add_seed"), ("reseed_from_urls", "reseed"),
                            ("vacuum", "vacuum")):
            setattr(wl.eng, name, _grouped(sc, group, getattr(wl.eng, name)))
        per_cycle = []
        for c in range(args.cycles):
            lo = status.mark().job
            wl.cycle(False)
            status.drain()
            jobs = jobs_between(spark, lo, status.mark().job)
            counts: dict[str, int] = {}
            for j in jobs:
                counts[j["group"]] = counts.get(j["group"], 0) + 1
                print(f"cycle {c} job {j['job']:5d} {j['group']:<13} "
                      f"{j['wall_ms'] if j['wall_ms'] is not None else '-':>6} ms  "
                      f"{j['call_site']}")
            per_cycle.append({"counts": counts, "epoch_s": wl.cycles[-1].get("epoch_s"),
                              "wall_ms": {g: sum(j["wall_ms"] or 0 for j in jobs
                                                 if j["group"] == g) for g in counts}})
        groups = [g for g in CYCLE_GROUPS if any(g in p["counts"] for p in per_cycle)]
        groups += sorted({g for p in per_cycle for g in p["counts"]} - set(groups))
        print(f"\n{'group':<13} {'jobs/cycle':>10} {'job wall ms (median)':>21}")
        summary = {}
        for g in groups:
            n = statistics.median(p["counts"].get(g, 0) for p in per_cycle)
            ms = statistics.median(p["wall_ms"].get(g, 0) for p in per_cycle)
            summary[g] = n
            print(f"{g:<13} {n:>10g} {ms:>21g}")
        epoch = sum(n for g, n in summary.items() if g not in OUTSIDE_EPOCH)
        cycle = sum(summary.values())
        print(f"{'epoch':<13} {epoch:>10g}\n{'cycle':<13} {cycle:>10g}")
        if wl.pinned:
            print(f"digests {wl.pinned[0]}: {wl.pinned[1]}")
        for e in wl.errors:
            print(f"error: {e}", file=sys.stderr)
        print(json.dumps({
            "seed": args.seed, "cycles": args.cycles, "jobs_per_group": summary,
            "epoch_jobs": epoch, "cycle_jobs": cycle,
            "epoch_s": [p["epoch_s"] for p in per_cycle],
            "digests": wl.pinned[1] if wl.pinned else None, "failed": wl.failed,
        }))
    return 1 if wl.failed else 0


if __name__ == "__main__":
    sys.exit(main())
