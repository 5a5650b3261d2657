"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_fresh|crawl_steady|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One Spark session on local[<cpus>] runs the
workload as a closed loop (each call starts when the previous one returned)
until ``--seconds`` have passed, then checks the outputs. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.

End-to-end metrics (every workload reports each one):
  setup_s      process start until the session is up, the inputs are built
               and the warm-up is done
  cycle_s      median wall time of one closed-loop cycle: seeding
               (``add_seed_df``, + ``reseed_from_urls`` in crawl_steady)
               plus ``run_epoch`` (crawl_*), or one pass over the 14 leaves
               (analytics); crawl_steady's ``vacuum()`` is timed apart

The lines before the JSON also give the parts of a cycle and its throughput
(epoch_s, seed_s, urls_per_s = (fetched + robots_denied + deduped) / summed
epoch wall, images_per_s; similarity_s and relational_s for the ml and
queries leaves). They are not bounded metrics: urls_per_s varies with the
seed's URL mix, and failed_op_share = failed / attempted is 0 on a correct
run. The peak summed RSS of the JVM and its Python workers is printed too,
but reported as the layer metric ``spark.peak_rss_mb``: it depends on when
the JVM's collector runs and does not repeat within a tenth.

``--trace 1`` alternates untraced and traced cycles (at least three):
wrappers installed from ``perfbench/trace.py`` record spans around the
library's public calls, the Spark status store is diffed per call, and
``trace.overhead_ratio`` is the median, over traced cycles, of the traced
cycle's op time (``run_epoch``, or the analytics pass) over the mean of its
two untraced neighbours, minus one. Spans are written to
``.perfbench/traces/``. Exit code 2: not run from a checkout of the
project.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.env import RunEnv, host_steal_seconds, process_start_monotonic  # noqa: E402

T_PROCESS = process_start_monotonic()

END_TO_END = {"setup_s": "s", "cycle_s": "s"}
WORKLOADS = ("crawl_fresh", "crawl_steady", "analytics")


def per_layer_names() -> list[str]:
    from perfbench.analytics import bench_queries, leaf_metric_names
    from perfbench.crawl import engine_metric_names

    return engine_metric_names() + leaf_metric_names(bench_queries()) + [
        "spark.peak_rss_mb", "trace.overhead_ratio"]


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_skew", "_fill", "_coverage", "_per_payload_byte")):
        return "ratio"
    return "count"


def tracing_overhead(series: list[tuple[bool, float]]) -> float:
    """Median over traced cycles of op time / mean of the untraced cycles
    just before and after it, minus one (cancels drift as a store grows)."""
    ratios = [
        t / ((series[i - 1][1] + series[i + 1][1]) / 2)
        for i, (traced, t) in enumerate(series)
        if traced and 0 < i < len(series) - 1
        and not series[i - 1][0] and not series[i + 1][0]
    ]
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def make_workload(name: str, spark, env, seed: int, tracer):
    if name == "analytics":
        from perfbench.analytics import Analytics

        return Analytics(spark, env, seed, tracer)
    from perfbench.crawl import CrawlFresh, CrawlSteady

    cls = CrawlFresh if name == "crawl_fresh" else CrawlSteady
    return cls(spark, env, seed, tracer)


def run(args) -> dict:
    from perfbench.stagestats import marking_tracer

    with RunEnv(ROOT) as env:
        spark = env.start_spark()
        tracer = marking_tracer(spark) if args.trace else None
        wl = make_workload(args.workload, spark, env, args.seed, tracer)
        t_session = time.monotonic() - T_PROCESS
        wl.setup()
        setup_s = time.monotonic() - T_PROCESS
        t_measure = time.monotonic()
        steal0 = host_steal_seconds()
        deadline = t_measure + args.seconds
        n = 0
        while True:
            traced = bool(args.trace) and n % 2 == 1
            if traced:
                tracer.install_library_wrappers()
            try:
                wl.cycle(traced)
            finally:
                if traced:
                    tracer.uninstall()
            n += 1
            # a traced run ends on an untraced cycle, after at least U T U
            if time.monotonic() >= deadline and (not args.trace or (n >= 3 and n % 2)):
                break
        t_check = time.monotonic()
        wl.check()
        print(f"perfbench: session {t_session:.1f}s, set-up {setup_s:.1f}s, "
              f"{n} cycles {t_check - t_measure:.1f}s, "
              f"checks {time.monotonic() - t_check:.1f}s, host steal "
              f"{(host_steal_seconds() - steal0) / (time.monotonic() - t_measure):.2f} "
              "cpu/s", file=sys.stderr)
        for e in wl.errors:
            print(f"error: {e}", file=sys.stderr)
        env.rss.sample()
        peak_mb = env.rss.peak / (1 << 20)
        summary = {"setup_s": (setup_s, "s")}
        if args.trace:
            metrics = {k: 0.0 for k in per_layer_names()}
            metrics.update(wl.per_layer())
            metrics["trace.overhead_ratio"] = tracing_overhead(wl.op_series())
            metrics["spark.peak_rss_mb"] = peak_mb
            units = {k: per_layer_unit(k) for k in metrics}
            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"))
            summary["tracing_overhead"] = (metrics["trace.overhead_ratio"], "ratio")
        else:
            metrics = {"setup_s": setup_s, **wl.end_to_end()}
            units = END_TO_END
            summary.update(wl.summary())
        summary["peak_rss_mb"] = (peak_mb, "MB")
        summary["failed_op_share"] = (wl.failed / max(wl.attempted, 1), "ratio")
        for k, (v, u) in summary.items():
            print(f"{args.workload:<13} {k:<20} {v:>14.6g} {u}")
        return {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("biz_crawlers_spark/__init__.py", "bench.py",
                           "__spark_entry__.py", "tools/check_oracle.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the project (missing {missing})",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
