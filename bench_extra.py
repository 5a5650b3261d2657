"""Per-query isolation harness for the optimization round (bench.py is
FROZEN for driver measurement; this file exists so individual queries can be
timed / re-timed / plan-dumped without touching the contract).

Usage:
  python bench_extra.py q13 q10            # time just these, median of N
  python bench_extra.py --plan q13         # also dump .explain("formatted")
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py --repeats 3 all

Same methodology as bench.py: warmup pass at sf0.001 (same plan shape → JIT/
codegen warm), then timed passes through the noop sink at the target SF.
Prints one JSON line per run plus a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES, WARMUP_SF_DIR  # noqa: E402

# short CLI names (q13 ...) are the labels' prefixes in bench.py's table
QUERIES = {label.split("_", 1)[0]: (label, fn) for label, fn in BENCH_QUERIES.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+", help="short query names (q13 ...) or 'all'")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--plan", metavar="DIR", default=None,
                    help="dump .explain('formatted') of each query to DIR/<name>.txt")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    names = list(QUERIES) if args.names == ["all"] else args.names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from biz_crawlers_spark.session import get_spark

    spark = get_spark(cores=cpus, shuffle_partitions=cpus, app="bench_extra")

    if args.plan:
        os.makedirs(args.plan, exist_ok=True)
        for n in names:
            label, fn = QUERIES[n]
            df = fn(spark, sf_dir)
            with open(os.path.join(args.plan, f"{label}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"plan written: {args.plan}/{label}.txt")

    if not args.no_warmup and os.path.isdir(WARMUP_SF_DIR):
        for n in names:
            _, fn = QUERIES[n]
            spark.sparkContext.setJobDescription(f"warmup:{n}")
            fn(spark, WARMUP_SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    results: dict[str, list[float]] = {}
    for r in range(args.repeats):
        for n in names:
            label, fn = QUERIES[n]
            spark.sparkContext.setJobDescription(f"timed:{label}:r{r}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            results.setdefault(label, []).append(dt)
            print(json.dumps({"query": label, "run": r, "sec": dt, "sf_dir": sf_dir}))
    summary = {
        label: {"median": sorted(ts)[len(ts) // 2], "runs": ts}
        for label, ts in results.items()
    }
    print(json.dumps({"summary": summary, "sf_dir": sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()
