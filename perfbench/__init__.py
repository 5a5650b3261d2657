"""Repository benchmark: three closed-loop workloads over the crawl engine and
the analytic leaves, with an optional traced run for per-layer numbers.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``perfbench/run.py``.
"""
