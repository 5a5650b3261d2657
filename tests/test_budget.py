"""Salted two-phase top-K == unsalted exact top-K (the north_rule priority
queue must be a pure optimization, never a semantics change)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from biz_crawlers_spark.engine.budget import select_per_host_topk
from biz_crawlers_spark.frontier.seed import FRONTIER_DDL, ORDER_COLS


def _mk_frontier(spark, n=3000, hosts=3):
    rows = []
    for i in range(n):
        host = f"h{0 if i % 10 < 8 else (i % 10) - 7}.t"  # 80% on h0
        rows.append(
            (i * 7919 - n, f"https://{host}/u{i}", host, i % 14, i % 3, 0,
             i % 97, "pending", 0, 0, 0)
        )
    return spark.createDataFrame(rows, FRONTIER_DDL)


def test_topk_matches_exact(spark):
    # 1000 is the default spark.sql.optimizer.windowGroupLimitThreshold: at
    # or below it Spark adds a partial WindowGroupLimit before the shuffle,
    # above it not. h0 holds 80% of the 3,000 rows, so k=1001 still cuts it.
    df = _mk_frontier(spark)
    w = Window.partitionBy("host").orderBy(*[F.col(c).asc() for c in ORDER_COLS])
    for k in (1, 5, 40, 1000, 1001):
        got = select_per_host_topk(df, k, salt_buckets=4)
        exact = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )
        g = sorted((r["host"], r["url_key"]) for r in got.collect())
        e = sorted((r["host"], r["url_key"]) for r in exact.collect())
        assert g == e, f"k={k}"
        assert len(g) == sum(min(k, n) for n in (2400, 300, 300)), f"k={k}"


@pytest.mark.parametrize("k", [8, 5000])
def test_topk_plan_is_jvm_only_with_two_exchanges(spark, k):
    """Both phases are JVM windows: no Python node, one exchange on
    (host, salt) and one on host. The plan is read before execution, so
    it holds AQE's initial plan only."""
    got = select_per_host_topk(_mk_frontier(spark), k, salt_buckets=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_topk_small_groups_passthrough(spark):
    df = _mk_frontier(spark, n=20)
    got = select_per_host_topk(df, 1000, salt_buckets=8)
    assert got.count() == 20
