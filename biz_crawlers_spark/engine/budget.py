"""Per-host priority-queue budget selection (north_rule P9).

The skew problem: ~80% of frontier URLs share one host (FIXTURES.md §2), so a
naive `row_number() OVER (PARTITION BY host ORDER BY …)` sends 80% of the
table through one sort partition. The fix is classic two-phase top-K, both
phases as JVM window ``row_number`` filters (no Python worker on the path):

  phase 1 — salted local top-K: a window over (host, salt) where
            salt = pmod(url_key, S) keeps each group's K smallest rows. The
            hot host's rows are spread over S groups; output ≤ S·K rows per
            host. For K at or below
            ``spark.sql.optimizer.windowGroupLimitThreshold`` Spark also
            plans a partial ``WindowGroupLimit`` before the shuffle, so only
            each map task's local top-K crosses it.
  phase 2 — exact per-host top-K over that reduced set with a second
            window (input is tiny: ≤ S·K per host).

Result is exactly the K smallest rows per host by the deterministic crawl
order key (url_key is its last column, so there are no ties) — identical to
the unsalted single-sort answer, without the skewed shuffle. Two exchanges:
one on (host, salt), one on host. ``K = per-host politeness budget per
epoch``. Phase 1 stays in the JVM on purpose: a grouped pandas heap pays one
Python call per (host, salt) group — hundreds of groups of a few rows each
per epoch, which cost more than the rows' sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biz_crawlers_spark.frontier.seed import ORDER_COLS


def select_per_host_topk(df: DataFrame, k: int, salt_buckets: int = 8) -> DataFrame:
    """K highest-priority (lowest order-key) pending rows per host."""
    order = [F.col(c).asc() for c in ORDER_COLS]

    def keep_top(d: DataFrame, *part) -> DataFrame:
        w = Window.partitionBy(*part).orderBy(*order)
        return (
            d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    salt = F.pmod(F.col("url_key"), F.lit(salt_buckets))
    return keep_top(keep_top(df, F.col("host"), salt), F.col("host"))
