"""Checkpoint-repair job (D6).

The reference's repair: when a crawl yields zero IDs, scan tracking entries
for the target month whose .txt payload is missing, drop them from the seen
set, and retry once (GCISCrawler.php:82-90, :534-603). Distributed analog:

    inconsistent = seen ⟕anti images.url_key ⟕anti records.url_key
                   restricted to url_keys whose terminal status was 'ok'
                   AND claimed payload (n_payload > 0 — search pages commit
                   nothing under their own key by design, §3.2 two-hop)

Those keys are (1) deleted from the exact seen table and (2) their frontier
rows are re-opened (state='pending'), so the next epoch re-fetches them.
The Bloom filter cannot delete and does not need to: it is only a
prefilter, and the exact anti-join after it admits the re-opened keys
because the seen TABLE no longer contains them. Bounded single retry = the
reference's `_retry` guard.

Scale discipline: NOTHING here materializes keys on the driver. The lost
set stays a DataFrame end-to-end (only counted) — at the north_rule's 10^10
seen keys a whole-table driver materialization would be ~80 GB.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def repair_lost_payloads(engine) -> dict:
    """Run one repair pass against a CrawlEngine. Returns counters:
    ``lost`` seen rows without payload, ``unseen`` rows deleted from the
    seen table, ``reopened`` frontier rows set back to pending."""
    seen = engine.seen.read()
    images = engine.images.read().select("url_key").distinct()
    records = engine.records.read().select("url_key").distinct()
    ok_keys = (
        engine.order_log.read()
        # only URL classes whose status row CLAIMED payload can lose it:
        # search pages legitimately commit nothing under their own key
        # (their payload lands under the detail page's d_key) — without the
        # n_payload gate a repair pass would un-see every successful search
        # page and corrupt the seen-set / duplicate order evidence
        .filter((F.col("status") == "ok") & (F.col("n_payload") > 0))
        .select("url_key")
        .distinct()
    )
    lost = (
        seen.join(ok_keys, "url_key", "left_semi")
        .join(images, "url_key", "left_anti")
        .join(records, "url_key", "left_anti")
        .select("url_key")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_lost = lost.count()
    if n_lost == 0:
        lost.unpersist()
        return {"lost": 0, "unseen": 0, "reopened": 0}

    # (1) exact seen-table delete: ``lost`` is exactly the seen rows that
    # carry a lost key, so the delete removes n_lost rows
    engine.seen.merge(lost, delete=True, summary={"op": "repair", "n": n_lost})

    # (2) reopen frontier rows for a bounded retry
    reopened = (
        engine.frontier.read()
        .join(lost, "url_key", "left_semi")
        .withColumn("state", F.lit("pending"))
        .withColumn("not_before", F.lit(engine.current_epoch()))
    )
    n_reopened = reopened.count()
    engine.frontier.merge(reopened, summary={"op": "repair_reopen"})
    # keep the epoch-atomicity record in sync (repair mutates tables
    # out-of-band; resume() must not roll its commits back)
    engine._record_state(engine.current_epoch())
    lost.unpersist()
    return {"lost": n_lost, "unseen": n_lost, "reopened": n_reopened}
