"""Every benchmark seed maps to crawl inputs the library can generate."""

from __future__ import annotations

from perfbench.crawl import (SEED_SLOTS, SEED_STRIDE, SYNTH_START_YYYMM, URLS_PER_MONTH,
                             CrawlFresh, seed_start_id)

INT32_MAX = 2**31 - 1


def test_seed_ranges_keep_the_month_column_in_int32():
    top = max(seed_start_id(s) for s in (-1, 0, 9876, SEED_SLOTS - 1, 2**63))
    assert top == (SEED_SLOTS - 1) * SEED_STRIDE
    last_id = top + SEED_STRIDE - 1
    assert SYNTH_START_YYYMM + last_id // URLS_PER_MONTH <= INT32_MAX


def test_one_run_stays_inside_its_seed_range():
    # crawl_fresh's warm-up uses the ids just past 10**6
    assert 10**6 + CrawlFresh.WARMUP_URLS < SEED_STRIDE
    assert seed_start_id(1) - seed_start_id(0) == SEED_STRIDE


def test_steady_cycles_cover_whole_months():
    from perfbench.crawl import CrawlSteady, months_of

    assert SEED_STRIDE % URLS_PER_MONTH == 0
    sizes = {len(months_of(seed_start_id(s) + i * CrawlSteady.N_FRESH, CrawlSteady.N_FRESH))
             for s in (0, 1, 9876) for i in range(5)}
    assert sizes == {CrawlSteady.N_FRESH // URLS_PER_MONTH}
