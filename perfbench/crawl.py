"""Crawl workloads.

``crawl_fresh``: every cycle seeds the same seeded URL set into a NEW empty
store and runs one epoch — throughput mode (fetch salted over the cores),
unbounded per-host budget, virtual-time politeness, 256 hosts with the
fixture's 80%-on-h0 skew. The fetch+extract stage and the zero-copy payload
adopt do most of the work; dedup takes the empty-seen fast path.

``crawl_steady``: one workdir carried through every cycle in the real-crawl
configuration — strict mode, a bounded per-host budget (top-K selection),
TTL dedup, ``vacuum()`` after every epoch (timed apart from the cycle).
Each cycle seeds fresh URLs through ``add_seed_df`` and re-enumerates the
months of the previous cycle through ``reseed_from_urls``
(``fixtures.web.company_seed`` uses the grammar of ``synthetic_seed_df``),
so the Bloom prefilter and the exact anti-join see positives every epoch.
The per-epoch fixed cost dominates.

Outputs are checked after every epoch, untimed: the epoch's own accounting,
the committed row counts against the summed epoch stats, and digests of the
seen set and the order-log ordering (identical across cycles of
crawl_fresh, and across runs with the same seed, see ``perfbench/digests.py``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from perfbench.digests import check_pinned
from perfbench.outcomes import Outcomes
from perfbench.stagestats import StageTotals, StatusStore, totals
from perfbench.trace import Tracer

N_HOSTS = 256
PHASES = ("select_dedup", "robots", "fetch_stage", "stats_pass", "commits")
MEMBERS = ("c_frontier", "c_images", "c_records", "c_seen", "c_bloom",
           "c_order_log", "c_lineage")
TABLES = ("frontier", "seen", "pages", "images", "records", "lineage",
          "order_log", "robots")
PAYLOAD_TABLES = ("images", "records")
SYNTH_START_YYYMM = 10001  # synthetic_seed_df's default month origin
URLS_PER_MONTH = 42  # 14 orgs x 3 report types


def engine_metric_names() -> list[str]:
    names = [f"engine.{p}_s" for p in PHASES]
    # concurrent commit members: wall time of each member's thread, i.e.
    # when it finished in a race with the others, not its cost alone
    names += [f"engine.commit.{m}_s" for m in MEMBERS]
    names += ["engine.jobs", "engine.stages", "engine.tasks", "engine.task_run_s",
              "engine.task_cpu_s", "engine.gc_s", "engine.shuffle_read_bytes",
              "engine.shuffle_write_bytes", "engine.spill_bytes", "engine.task_skew",
              "engine.dedup_ratio", "engine.selected", "engine.retry_ratio",
              "engine.fetched", "engine.phase_coverage", "engine.vacuum_s"]
    names += ["frontier.seed_s", "frontier.reseed_s"]
    names += ["tables.merge_s", "tables.merge_calls", "tables.adopt_s",
              "tables.append_s", "tables.compact_s", "tables.expire_s",
              "tables.bytes_written_per_payload_byte", "tables.files_live",
              "tables.delete_entries"]
    names += ["filters.bloom_add_s", "filters.bloom_fill", "filters.bloom_rebuilds"]
    return names


SEED_SLOTS = 40_000
# ids one run may use (warm-up offset 10**6 + cycles), in whole months so
# every seed's cycles cover the same number of months
SEED_STRIDE = 47_620 * URLS_PER_MONTH


def seed_start_id(seed: int) -> int:
    """Disjoint synthetic id ranges per benchmark seed, small enough that
    ``synthetic_seed_df``'s month (origin + id / 42, an int column) cannot
    overflow 32 bits."""
    return (seed % SEED_SLOTS) * SEED_STRIDE


def months_of(start_id: int, n: int) -> list[int]:
    lo = SYNTH_START_YYYMM + start_id // URLS_PER_MONTH
    hi = SYNTH_START_YYYMM + (start_id + n - 1) // URLS_PER_MONTH
    return list(range(lo, hi + 1))


def table_files(workdir: str) -> dict[str, dict]:
    """Live data files and delete entries of every table, read from the
    manifests on disk: {table: {"files": {path: bytes}, "deletes": n}}."""
    out = {}
    for t in TABLES:
        tdir = os.path.join(workdir, t)
        cur = os.path.join(tdir, "_current")
        if not os.path.exists(cur):
            continue
        with open(cur) as f:
            sid = int(f.read().strip())
        if sid < 0:
            out[t] = {"files": {}, "deletes": 0}
            continue
        with open(os.path.join(tdir, "manifests", f"snap-{sid:012d}.json")) as f:
            m = json.load(f)
        files = {}
        for e in m["files"]:
            p = os.path.join(tdir, e["path"])
            files[p] = os.path.getsize(p) if os.path.exists(p) else 0
        out[t] = {"files": files, "deletes": len(m.get("deletes", []))}
    return out


class CrawlWorkload(Outcomes):
    name = ""

    def __init__(self, spark, env, seed: int, tracer: Tracer | None):
        super().__init__()
        self.spark, self.env, self.seed, self.tracer = spark, env, seed, tracer
        self.store = StatusStore(spark) if tracer else None
        self.cycles: list[dict] = []
        self.sums = {"seen": 0, "images": 0, "order_log": 0}

    # subclass hooks
    def engine_kwargs(self) -> dict:
        raise NotImplementedError

    def new_engine(self, workdir: str):
        from biz_crawlers_spark.engine.crawl import CrawlEngine
        from biz_crawlers_spark.politeness.budget import PolitenessBudget

        cores = self.env.cores
        return CrawlEngine(
            self.spark, workdir,
            web_params={"seed": self.seed, "n_hosts": N_HOSTS, "max_images_per_page": 1},
            budget=PolitenessBudget(time_scale=0.0),
            bloom_shards=cores, bloom_bits=1 << 22, table_buckets=cores,
            fetch_partitions=cores, **self.engine_kwargs(),
        )

    def seed_df(self, start_id: int, n: int):
        from biz_crawlers_spark.frontier.seed import synthetic_seed_df

        return synthetic_seed_df(self.spark, n, n_hosts=N_HOSTS, start_id=start_id)

    # ---------- one epoch with its bookkeeping ----------

    def _epoch(self, eng, traced: bool, cyc: dict) -> None:
        before = table_files(eng.workdir) if traced else None
        self.attempted += 1
        t0 = time.monotonic()
        try:
            stats = eng.run_epoch()
        except Exception:
            self.fail("run_epoch")
            return
        cyc["epoch_s"] = time.monotonic() - t0
        cyc["stats"] = stats
        if traced:
            ep = self.tracer.by_name("engine.run_epoch")[-1]
            ps = stats.get("phase_sec", {})
            self.tracer.add_children(ep, [(f"engine.{p}", ps.get(p, 0.0)) for p in PHASES])
            self.store.drain()
            cyc["stage"] = totals(self.store, ep.attrs["mark_start"], ep.attrs["mark_end"])
            cyc["run_epoch"] = ep.id
            cyc["files_before"], cyc["files_after"] = before, table_files(eng.workdir)
            cyc["bloom_fill"] = eng.bloom.fill_ratio()
        self._check_epoch(eng, stats)

    def _check_epoch(self, eng, s: dict) -> None:
        self.attempted += 1
        try:
            if s["fetched"] + s["robots_denied"] + s["deduped"] != s["selected"]:
                raise AssertionError(
                    f"fetched {s['fetched']} + robots_denied {s['robots_denied']} + "
                    f"deduped {s['deduped']} != selected {s['selected']}")
            self.sums["seen"] += s["ok"] + s["not_found"] + s["cache_hits"]
            self.sums["images"] += s["images"]
            self.sums["order_log"] += s["fetched"] + s["robots_denied"]
            got = {t: getattr(eng, t).read().count() for t in self.sums}
            if got["seen"] != self.sums["seen"] or got["order_log"] != self.sums["order_log"]:
                raise AssertionError(f"table rows {got} != summed epoch stats {self.sums}")
            # image ids are content keys (one image on two pages is one
            # row), so the table may hold fewer rows than the summed stats
            if got["images"] > self.sums["images"] or (self.sums["images"] and not got["images"]):
                raise AssertionError(f"images rows {got['images']} vs {self.sums['images']}")
        except Exception:
            self.fail("epoch check")

    def digests(self, eng) -> dict[str, str]:
        """Order-insensitive row hashes; the crawl order is in host_seq."""
        from tools.check_oracle import frame_hash

        seen = eng.seen.read().select("url_key", "seen_epoch").toPandas()
        order = eng.order_log.read().select(
            "url_key", "host", "epoch", "host_seq", "status").toPandas()
        return {"seen": frame_hash(seen)[2], "order_log": frame_hash(order)[2]}

    def check_pinned(self, key: str, dig: dict) -> None:
        """Same seed, same inputs → the same digests in every run."""
        self.attempted += 1
        err = check_pinned(self.env.root, key, dig)
        if err:
            self.fail("pinned digests", err)

    def check(self) -> None:
        """Nothing left to check: outputs are checked after every epoch."""

    # ---------- metrics ----------

    def _measured(self, traced: bool) -> list[dict]:
        return [c for c in self.cycles if c["traced"] == traced and "epoch_s" in c]

    def end_to_end(self) -> dict[str, float]:
        cs = self._measured(False)
        return {"cycle_s": statistics.median(c["seed_s"] + c["epoch_s"] for c in cs)}

    def summary(self) -> dict[str, tuple[float, str]]:
        cs = self._measured(False)
        wall = sum(c["epoch_s"] for c in cs)
        urls = sum(c["stats"]["fetched"] + c["stats"]["robots_denied"]
                   + c["stats"]["deduped"] for c in cs)
        return {
            "epoch_s": (statistics.median(c["epoch_s"] for c in cs), "s"),
            "seed_s": (statistics.median(c["seed_s"] for c in cs), "s"),
            "urls_per_s": (urls / wall, "1/s"),
            "images_per_s": (sum(c["stats"]["images"] for c in cs) / wall, "1/s"),
        }

    def op_series(self) -> list[tuple[bool, float]]:
        return [(c["traced"], c["epoch_s"]) for c in self.cycles if "epoch_s" in c]

    def per_layer(self) -> dict[str, float]:
        tr = self.tracer
        cs = self._measured(True)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out: dict[str, float] = {}
        for p in PHASES:
            out[f"engine.{p}_s"] = med([c["stats"]["phase_sec"].get(p, 0.0) for c in cs])
        for m in MEMBERS:
            out[f"engine.commit.{m}_s"] = med(
                [c["stats"]["phase_sec"].get("commit_breakdown", {}).get(m, 0.0) for c in cs])
        st: list[StageTotals] = [c["stage"] for c in cs]
        for f in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew"):
            out[f"engine.{f}"] = med([getattr(s, f) for s in st])
        out["engine.selected"] = med([c["stats"]["selected"] for c in cs])
        out["engine.fetched"] = med([c["stats"]["fetched"] for c in cs])
        out["engine.dedup_ratio"] = med(
            [c["stats"]["deduped"] / max(c["stats"]["selected"], 1) for c in cs])
        out["engine.retry_ratio"] = med(
            [c["stats"]["retried"] / max(c["stats"]["fetched"], 1) for c in cs])
        cover = []
        for c in cs:
            ep = tr.spans[c["run_epoch"]]
            kids = sum(k.duration for k in tr.children(ep) if k.name.startswith("engine."))
            cover.append(kids / ep.duration if ep.duration else 0.0)
        out["engine.phase_coverage"] = med(cover)
        out["engine.vacuum_s"] = med([c["vacuum_s"] for c in cs if "vacuum_s" in c])
        out["frontier.seed_s"] = med([c["add_seed_s"] for c in cs])
        out["frontier.reseed_s"] = med([c["reseed_s"] for c in cs if "reseed_s" in c])

        def per_cycle(name: str, field: str = "self") -> float:
            vals = []
            for c in cs:
                lo, hi = c["t0"], c["t1"]
                sp = [s for s in tr.by_name(name) if lo <= s.start < hi]
                vals.append(sum(tr.self_time(s) for s in sp) if field == "self" else len(sp))
            return med(vals)

        out["tables.merge_s"] = per_cycle("tables.merge")
        out["tables.merge_calls"] = per_cycle("tables.merge", "count")
        out["tables.adopt_s"] = per_cycle("tables.adopt_files")
        out["tables.append_s"] = per_cycle("tables.append")
        out["tables.compact_s"] = per_cycle("tables.compact")
        out["tables.expire_s"] = per_cycle("tables.expire_snapshots")
        out["filters.bloom_add_s"] = per_cycle("filters.bloom_add")
        out["filters.bloom_rebuilds"] = per_cycle("filters.bloom_rebuild", "count")
        out["filters.bloom_fill"] = med([c["bloom_fill"] for c in cs])
        amp, live, dels = [], [], []
        for c in cs:
            b, a = c["files_before"], c["files_after"]
            new = {t: sum(sz for p, sz in a[t]["files"].items()
                          if p not in b.get(t, {"files": {}})["files"]) for t in a}
            payload = sum(new.get(t, 0) for t in PAYLOAD_TABLES)
            if payload:
                amp.append(sum(new.values()) / payload)
            live.append(sum(len(a[t]["files"]) for t in a))
            dels.append(sum(a[t]["deletes"] for t in a))
        out["tables.bytes_written_per_payload_byte"] = med(amp)
        out["tables.files_live"] = med(live)
        out["tables.delete_entries"] = med(dels)
        return out


class CrawlFresh(CrawlWorkload):
    name = "crawl_fresh"
    N_URLS = 1000
    WARMUP_URLS = 300

    def engine_kwargs(self) -> dict:
        return {"per_host_budget": 10**9, "fetch_salting": self.env.cores}

    def setup(self) -> None:
        eng = self.new_engine(self.env.path("warmup"))
        eng.add_seed_df(self.seed_df(seed_start_id(self.seed) + 10**6, self.WARMUP_URLS))
        eng.run_epoch()
        shutil.rmtree(eng.workdir, ignore_errors=True)
        self.ref_digest = None

    def cycle(self, traced: bool) -> None:
        i = len(self.cycles)
        wd = self.env.path(f"store{i}")
        cyc = {"traced": traced, "t0": time.monotonic()}
        self.sums = {k: 0 for k in self.sums}
        eng = self.new_engine(wd)
        t0 = time.monotonic()
        self.attempted += 1
        try:
            eng.add_seed_df(self.seed_df(seed_start_id(self.seed), self.N_URLS))
            cyc["seed_s"] = cyc["add_seed_s"] = time.monotonic() - t0
            self._epoch(eng, traced, cyc)
        except Exception:
            self.fail("cycle")
        cyc["t1"] = time.monotonic()
        self.cycles.append(cyc)
        if "epoch_s" in cyc:
            dig = self.digests(eng)
            self.attempted += 1
            if self.ref_digest is None:
                self.ref_digest = dig
                self.check_pinned(f"{self.name}:{self.seed}:{self.N_URLS}", dig)
            elif dig != self.ref_digest:
                self.fail(f"cycle {i} digests", f"{dig} != cycle 0 {self.ref_digest}")
        shutil.rmtree(wd, ignore_errors=True)


class CrawlSteady(CrawlWorkload):
    name = "crawl_steady"
    N_FRESH = 14 * URLS_PER_MONTH  # whole months: the reseed size is fixed
    PER_HOST_BUDGET = 8
    TTL_EPOCHS = 3

    def engine_kwargs(self) -> dict:
        return {"per_host_budget": self.PER_HOST_BUDGET, "fetch_salting": 0,
                "ttl_epochs": self.TTL_EPOCHS}

    def setup(self) -> None:
        self.eng = self.new_engine(self.env.path("store"))
        self.n_cycles = 0
        self.cycle(False, warmup=True)

    def cycle(self, traced: bool, warmup: bool = False) -> None:
        from biz_crawlers_spark.fixtures.web import company_seed

        i = self.n_cycles
        self.n_cycles += 1
        base = seed_start_id(self.seed)
        cyc = {"traced": traced, "t0": time.monotonic()}
        self.attempted += 1
        try:
            t0 = time.monotonic()
            self.eng.add_seed_df(self.seed_df(base + i * self.N_FRESH, self.N_FRESH))
            t1 = time.monotonic()
            cyc["add_seed_s"] = t1 - t0
            if i:
                seeds = [u for v in months_of(base + (i - 1) * self.N_FRESH, self.N_FRESH)
                         for u in company_seed(v // 100, v % 100, n_hosts=N_HOSTS)]
                self.eng.reseed_from_urls(seeds)
                cyc["reseed_s"] = time.monotonic() - t1
            cyc["seed_s"] = time.monotonic() - t0
            self._epoch(self.eng, traced, cyc)
            t0 = time.monotonic()
            self.eng.vacuum()
            cyc["vacuum_s"] = time.monotonic() - t0
        except Exception:
            self.fail("cycle")
        cyc["t1"] = time.monotonic()
        if i == 1 and "epoch_s" in cyc:  # state after warm-up + one cycle
            self.check_pinned(f"{self.name}:{self.seed}:{self.N_FRESH}", self.digests(self.eng))
        if not warmup:
            self.cycles.append(cyc)
