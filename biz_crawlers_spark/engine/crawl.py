"""CrawlEngine — the epoch scheduler (the engine's only "planner").

Each epoch is a micro-batch over the frontier (the Structured-Streaming-style
loop of the north_rule; a bounded-epoch loop keeps every commit an explicit
snapshot, which IS the checkpoint — K8 analog of the reference's periodic
git-commit durability, crawl-details.php:245-291). ``run_epoch`` runs five
named phases over one ``EpochContext``; each phase (and each commit member)
runs under its own Spark job group and is timed into ``phase_sec``:

  select_dedup
    1. pending = frontier rows eligible this epoch (state/pending + not_before)
    2. per-host top-K budget selection (salted two-phase — engine/budget.py)
    3. dedup: batch dropDuplicates (D1) → Bloom prefilter (no false negatives)
       → exact anti-join against the seen table on Bloom-positives only (D2);
       TTL mode (D7) keeps only in-window keys as duplicates
  robots
    4. hosts missing from the robots cache are fetched in the workers (P8)
       and appended to it; every robots read goes through the TTL-windowed
       view (``_known_robots_hosts``)
  fetch_stage
    5. D9 routing (archive mode): one left join attaches the archived body to
       every batch row whose key has an ``ok`` page (search pages excepted)
    6. fetch+extract: repartition BY HOST → fused mapInPandas stage
       (politeness + ordering live there — engine/stage.py); rows carrying an
       archived body are re-parsed in the same stage instead of fetched →
       ONE staging write
  stats_pass
    7. one aggregate over staging: lineage rows, epoch totals, order offsets
  commits
    8. the ``c_*`` members, concurrently: images / records gate + adopt
       (+ an O(duplicates) patch), pages MoR merge, seen append, Bloom add, fused
       frontier MERGE (state transitions + dedup-done + discovered inserts),
       order_log append, lineage append — then the STATE RECORD, which
       makes the whole group atomic (resume() rolls back any table that is
       ahead of the record)

The loop repeats until the frontier drains (early termination, §4.1).

Three shuffles touch the wide path per epoch: the budget selection's two
(one on (host, salt), one on host — both over the narrow frontier rows, the
second over at most S·K rows per host) and the by-host repartition into the
fetch stage; image bytes are never shuffled (the payload tables adopt the
staging files). Per-epoch driver-sequenced jobs are consolidated: ONE stats
pass over staging yields the lineage rows AND the epoch totals, and each
payload commit is ONE shard pass over its staged keys (the Bloom gate).

Sustained-crawl design (per-epoch cost must be O(batch), never
O(accumulated tables), or a long campaign decays):

- frontier files are partitioned by (bucket, STATE); epoch-end merges
  declare ``source_parts=["pending"]`` (their matched keys are all
  currently-pending by construction), so the done/denied/failed history is
  carried over untouched — c_frontier is flat across epochs
- payload commits are ZERO-COPY in every mode: staging's row_type
  partitions are hard-linked into the table (staging stays intact until
  the commit group is done), with cross-epoch matched keys (if any) riding
  the same commit as an equality-delete entry (merge-on-read) whose key
  files the gate's shard pass wrote; in-batch duplicate keys (id
  collisions) add an O(duplicates) MoR patch commit.
  The whole-table copy-on-write rewrite never happens, and the MoR read
  tax is folded by the vacuum compaction cadence
- the order log derives from the sequence the fetch stage itself emits
  (rows arrive sorted per range-contiguous lane; cached D9 rows are
  numbered in place like fetched ones) + per-(partition, host) offsets
  from the stats pass — a narrow scan and an append, no extra shuffle, in
  every mode
- the Bloom filters track per-shard fill in version metadata and rebuild
  into a larger bit space when saturation would degrade the prefilter
  (``_rebuild_if_saturated``; filters/bloom.py saturation policy)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from biz_crawlers_spark.engine.budget import select_per_host_topk
from biz_crawlers_spark.engine.stage import (
    STAGE_DDL,
    make_robots_stage,
    make_stage,
)
from biz_crawlers_spark.filters.bloom import BloomShards
from biz_crawlers_spark.fixtures.web import SeedURL
from biz_crawlers_spark.frontier.seed import (
    FRONTIER_DDL,
    IMAGES_DDL,
    LINEAGE_DDL,
    ORDER_COLS,
    PAGES_DDL,
    RECORDS_CORRUPT_EXPR,
    RECORDS_DDL,
    SEEN_DDL,
    seed_df,
)
from biz_crawlers_spark.politeness.budget import DEFAULT_BUDGET, PolitenessBudget
from biz_crawlers_spark.tables.snaptable import SnapTable

UNBOUNDED_BUDGET = 10**8  # budgets at/above this skip top-K selection

# P8 robots cache table: rules is the JSON list politeness.robots.parse_robots
# produces; fetched_epoch drives TTL re-fetch (robots_ttl_epochs)
ROBOTS_DDL = "host string, rules string, fetched_epoch int"

# epoch totals summed from the stats pass's per-(host, partition) groups
TOTAL_KEYS = (
    "fetched", "ok", "failed", "retried", "robots_denied", "not_found",
    "images", "recs", "disc", "cache_hits",
)

# Bloom hash count of every filter the engine creates
BLOOM_K = 7
# D2 at 10^10 keys: a Bloom whose max shard fill exceeds this is rebuilt into
# a larger bit space at the epoch commit (filters/bloom.py saturation
# policy); 0.5 keeps FPR ≈ 0.5^k ≈ 0.8% worst-case
BLOOM_REBUILD_FILL = 0.5

# the local properties SparkContext.setJobGroup sets
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
)


@dataclass
class EpochContext:
    """What the phases of one epoch hand each other. ``frontier`` and
    ``seen`` are the epoch-start snapshots (a SnapTable read pins its file
    list, so concurrent commits never change what they return)."""

    epoch: int
    frontier: DataFrame | None = None
    seen: DataFrame | None = None
    checked: DataFrame | None = None  # persisted: selection + maybe_seen
    batch: DataFrame | None = None  # persisted: the rows to fetch
    dup_keys: DataFrame | None = None  # selected rows already seen
    n_selected: int = 0
    n_batch: int = 0
    n_missing_hosts: int = 0
    drained: bool = False
    staging: str | None = None
    fetched: DataFrame | None = None  # the staging output, read back
    groups: list = field(default_factory=list)
    totals: dict = field(default_factory=lambda: dict.fromkeys(TOTAL_KEYS, 0))
    phase_sec: dict = field(default_factory=dict)
    payload_paths: dict = field(default_factory=dict)

    @property
    def n_deduped(self) -> int:
        return self.n_selected - self.n_batch

    def rows(self, row_type: str) -> DataFrame:
        # staging is partitioned by row_type: this filter is partition pruning
        return self.fetched.filter(F.col("row_type") == row_type)

    def terminal_ok(self) -> DataFrame:
        """Status rows that make a key seen."""
        return self.rows("status").filter(
            F.col("status").isin("ok", "not_found", "cached")
        )

    def dup_done(self) -> DataFrame:
        # already-seen rows must leave the pending set THIS epoch (not linger
        # to be re-selected and re-deduped every remaining epoch)
        return self.dup_keys.select("url_key", F.lit("done").alias("state"))


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        web_params: dict | None = None,
        budget: PolitenessBudget = DEFAULT_BUDGET,
        per_host_budget: int = 100_000,
        bloom_shards: int = 16,
        bloom_bits: int = 1 << 22,
        table_buckets: int = 16,
        fetch_partitions: int | None = None,
        fetch_salting: int = 0,
        keep_staging: bool = False,
        ttl_epochs: int | None = None,
        archive_pages: bool = False,
        robots_ttl_epochs: int | None = None,
    ):
        """``fetch_salting``: 0 (default, strict mode) partitions the fetch
        stage by host only — per-host politeness pacing is globally correct,
        the right mode for real crawling (where per-host throughput is
        politeness-bound by design, so the hot host's serialization is the
        budget, not a bottleneck). >0 (throughput mode, virtual-time benches)
        additionally salts by pmod(url_key, S): the 80%-one-host skew spreads
        over S lanes so CPU scaling measures the engine, not one task. Crawl
        ORDER is unaffected either way — it is defined by the deterministic
        sort key, not by worker arrival (see c_order_log)."""
        self.spark = spark
        self.workdir = workdir.rstrip("/")
        self.web_params = web_params or {}
        self.budget = budget
        self.per_host_budget = per_host_budget
        self.fetch_partitions = fetch_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self.fetch_salting = fetch_salting
        # keep each epoch's staging directory after its commits (an archive:
        # the payload commit links its files, so keeping them copies nothing
        # and changes no commit path)
        self.keep_staging = keep_staging
        # D7 (DetailCrawler.php:125-129, :1172-1210): None = permanent seen
        # set (report crawls); an int makes seen rows EXPIRE after that many
        # epochs (the 24 h recency window, epoch-denominated in virtual
        # time), and corrupted records (invalid biz_items JSON) force
        # re-crawl regardless — the reference's delete-corrupted-JSON branch.
        self.ttl_epochs = ttl_epochs
        # D9/K5: archive raw page bodies in the pages table; frontier rows
        # whose key is archived are re-parsed by the fetch stage (no fetch)
        self.archive_pages = archive_pages
        # P8: robots rules older than this many epochs re-fetch (None = once
        # per host, ever — the robots SnapTable is the durable cache)
        self.robots_ttl_epochs = robots_ttl_epochs
        os.makedirs(self.workdir, exist_ok=True)

        def tbl(name: str, ddl: str, keys: list[str], **extra) -> SnapTable:
            p = os.path.join(self.workdir, name)
            if SnapTable.exists(p):
                t = SnapTable(spark, p)
                # resume on a workdir created by an OLDER engine version:
                # migrate the stored meta to the current schema (added
                # columns read as NULL from legacy files; derived columns
                # are healed on read — snaptable.ensure_meta)
                t.ensure_meta(
                    ddl,
                    derived=extra.get("derived"),
                    stat_cols=extra.get("stat_cols"),
                    part_col=extra.get("part_col"),
                )
                return t
            return SnapTable.create(spark, p, ddl, keys, n_buckets=table_buckets, **extra)

        # state-partitioned storage: frontier files are laid out by
        # (bucket, state), so the epoch-end merge — whose matched keys are
        # all currently-pending by construction — rewrites ONLY pending
        # files; the accumulated done/denied/failed history is carried over
        # untouched and c_frontier stays O(batch) over a long campaign
        self.frontier = tbl("frontier", FRONTIER_DDL, ["url_key"], part_col="state")
        self.seen = tbl("seen", SEEN_DDL, ["url_key"])
        self.pages = tbl("pages", PAGES_DDL, ["url_key"])
        self.images = tbl("images", IMAGES_DDL, ["image_id"])
        # D7: corrupt is generated at every write; its per-file stats make
        # the TTL probe free when no corrupt rows exist anywhere
        self.records = tbl(
            "records", RECORDS_DDL, ["entity_id"],
            derived={"corrupt": RECORDS_CORRUPT_EXPR}, stat_cols=["corrupt"],
        )
        self.lineage = tbl("lineage", LINEAGE_DDL, ["epoch", "partition_id", "host"])
        self.order_log = tbl(
            "order_log",
            "url_key long, host string, epoch int, host_seq long, status string, "
            "attempts int, n_payload int",
            ["url_key"],
        )
        self.robots = tbl("robots", ROBOTS_DDL, ["host"])
        bp = os.path.join(self.workdir, "bloom")
        self.bloom = (
            BloomShards(bp)
            if os.path.exists(os.path.join(bp, "_meta.json"))
            else BloomShards.create(bp, n_shards=bloom_shards, m_bits=bloom_bits, k=BLOOM_K)
        )
        # Payload-key Blooms gate the zero-copy adopt's matched-key check:
        # probing the batch keys against a maintained Bloom is O(batch),
        # where a raw-key scan would read the key column of EVERY table
        # file each epoch (an O(table) term: c_images/c_records stepping
        # from 4/10 s on an empty store to ~19 s at 10^7 rows). Safety
        # argument: a FALSE POSITIVE "matched" key merely lands in the
        # equality-delete entry — every delete key comes from the batch, so
        # its new row (file seq == delete seq) always survives, and with no
        # older row the delete is a no-op. FALSE NEGATIVES cannot occur
        # because every key ever committed to the table is added to the
        # Bloom in the same commit member (and Blooms have no false
        # negatives); keys from rolled-back epochs linger as harmless extra
        # positives. String keys probe via xxhash64 — a 64-bit hash
        # collision is just another conservative positive. The exact
        # raw-key scan is the test-side reference (tests/test_round5_ops.py).
        self._payload_keyblooms: dict[str, BloomShards] = {}
        for part, table, key in (
            ("image", self.images, "image_id"),
            ("record", self.records, "entity_id"),
        ):
            kp = os.path.join(self.workdir, f"keys_bloom_{part}")
            if os.path.exists(os.path.join(kp, "_meta.json")):
                kb = BloomShards(kp)
            else:
                kb = BloomShards.create(
                    kp, n_shards=bloom_shards, m_bits=bloom_bits, k=BLOOM_K
                )
                if not table.is_empty():
                    # legacy workdir (pre-keybloom engine): one-time rebuild
                    # from the stored raw keys (superset incl. superseded —
                    # extra positives are harmless, see above)
                    kb.rebuild_spark(
                        table.read_keys_raw().select(
                            F.xxhash64(F.col(key)).alias("_kh")
                        ),
                        "_kh",
                        m_bits_new=bloom_bits,
                    )
            self._payload_keyblooms[part] = kb
        if not os.path.exists(self._state_path()):
            self._record_state(0)

    # ---------- state ----------
    #
    # The epoch commit is a GROUP of per-table snapshot commits; the state
    # record makes the group atomic: after every successful epoch (and after
    # every out-of-band mutation — seeding, repair) the record captures each
    # table's snapshot id + the Bloom version. resume() rolls any table that
    # is AHEAD of the record back to it, so a crash between two table commits
    # can never leave (e.g.) url_keys marked seen without their order_log /
    # lineage evidence rows (the epoch simply re-runs in full).

    TABLE_NAMES = (
        "frontier", "seen", "pages", "images", "records", "lineage", "order_log",
        "robots",
    )

    def _state_path(self) -> str:
        return os.path.join(self.workdir, "_crawl_state.json")

    def _read_state(self) -> dict:
        if not os.path.exists(self._state_path()):
            return {"epoch": 0}
        with open(self._state_path()) as f:
            return json.load(f)

    def current_epoch(self) -> int:
        return self._read_state()["epoch"]

    def _rebuild_if_saturated(self, bloom: BloomShards, keys, key_col: str) -> None:
        """Saturation policy, shared by the seen-set Bloom and the
        payload-key Blooms: when the max shard fill (an O(1) version-meta
        read) crosses ``BLOOM_REBUILD_FILL``, rebuild into a larger bit
        space from ``keys()`` — the durable key set — as its own version.
        This rare amortized O(table) pass keeps the per-epoch probe O(batch)
        forever; rollback via the state record still lands on intact older
        versions. ``keys`` is a callable so the key scan is only planned
        when a rebuild runs."""
        if bloom.fill_ratio() > BLOOM_REBUILD_FILL:
            bloom.rebuild_spark(keys(), key_col)

    def _record_state(self, epoch: int) -> None:
        state = {
            "epoch": epoch,
            "snapshots": {
                n: getattr(self, n).current_snapshot_id() for n in self.TABLE_NAMES
            },
            "bloom_version": self.bloom.current_version(),
            # informational: payload-key Blooms never roll back (extra keys
            # are conservative positives; deletions never happen)
            "payload_keybloom_versions": {
                n: kb.current_version()
                for n, kb in self._payload_keyblooms.items()
            },
        }
        SnapTable._atomic_write(self._state_path(), json.dumps(state))

    # ---------- seeding / resume ----------

    def seed_from_urls(self, seeds: list[SeedURL]) -> None:
        self.add_seed_df(seed_df(self.spark, seeds, epoch=self.current_epoch()))

    def add_seed_df(self, df: DataFrame) -> None:
        """MERGE seeds insert-only: re-seeding never resets done/failed rows
        (the reference's cross-run dedup-before-fetch, D2). ``mostly_new``:
        fresh seeds (the long-campaign steady state) take the pure-append
        path — O(seeds) WRITES plus one narrow O(table-files) key-column
        scan for matched-key discovery (seeds may match any frontier state,
        so no source_parts pruning applies)."""
        self.frontier.merge(
            df, prefer="old", summary={"op": "seed"}, mostly_new=True
        )
        self._record_state(self.current_epoch())

    def reseed_from_urls(self, seeds: list[SeedURL]) -> None:
        """Re-enumeration pass (the reference re-runs the same seed list on
        the next crawl invocation): inserts unknown URLs AND reopens known
        ones to pending, so the dedup layer — not frontier state — decides
        what actually re-fetches (everything inside the TTL window dedups to
        done, D7).

        One merge, one snapshot. The update rows are the seeds left-joined
        with the current frontier, each column ``coalesce(old, seed)``
        except ``state='pending'`` and ``not_before=epoch``. That is what
        insert-if-absent (``prefer="old"``: old values win, seeds fill the
        gaps and new keys) followed by a reopen (only state and not_before
        set, every other column kept) leaves behind, so applying these rows
        with ``prefer="new"`` writes the same rows. Seeds are deduplicated
        on url_key and the frontier is key-unique, so the rows are too."""
        epoch = self.current_epoch()
        new = seed_df(self.spark, seeds, epoch=epoch).dropDuplicates(["url_key"])
        reopen = {"state": F.lit("pending"), "not_before": F.lit(epoch)}
        rows = new.alias("n").join(self.frontier.read().alias("o"), "url_key", "left")
        self.frontier.merge(
            rows.select(
                "url_key",
                *[
                    reopen.get(c, F.coalesce(F.col(f"o.{c}"), F.col(f"n.{c}"))).alias(c)
                    for c in new.columns
                    if c != "url_key"
                ],
            ),
            summary={"op": "reseed"},
            dedupe=False,
        )
        self._record_state(epoch)

    def resume(self) -> int:
        """Crash recovery. (1) Epoch atomicity: any table whose current
        snapshot is ahead of the last recorded state (a crash landed between
        the epoch's table commits) is rolled back to the record, so the
        interrupted epoch re-runs in full — no half-committed epoch can leave
        seen rows without their order_log/lineage evidence. (2) Legacy:
        in_flight rows go back to pending. Returns rollbacks + restored."""
        state = self._read_state()
        n_actions = 0
        for name, recorded in state.get("snapshots", {}).items():
            t = getattr(self, name)
            if t.current_snapshot_id() > recorded:
                t.rollback(recorded)
                n_actions += 1
        bv = state.get("bloom_version")
        if bv is not None and self.bloom.current_version() > bv:
            self.bloom._write_pointer(self.bloom.path, bv)
            n_actions += 1
        fr = self.frontier.read()
        stuck = fr.filter(F.col("state") == "in_flight")
        n = stuck.count()
        if n:
            self.frontier.merge(
                stuck.withColumn("state", F.lit("pending")),
                summary={"op": "resume", "restored": n},
            )
            self._record_state(state["epoch"])
        return n + n_actions

    def _known_robots_hosts(self, epoch: int) -> DataFrame:
        """The windowed robots view every robots read goes through: ``host,
        rules`` of the cached rows inside the TTL window. The table is
        append-only and a host is fetched only when it has no in-window
        row, so this view holds at most one row per host (without a TTL the
        table itself stays key-unique)."""
        known = self.robots.read()
        if self.robots_ttl_epochs is not None:
            known = known.filter(
                F.col("fetched_epoch") > epoch - self.robots_ttl_epochs
            )
        return known.select("host", "rules")

    # ---------- the epoch ----------

    def run_epoch(self) -> dict:
        ep = EpochContext(self.current_epoch())
        try:
            self._run_grouped(ep, ep.phase_sec, self._select_dedup)
            if ep.n_batch:
                for phase in (self._robots, self._fetch_stage, self._stats_pass):
                    self._run_grouped(ep, ep.phase_sec, phase)
            if ep.n_batch or ep.n_deduped:
                self._run_grouped(ep, ep.phase_sec, self._commits)
        finally:
            for df in (ep.checked, ep.batch):
                if df is not None:
                    df.unpersist()
        t = ep.totals
        return {
            "epoch": ep.epoch, "selected": ep.n_selected, "deduped": ep.n_deduped,
            "fetched": t["fetched"], "ok": t["ok"], "failed": t["failed"],
            "robots_denied": t["robots_denied"], "not_found": t["not_found"],
            "retried": t["retried"], "images": t["images"],
            "discovered": t["disc"], "cache_hits": t["cache_hits"],
            "drained": ep.drained, "phase_sec": ep.phase_sec,
            "payload_paths": ep.payload_paths,
        }

    def _run_grouped(self, ep: EpochContext, sink: dict, fn) -> None:
        """The phase wrapper: run ``fn(ep)`` under a Spark job group named
        after it (``_select_dedup`` → ``select_dedup``, ``c_seen`` →
        ``c_seen``) and record its wall seconds in ``sink[name]``. Job-group
        properties are thread-local and pool threads do not inherit them,
        so the commit members call this inside their own threads; the
        caller's properties are restored afterwards."""
        name = fn.__name__.lstrip("_")
        sc = self.spark.sparkContext
        prev = [sc.getLocalProperty(p) for p in _JOB_GROUP_PROPS]
        sc.setJobGroup(name, f"{name} epoch {ep.epoch}")
        t0 = time.monotonic()
        try:
            fn(ep)
        finally:
            sink[name] = round(time.monotonic() - t0, 3)
            for p, v in zip(_JOB_GROUP_PROPS, prev):
                sc.setLocalProperty(p, v)

    def _select_dedup(self, ep: EpochContext) -> None:
        epoch = ep.epoch
        ep.frontier = self.frontier.read()
        pending = ep.frontier.filter(
            (F.col("state") == "pending") & (F.col("not_before") <= epoch)
        )
        # the frontier is key-unique (SnapTable merge invariant) and a key
        # has one host, so the top-K needs no dedup shuffle after it
        if self.per_host_budget >= UNBOUNDED_BUDGET:
            # an unbindable budget makes top-K a no-op — skip the selection
            selected = pending
        else:
            selected = select_per_host_topk(pending, self.per_host_budget)

        # dedup: Bloom prefilter, exact anti-join only on positives (§4.1).
        # Empty-seen fast path: on a fresh workdir's first epoch the seen set
        # is empty, so NOTHING can be a duplicate — the Bloom probe (a shard
        # shuffle over the whole selection) is skipped and every row is
        # declared a negative. Identical semantics even when the Bloom
        # carries lingering rolled-back keys: those positives would anti-join
        # an EMPTY seen table straight back into the batch anyway (and in
        # TTL mode _last_seen is null → not fresh → survivor).
        ep.seen = self.seen.read()
        if self.seen.is_empty():
            checked = selected.withColumn("maybe_seen", F.lit(False))
        else:
            checked = self.bloom.prefilter_spark(selected, "url_key")
        ep.checked = checked.persist(StorageLevel.MEMORY_AND_DISK)
        ep.n_selected = ep.checked.count()
        negatives = ep.checked.filter(~F.col("maybe_seen")).drop("maybe_seen")
        positives = ep.checked.filter(F.col("maybe_seen")).drop("maybe_seen")
        if self.ttl_epochs is None:
            survivors = positives.join(ep.seen, on="url_key", how="left_anti")
            ep.dup_keys = positives.join(ep.seen, "url_key", "left_semi")
        else:
            # D7 TTL mode: a key is a duplicate only while its LATEST seen
            # epoch is inside the recency window — stale keys re-fetch (the
            # reference's 24 h skip); corrupted records bypass the window
            # entirely (isRecentlyCrawled's delete-and-recrawl branch).
            # Corruption is the GENERATED ``corrupt`` column (recomputed at
            # every records write) read through manifest-stats pruning: when
            # no data file can contain a corrupt row — the steady state —
            # the probe costs zero scans and the join branch is not planned
            # at all.
            last_seen = ep.seen.groupBy("url_key").agg(
                F.max("seen_epoch").alias("_last_seen")
            )
            corrupt_src = self.records.read_stats_pruned("corrupt")
            j = positives.join(last_seen, "url_key", "left")
            fresh = F.col("_last_seen").isNotNull() & (
                F.lit(epoch) - F.col("_last_seen") < F.lit(self.ttl_epochs)
            )
            drop_cols = ["_last_seen"]
            if corrupt_src is not None:
                corrupt = (
                    corrupt_src.filter(F.col("corrupt"))
                    .select("url_key")
                    .withColumn("_corrupt", F.lit(True))
                )
                j = j.join(corrupt, "url_key", "left")
                fresh = fresh & F.col("_corrupt").isNull()
                drop_cols.append("_corrupt")
            survivors = j.filter(~fresh).drop(*drop_cols)
            ep.dup_keys = j.filter(fresh).drop(*drop_cols)
        ep.batch = negatives.unionByName(survivors).persist(StorageLevel.MEMORY_AND_DISK)
        # ONE job materializes the batch into the persist, counts it, AND
        # counts the hosts missing from the robots cache: the per-host
        # partial agg keeps the extra shuffle O(hosts × partitions), and an
        # epoch where every host is already cached — the steady state —
        # plans zero robots jobs afterwards.
        known_hosts = self._known_robots_hosts(epoch).withColumn("_rk", F.lit(True))
        agg = (
            ep.batch.groupBy("host")
            .agg(F.count(F.lit(1)).alias("_n"))
            .join(known_hosts, "host", "left")
            .agg(
                F.sum("_n").alias("n"),
                F.count(F.when(F.col("_rk").isNull(), True)).alias("miss"),
            )
            .collect()[0]
        )
        ep.n_batch = int(agg["n"] or 0)
        ep.n_missing_hosts = int(agg["miss"] or 0)
        if ep.n_selected == 0:
            ep.drained = pending.limit(1).count() == 0

    def _robots(self, ep: EpochContext) -> None:
        """P8 at crawl scale: robots.txt resolution is a DISTRIBUTED
        pre-pass. The batch's distinct hosts are anti-joined against the
        robots SnapTable (TTL-filtered when robots_ttl_epochs is set); the
        missing hosts fan out to a mapInPandas stage that fetches+parses
        robots.txt in the workers (engine/stage.py make_robots_stage), and
        the result is APPENDED to the robots table (one snapshot; a TTL
        re-fetch leaves the expired row behind, outside the window of
        ``_known_robots_hosts``, so no matched-key discovery is needed).
        The driver does O(1) work per epoch regardless of host count. The
        robots table is in the epoch's atomic commit group (TABLE_NAMES),
        so a crash re-fetches cleanly.

        Runs only when select_dedup's fused aggregate proved at least one
        host is missing: the steady state — every host cached — plans ZERO
        robots jobs."""
        if not ep.n_missing_hosts:
            return
        missing = (
            ep.batch.select("host")
            .dropDuplicates(["host"])
            .join(self._known_robots_hosts(ep.epoch), "host", "left_anti")
        )
        fetched = missing.repartition(self.fetch_partitions, "host").mapInPandas(
            make_robots_stage(self.web_params), "host string, rules string"
        )
        self.robots.append(
            fetched.withColumn("fetched_epoch", F.lit(ep.epoch)),
            summary={"op": "robots", "epoch": ep.epoch},
            bucketize=False,  # read whole through the windowed view
        )

    def _fetch_stage(self, ep: EpochContext) -> None:
        # Crash-safety needs no in_flight marking: selected rows keep
        # state='pending' until the epoch-end commit, so a crash mid-fetch
        # simply re-selects them on restart (commits are atomic snapshots,
        # and the epoch GROUP is atomic via the state record + resume()).
        #
        # fetch+extract — strict mode: partitioned BY HOST (global politeness
        # pacing); throughput mode: range lanes kill the hot-host skew.
        # The fused output lands in a staging PARQUET (not .persist()): the
        # epoch then reads it several times (statuses/images/records/
        # discovered/lineage) and columnar staging means every scan prunes
        # the bytes column away (the payload tables adopt the files) — a
        # row-format cache would deserialize the payload bytes on every
        # scan. The staging dir doubles as the raw-results archive of the
        # epoch (K5 analog).
        stage = make_stage(
            self.web_params, self.budget, self.archive_pages, epoch=ep.epoch
        )
        # D9 routing join: batch rows whose key is in the raw-page archive
        # carry the archived body into the fetch stage, which re-parses it
        # instead of fetching (DetailCrawler.php:105-123); search pages
        # always fetch (the reference caches detail pages, and the two-hop
        # child fetch cannot run from cache). Cached rows ride the same
        # lanes and are numbered in the host's sequence like fetched rows.
        to_fetch = ep.batch
        if self.archive_pages and not self.pages.is_empty():
            arch = self.pages.read().filter(F.col("status") == "ok").select(
                "url_key", "body"
            )
            to_fetch = to_fetch.join(arch, "url_key", "left").withColumn(
                "body",
                F.when(~F.col("canonical_url").contains("/search"), F.col("body")),
            )
        # rules ride along as a column (constant per host, parsed once per
        # host per partition in-stage): a broadcast join for small robots
        # tables, a host-hash shuffle join at 10^6-host scale — never a
        # driver-side dict
        to_fetch = to_fetch.join(self._known_robots_hosts(ep.epoch), "host", "left")
        # Lane layout: throughput mode uses RANGE lanes on (host, order key)
        # instead of hash-salted lanes. Range partitioning (a) balances the
        # 80%-skew host by SAMPLED row counts — no S>>P oversampling against
        # balls-in-bins collisions — and (b) makes each host's lanes
        # CONTIGUOUS in order-key space, so the per-partition host_seq the
        # stage already emits composes into the global per-host crawl order
        # with nothing but per-(partition, host) offsets, which the epoch's
        # ONE stats pass collects anyway. c_order_log then degenerates to a
        # narrow staging scan + broadcast offsets join — no batch re-join, no
        # extra shuffle, no sort job. Strict mode keeps hash-by-host
        # (politeness pacing globally correct); there a host never straddles
        # partitions, so its offset is just 0. Both modes sort within
        # partitions so the stage's arrival order IS the deterministic order
        # key (crawl ORDER is unchanged — order-parity tests pin this).
        if self.fetch_salting > 0:
            lanes = to_fetch.repartitionByRange(
                self.fetch_partitions, "host", *ORDER_COLS
            )
        else:
            lanes = to_fetch.repartition(self.fetch_partitions, "host")
        fetched_df = lanes.sortWithinPartitions("host", *ORDER_COLS).mapInPandas(
            stage, STAGE_DDL
        )
        ep.staging = os.path.join(self.workdir, "staging", f"epoch={ep.epoch}")
        # staging is PARTITIONED BY row_type: (a) every downstream read
        # filters on row_type, which becomes partition pruning — the commit
        # jobs never even open each other's files (this is also what makes
        # the zero-copy adopt safe under concurrent commits); (b) the
        # image/record partitions are pure payload files the payload tables
        # ADOPT by hard link — the epoch's bytes are written exactly once
        fetched_df.write.mode("overwrite").partitionBy("row_type").parquet(ep.staging)
        # the stage's own schema: inferring it would cost a job per epoch
        ep.fetched = self.spark.read.schema(STAGE_DDL).parquet(ep.staging)

    def _stats_pass(self, ep: EpochContext) -> None:
        # ONE stats pass over staging — run before the commits: the collected
        # group rows (O(hosts × partitions), tiny) yield the lineage table
        # rows, the epoch totals, AND the counts that let the commit section
        # skip whole plan branches (no discovery → no frontier anti-join; no
        # duplicates → no dedup-done union) in one staging scan.
        is_status = F.col("row_type") == "status"
        st = F.when(is_status, F.col("status"))
        ep.groups = (
            ep.fetched.groupBy("host", "partition_id")
            .agg(
                F.sum(
                    (is_status & ~st.isin("robots_denied", "cached")).cast("long")
                ).alias("fetched"),
                F.sum((st == "ok").cast("long")).alias("ok"),
                F.sum(
                    (is_status & ~st.isin("ok", "not_found", "robots_denied")).cast("long")
                ).alias("failed"),
                F.sum(
                    F.when(is_status, F.greatest(F.col("attempts") - 1, F.lit(0)))
                    .otherwise(0)
                    .cast("long")
                ).alias("retried"),
                F.sum((st == "robots_denied").cast("long")).alias("robots_denied"),
                F.sum((st == "not_found").cast("long")).alias("not_found"),
                F.sum((F.col("row_type") == "image").cast("long")).alias("images"),
                F.sum((F.col("row_type") == "record").cast("long")).alias("recs"),
                F.sum((F.col("row_type") == "discovered").cast("long")).alias("disc"),
                F.sum((st == "cached").cast("long")).alias("cache_hits"),
                # rows the fetch stage NUMBERED (status rows with a
                # partition-local host_seq): their per-(host, partition)
                # counts are exactly the offsets that turn the stage's local
                # sequence into the global per-host crawl order (see
                # c_order_log) — collected for free in this same pass
                F.sum(
                    (is_status & F.col("host_seq").isNotNull()).cast("long")
                ).alias("n_ord"),
            )
            .collect()
        )
        ep.totals = {k: int(sum(r[k] for r in ep.groups)) for k in TOTAL_KEYS}

    # ---------- commits ----------
    #
    # Per-table commits are atomic; the GROUP is made atomic by the state
    # record written at the end (resume() rolls back any table that is ahead
    # of the record, so a crash anywhere in the commits re-runs the epoch in
    # full — no seen rows without evidence rows). The members are
    # INDEPENDENT (distinct tables/dirs, all reading the immutable staging
    # output; lockstep of seen table and Bloom is guaranteed by the state
    # record, not by sequencing), so they are submitted CONCURRENTLY from
    # driver threads — Spark schedules the jobs in parallel and the epoch's
    # commit tail collapses from a sum of job latencies to their max. Any
    # failure aborts the epoch before the state record, so the group stays
    # atomic.

    COMMIT_MEMBERS = (
        "c_images", "c_records", "c_seen", "c_bloom", "c_frontier",
        "c_order_log", "c_lineage",
    )

    def _commits(self, ep: EpochContext) -> None:
        if not ep.n_batch:
            # the all-duplicate batch leaves the pending set without a fetch
            self.frontier.merge(
                ep.dup_done(), summary={"op": "dedup_skip", "epoch": ep.epoch},
                dedupe=False,
                source_parts=["pending"],  # dup keys were selected from pending
            )
        else:
            members = self.COMMIT_MEMBERS + (("c_pages",) if self.archive_pages else ())
            breakdown = ep.phase_sec.setdefault("commit_breakdown", {})
            with ThreadPoolExecutor(max_workers=len(members)) as ex:
                futures = [
                    ex.submit(self._run_grouped, ep, breakdown, getattr(self, m))
                    for m in members
                ]
                for f in futures:
                    f.result()  # re-raise: a failed member aborts the epoch
            if not self.keep_staging:
                shutil.rmtree(ep.staging, ignore_errors=True)
        self._record_state(ep.epoch + 1)

    # Payload tables are INSERT-HEAVY: at steady state nearly every
    # image_id/entity_id is brand new. Their ONE commit path is ZERO-COPY
    # ADOPT: the staging write already produced pure image/record parquet
    # files (row_type partitions, table column names, epoch + corrupt
    # stamped in-stage), so after one Bloom-gate shard pass (one shuffle,
    # one collect of a row per shard) writes the batch's matched and
    # duplicate keys to files, the commit just HARD-LINKS the payload files
    # and the matched-key files in (SnapTable.adopt_files) — the payload
    # bytes are written exactly once per epoch and the commit cost is
    # O(files) metadata, independent of both batch and table size.

    def c_images(self, ep: EpochContext) -> None:
        rows = ep.rows("image").select(
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "url_key", "seq", "epoch",
        ).dropDuplicates(["image_id"])  # same bytes on two pages in one epoch
        self._payload_commit(
            ep, self.images, "image", rows, "image_id", ep.totals["images"]
        )

    def c_records(self, ep: EpochContext) -> None:
        rows = ep.rows("record").select(
            "entity_id", "entity_name", "entity_names", "address", "change_date",
            "biz_items", "shareholders", "managers", "capital", "parse_mode",
            "category", "url_key", "epoch", "corrupt",
        ).dropDuplicates(["entity_id"])
        self._payload_commit(
            ep, self.records, "record", rows, "entity_id", ep.totals["recs"]
        )

    def _payload_commit(
        self, ep: EpochContext, table: SnapTable, part_dir: str, df_rows,
        key: str, n_rows: int,
    ) -> None:
        src = os.path.join(ep.staging, f"row_type={part_dir}")
        if n_rows == 0 or not os.path.isdir(src):
            return  # nothing extracted: the table keeps its snapshot
        keybloom = self._payload_keyblooms[part_dir]
        # ONE fused shard pass over the staged keys counts them, probes the
        # payload-key Bloom (cross-epoch matches, O(batch), a conservative
        # superset: false positives are harmless no-op deletes, see
        # __init__), adds them, and writes the matched and in-batch
        # duplicate keys as per-shard files; the driver collects one row per
        # shard. The add landing even if a later step aborts the epoch is
        # the documented harmless-lingering-positive case.
        gate = keybloom.gate_spark(
            ep.rows(part_dir), key, os.path.join(ep.staging, f"_gate_{part_dir}")
        )
        n_dup = gate["n_dup"]
        # an empty table cannot hold a match (rolled-back keys linger)
        matched = [] if table.is_empty() else gate["matched"]
        table.adopt_files(
            [os.path.join(src, fn) for fn in os.listdir(src) if fn.endswith(".parquet")],
            summary={
                "epoch": ep.epoch, "adopted": True,
                "matched": gate["n_matched"] if matched else 0, "patched": n_dup,
            },
            delete_key_files=matched,
        )
        if n_dup:
            # ADOPT + PATCH: a few in-batch duplicate keys must not force
            # a full-batch byte rewrite. One row per duplicated key
            # (df_rows is key-distinct) lands as a tiny MoR commit whose
            # higher-seq equality-delete entry supersedes every adopted
            # copy: O(n_dup) payload written; the dead adopted copies
            # fold out at the vacuum/compaction cadence. Staging is
            # still intact (the adopt links), so the rows read lazily.
            dup_keys = self.spark.read.schema(df_rows.select(key).schema).parquet(
                *gate["dups"]
            )
            table.merge(
                df_rows.join(F.broadcast(dup_keys), key, "left_semi"),
                summary={"epoch": ep.epoch, "mor": True, "patch": True},
                dedupe=False, mor=True,
            )
        self._rebuild_if_saturated(
            keybloom,
            lambda: table.read_keys_raw().select(F.xxhash64(F.col(key)).alias("_kh")),
            "_kh",
        )
        ep.payload_paths[part_dir] = "adopt_patch" if n_dup else "adopt"

    def c_pages(self, ep: EpochContext) -> None:
        page_rows = (
            ep.rows("page")
            .select(
                "url_key", "status", F.col("bytes").alias("body"),
                F.lit(ep.epoch).alias("epoch"),
            )
            .dropDuplicates(["url_key"])
        )
        # MoR upsert: re-archived bodies (TTL re-crawls) supersede by key at
        # read time — O(batch) write, never an O(table) rewrite
        self.pages.merge(
            page_rows, summary={"epoch": ep.epoch}, dedupe=False, mor=True
        )

    def c_seen(self, ep: EpochContext) -> None:
        self.seen.append(
            ep.terminal_ok().select("url_key", F.lit(ep.epoch).alias("seen_epoch")),
            summary={"epoch": ep.epoch},
        )

    def c_bloom(self, ep: EpochContext) -> None:
        keys = ep.terminal_ok().select("url_key")
        self.bloom.add_spark(keys, "url_key")
        # the rebuild source is the durable seen set as of this commit: the
        # epoch-start seen snapshot plus this epoch's terminal keys —
        # deterministic regardless of the concurrent c_seen commit's timing
        self._rebuild_if_saturated(
            self.bloom, lambda: ep.seen.select("url_key").unionByName(keys), "url_key"
        )

    def c_frontier(self, ep: EpochContext) -> None:
        # ONE fused merge — fetched-state transitions + dedup-done marks +
        # discovered inserts. State transitions apply to FRONTIER rows only;
        # two-hop detail fetches (parent_key set) are derived requests —
        # seen-tracked and lineage-counted but never frontier rows.
        updates = ep.rows("status").filter(F.col("parent_key").isNull()).select(
            "url_key",
            F.when(F.col("status").isin("ok", "not_found", "cached"), "done")
            .when(F.col("status") == "robots_denied", "denied")
            .otherwise("failed")
            .alias("state"),
            F.col("attempts").alias("retries"),
        )
        n_discovered = ep.totals["disc"]
        if n_discovered:
            # F4 discoveries stay distributed: url_key/host/page derived with
            # column expressions from the (already canonical) discovered_url —
            # no driver collect, no createDataFrame round-trip
            ndf = (
                ep.rows("discovered").select(
                    F.xxhash64("discovered_url").alias("url_key"),
                    F.col("discovered_url").alias("canonical_url"),
                    F.lower(F.parse_url("discovered_url", F.lit("HOST"))).alias("host"),
                    F.lit(0).alias("org_idx"),
                    F.lit(0).alias("type_idx"),
                    F.coalesce(
                        F.nullif(
                            F.regexp_extract("discovered_url", r"[?&]pages=(\d+)", 1),
                            F.lit(""),
                        ).cast("int"),
                        F.lit(0),
                    ).alias("page"),
                    F.coalesce(F.col("priority"), F.lit(0)).alias("priority"),
                    F.lit("pending").alias("state"),
                    F.lit(0).alias("retries"),
                    F.lit(ep.epoch + 1).alias("not_before"),
                    F.lit(ep.epoch + 1).alias("discovered_epoch"),
                )
                .dropDuplicates(["url_key"])
                # re-discovered URLs never reset existing rows (insert-only)
                .join(ep.frontier.select("url_key"), "url_key", "left_anti")
            )
            updates = ndf.unionByName(updates, allowMissingColumns=True)
        if ep.n_deduped:
            updates = updates.unionByName(ep.dup_done(), allowMissingColumns=True)
        # With n uniformly-hashed update keys over B buckets,
        # P(some bucket untouched) <= B * (1 - 1/B)^n < B * e^(-n/B); at
        # n >= 32·B that is < B·e^-32 ≈ never. Declaring every bucket touched
        # lets the merge skip the touched-bucket discovery job AND the
        # updates persist (the plan is consumed exactly once). A false "all"
        # only rewrites an unchanged bucket; never incorrect.
        n_upd = ep.n_batch + n_discovered + ep.n_deduped
        self.frontier.merge(
            updates, summary={"op": "epoch_end", "epoch": ep.epoch},
            dedupe=False,  # all sources are key-unique by construction
            touched_hint="all" if n_upd >= 32 * self.frontier.n_buckets else None,
            # source_parts contract: every MATCHED key is currently-pending
            # (transitions + dup marks come from this epoch's pending
            # selection; discovered rows are anti-joined new keys) — so only
            # pending-part files rewrite; the done history carries over
            source_parts=["pending"],
        )

    def c_order_log(self, ep: EpochContext) -> None:
        # crawl-order evidence: per-host sequence of url_keys. host_seq is
        # DERIVED from the deterministic order key, not from worker arrival —
        # identical in strict and salted modes, and equal to the reference's
        # sequential order per host (SURVEY.md §7).
        #
        # STAGED RANKING: the fetch stage receives rows sorted by (host,
        # order key) within range-contiguous lanes, so the partition-local
        # host_seq it already emits — for fetched, robots-denied AND cached
        # rows — IS the per-host rank up to a per-(partition, host) offset,
        # and those offsets are the n_ord counts the stats pass collected.
        # The order-log commit is then ONE narrow column-pruned staging scan,
        # a broadcast join against the tiny offsets table (empty in strict
        # mode: a host never straddles partitions there), and the append —
        # no batch re-join, no range-sampling job, no sort, no persist. The
        # offsets side is O(host-partition pairs that straddle a lane
        # boundary); at 10^6 hosts it stays O(hosts) rows — driver-built but
        # broadcast once per executor, never captured per task.
        per_host: dict[str, list] = {}
        for r in ep.groups:
            if r["n_ord"]:
                per_host.setdefault(r["host"], []).append(
                    (r["partition_id"], r["n_ord"])
                )
        off_rows = []
        for h, lst in per_host.items():
            acc = 0
            for pid, c in sorted(lst):
                if acc:
                    off_rows.append((h, pid, acc))
                acc += c
        ranked = ep.rows("status").filter(F.col("host_seq").isNotNull())
        if off_rows:
            off_df = self.spark.createDataFrame(
                off_rows, "host string, partition_id int, _off long"
            )
            seq = (
                F.coalesce(F.col("_off"), F.lit(0)) + F.col("host_seq")
            ).cast("long")
            ranked = ranked.join(
                F.broadcast(off_df), ["host", "partition_id"], "left"
            )
        else:
            seq = F.col("host_seq").cast("long")
        self.order_log.append(
            ranked.select(
                "url_key", "host", F.lit(ep.epoch).alias("epoch"),
                seq.alias("host_seq"), "status", "attempts", "n_payload",
            ),
            summary={"epoch": ep.epoch},
            bucketize=False,  # append-only evidence table, never MERGEd
        )

    def c_lineage(self, ep: EpochContext) -> None:
        lineage_rows = self.spark.createDataFrame(
            [
                (ep.epoch, r["partition_id"], r["host"], r["fetched"], r["ok"], 0,
                 r["failed"], r["retried"], r["robots_denied"], r["not_found"],
                 r["images"], r["cache_hits"])
                for r in ep.groups
            ],
            LINEAGE_DDL,
        )
        self.lineage.append(
            lineage_rows, summary={"epoch": ep.epoch}, bucketize=False
        )

    def run(self, max_epochs: int = 100, maintain_every: int = 0) -> list[dict]:
        """Epoch loop; ``maintain_every`` > 0 runs vacuum() every N epochs
        (the long-crawl storage-maintenance cadence)."""
        out = []
        for i in range(max_epochs):
            stats = self.run_epoch()
            out.append(stats)
            if stats["drained"]:
                break
            if maintain_every and (i + 1) % maintain_every == 0:
                self.vacuum()
        return out

    def vacuum(self, keep_last: int = 2, compact_deletes_after: int = 6) -> dict:
        """Storage maintenance for long crawls: fold merge-on-read deletes
        (tables carrying ≥ ``compact_deletes_after`` equality-delete entries
        are compacted — the MoR read tax is bounded by THIS cadence, the
        Iceberg maintenance contract), expire old table snapshots (SnapTable
        copy-on-write history is the dominant storage cost at 10^10 rows),
        prune Bloom filter version directories, and drop staging dirs older
        than the current epoch when they are not being kept as the archive.
        Retention ≥ 2 keeps the resume() rollback window intact (the state
        record never points more than one snapshot back); time travel
        remains available inside the window."""
        keep_last = max(keep_last, 2)
        stats: dict = {}
        compacted = []
        for name in self.TABLE_NAMES:
            t = getattr(self, name)
            sid = t.current_snapshot_id()
            if sid >= 0 and len(
                t._load_manifest(sid).get("deletes", [])
            ) >= compact_deletes_after:
                t.compact(summary={"op": "vacuum_mor_fold"})
                compacted.append(name)
        if compacted:
            stats["mor_compacted"] = compacted
            self._record_state(self.current_epoch())
        for name in self.TABLE_NAMES:
            stats[name] = getattr(self, name).expire_snapshots(keep_last=keep_last)
        stats["bloom_versions_removed"] = self.bloom.expire_versions(keep_last)
        # payload-key Blooms version per touched epoch like the seen Bloom,
        # so they are expired too (unbounded keys_bloom_* growth otherwise).
        # They never roll back (extra positives are conservative), so the
        # rollback-window floor is not needed; keep_last is still honored
        # for uniform time-travel debugging.
        stats["payload_keybloom_versions_removed"] = {
            part: kb.expire_versions(keep_last)
            for part, kb in self._payload_keyblooms.items()
        }
        if not self.keep_staging:
            sdir = os.path.join(self.workdir, "staging")
            if os.path.isdir(sdir):
                epoch = self.current_epoch()
                for d in os.listdir(sdir):
                    if d.startswith("epoch=") and int(d.split("=")[1]) < epoch:
                        shutil.rmtree(os.path.join(sdir, d), ignore_errors=True)
        return stats
