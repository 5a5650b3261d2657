"""SnapTable — an Iceberg-shaped snapshot/manifest table layer over Parquet.

The sandbox ships no Iceberg/Delta jars, so the engine's "Iceberg tables"
(north_rule) are provided by this from-scratch layer with the same semantic
surface: atomic snapshot commits, MERGE, snapshot history + time travel,
rollback, and per-snapshot summary metrics. The API is deliberately
Iceberg-shaped so a real catalog can be slotted in on a production cluster.

It replaces the reference's durability story — one JSON file per entity
rewritten in place (DetailCrawler.php:888-949), a JSON tracking file rewritten
at end of crawl (GCISCrawler.php:502-511), and periodic `git commit` as the
checkpoint (crawl-details.php:245-291) — with proper table semantics.

Scale design (what makes MERGE viable at 10^10 rows):

- Data files are **hash-bucketed by key**: each commit writes files under
  ``data/s{snapshot}/_bucket=K/``, with K = pmod(xxhash64(key), n_buckets)
  recorded per file in the manifest.
- MERGE is **bucket-pruned copy-on-write**: only buckets that actually
  contain update keys are rewritten; all other data files are carried over
  into the new snapshot untouched. An update batch touching B of N buckets
  rewrites B/N of the table, not all of it.
- The bucket id is derivable from the key (xxhash64), so it is never stored
  as a data column — no storage overhead, and both sides of the MERGE join
  are already co-partitioned by construction (repartition on the same
  bucket expression), which keeps the join shuffle minimal.

Layout:
    {path}/manifests/snap-{id:012d}.json   one manifest per snapshot
    {path}/data/s{id}/_bucket=K/*.parquet  immutable data files
    {path}/_current                        atomic pointer (os.replace)

Single-writer (the driver epoch loop) is assumed, matching the reference's
single-process model; a production deployment would swap the pointer file
for a catalog with atomic compare-and-swap.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class SnapTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        meta = self._read_meta()
        self.key_cols: list[str] = meta["key_cols"]
        self.n_buckets: int = meta["n_buckets"]
        self.schema_ddl: str = meta["schema_ddl"]
        # generated columns: name → SQL expr recomputed on EVERY write path
        # (append/overwrite/merge — including merges that did not supply the
        # column), so the stored value can never go stale no matter which
        # caller mutated the table
        self.derived: dict[str, str] = meta.get("derived", {})
        # columns whose per-file min/max land in the manifest (the Iceberg
        # manifest-stats trick) — read_stats_pruned() uses them to skip data
        # files, or the whole scan, without touching row data
        self.stat_cols: list[str] = meta.get("stat_cols", [])
        # optional second file-partitioning dimension: a low-cardinality
        # state column (e.g. the frontier's ``state``). Files land under
        # _bucket=K/_part=V and record their part in the manifest; merges
        # whose matched keys are guaranteed to live in a known subset of
        # part values (``source_parts``) rewrite only those files — the
        # frontier's done-history is never copy-on-write-rewritten again
        # (VERDICT r4 "Next round" #7)
        self.part_col: str | None = meta.get("part_col")

    @cached_property
    def _struct(self) -> StructType:
        """``schema_ddl`` parsed once per instance (ensure_meta resets it)."""
        return StructType.fromDDL(self.schema_ddl)

    @cached_property
    def _empty(self) -> DataFrame:
        # an empty createDataFrame costs ~25 ms: build it once per instance
        return self.spark.createDataFrame([], self._struct)

    # ---------- creation / metadata ----------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema_ddl: str,
        key_cols: list[str],
        n_buckets: int = 16,
        derived: dict[str, str] | None = None,
        stat_cols: list[str] | None = None,
        part_col: str | None = None,
    ) -> "SnapTable":
        path = path.rstrip("/")
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        meta = {"schema_ddl": schema_ddl, "key_cols": key_cols, "n_buckets": n_buckets}
        if derived:
            meta["derived"] = derived
        if stat_cols:
            meta["stat_cols"] = stat_cols
        if part_col:
            meta["part_col"] = part_col
        SnapTable._atomic_write(os.path.join(path, "_meta.json"), json.dumps(meta))
        SnapTable._atomic_write(os.path.join(path, "_current"), "-1")
        return SnapTable(spark, path)

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(path, "_meta.json"))

    @staticmethod
    def _atomic_write(dest: str, content: str) -> None:
        tmp = f"{dest}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, dest)

    def _read_meta(self) -> dict:
        with open(os.path.join(self.path, "_meta.json")) as f:
            return json.load(f)

    def ensure_meta(
        self,
        schema_ddl: str,
        derived: dict[str, str] | None = None,
        stat_cols: list[str] | None = None,
        part_col: str | None = None,
    ) -> bool:
        """Open-time metadata migration for tables created by an OLDER
        engine version (ADVICE r3: a records table from a pre-``corrupt``
        workdir reopened with ttl_epochs set would raise on the stats probe,
        or worse, silently skip the corruption branch).

        New columns may only be ADDED (append-compatible evolution — the
        Iceberg add-column rule): existing data files simply lack the column
        and read as NULL under the new explicit schema. Derived columns are
        healed lazily: reads recompute them on the fly when stored NULL
        (see read()/read_stats_pruned()), and the next physical rewrite of a
        file stores the computed value. Returns True when a migration was
        written.

        Fails loudly on any DOWNGRADE (ADVICE r4 #1): the stored schema must
        be a field-prefix of the new one (compared as PARSED schemas, not
        comma-split strings — ADVICE r4 #2: ``decimal(10,2)`` /
        ``map<string,string>`` contain commas), every stored derived/stat
        column must survive with the same definition, and an existing
        ``part_col`` may never be changed or removed — a call that would
        silently strip config is treated exactly like an incompatible
        schema, because the stripped feature (e.g. D7's ``corrupt`` probe)
        would otherwise just stop working.
        """
        derived = derived or {}
        stat_cols = stat_cols or []
        # config downgrades: removing or redefining existing derived
        # entries / stat_cols / part_col is a hard error, never a silent strip
        for name, expr in self.derived.items():
            if derived.get(name) != expr:
                raise ValueError(
                    f"config downgrade for {self.path}: derived column "
                    f"{name!r} ({expr!r}) would be "
                    + ("removed" if name not in derived else f"redefined as {derived[name]!r}")
                )
        for name in self.stat_cols:
            if name not in stat_cols:
                raise ValueError(
                    f"config downgrade for {self.path}: stat_col {name!r} "
                    "would be removed"
                )
        if self.part_col is not None and part_col != self.part_col:
            raise ValueError(
                f"config downgrade for {self.path}: part_col "
                f"{self.part_col!r} would become {part_col!r}"
            )
        part_col = part_col or self.part_col
        if (
            schema_ddl == self.schema_ddl
            and derived == self.derived
            and stat_cols == self.stat_cols
            and part_col == self.part_col
        ):
            return False
        old_fields = StructType.fromDDL(self.schema_ddl).fields
        new_fields = StructType.fromDDL(schema_ddl).fields
        if new_fields[: len(old_fields)] != old_fields:
            raise ValueError(
                f"incompatible schema evolution for {self.path}: stored "
                f"{self.schema_ddl!r} is not a prefix of {schema_ddl!r}"
            )
        meta = self._read_meta()
        meta["schema_ddl"] = schema_ddl
        meta["derived"] = derived
        meta["stat_cols"] = stat_cols
        meta["part_col"] = part_col
        for k in ("derived", "stat_cols", "part_col"):
            if not meta[k]:
                del meta[k]
        self._atomic_write(os.path.join(self.path, "_meta.json"), json.dumps(meta))
        self.schema_ddl = schema_ddl
        self.__dict__.pop("_struct", None)
        self.__dict__.pop("_empty", None)
        self.derived = derived
        self.stat_cols = stat_cols
        self.part_col = part_col
        return True

    def _heal_derived(self, df: DataFrame) -> DataFrame:
        """Recompute derived columns on the fly where the stored value is
        NULL — the read-side half of ensure_meta's lazy healing (legacy data
        files predate the column; new writes always store it)."""
        for name, expr in self.derived.items():
            df = df.withColumn(name, F.coalesce(F.col(name), F.expr(expr)))
        return df

    # ---------- snapshots ----------

    def current_snapshot_id(self) -> int:
        with open(os.path.join(self.path, "_current")) as f:
            return int(f.read().strip())

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.path, "manifests", f"snap-{snapshot_id:012d}.json")

    def _load_manifest(self, snapshot_id: int) -> dict:
        with open(self._manifest_path(snapshot_id)) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        """Snapshot history, oldest first (metadata only, no file lists)."""
        out = []
        sid = self.current_snapshot_id()
        while sid >= 0:
            m = self._load_manifest(sid)
            out.append({k: m[k] for k in ("snapshot_id", "parent_id", "ts", "operation", "summary")})
            sid = m["parent_id"]
        return list(reversed(out))

    # ---------- key bucketing ----------

    def _bucket_expr(self):
        key = (
            F.col(self.key_cols[0])
            if len(self.key_cols) == 1
            else F.concat_ws("\x1f", *[F.col(c).cast("string") for c in self.key_cols])
        )
        return F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")

    # ---------- read ----------

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid < 0:
            return self._empty
        m = self._load_manifest(sid)
        files = m["files"]
        if not files:
            return self._empty
        df = self.spark.read.schema(self.schema_ddl).parquet(
            *[os.path.join(self.path, f["path"]) for f in files]
        )
        df = self._apply_deletes(df, files, m.get("deletes", []))
        return self._heal_derived(df)

    def is_empty(self) -> bool:
        sid = self.current_snapshot_id()
        return sid < 0 or not self._load_manifest(sid)["files"]

    def read_stats_pruned(self, col: str, value: bool = True) -> DataFrame | None:
        """Manifest-stats file pruning for a boolean ``stat_cols`` column:
        read only the data files whose footer stats say they MAY contain
        ``value``; return None when every file provably contains none (the
        common case costs zero scans — the manifest alone answers). Files
        without recorded stats are conservatively included."""
        sid = self.current_snapshot_id()
        if sid < 0:
            return None
        m = self._load_manifest(sid)
        cand = []
        for f in m["files"]:
            st = (f.get("stats") or {}).get(col)
            may = st is None or (st[1] is True if value else st[0] is False)
            if may:
                cand.append(f)
        if not cand:
            return None
        df = self.spark.read.schema(self.schema_ddl).parquet(
            *[os.path.join(self.path, f["path"]) for f in cand]
        )
        # MoR: a superseded stale row must not answer the probe
        df = self._apply_deletes(df, cand, m.get("deletes", []))
        return self._heal_derived(df)

    # ---------- write paths ----------

    def _write_data_files(
        self,
        df: DataFrame,
        snapshot_id: int,
        bucketize: bool = True,
        salt_n: int | None = None,
        direct: bool = False,
    ) -> list[dict]:
        """Write df bucketed by key; return manifest file entries.
        ``bucketize=False`` skips the bucket shuffle (for append-only tables
        that are never MERGEd — lineage, order logs); such files get bucket
        -1, which every MERGE treats as always-touched.

        ``direct=True`` keeps proper bucket directories but SKIPS the
        repartition: each input partition writes straight into the bucket
        dirs it has rows for (partitionBy handles the fan-out). Every
        merge-on-read write takes it: those batches already paid a shuffle
        upstream (the commit's key dedup), so the binary payload is not
        shuffled a second time just to co-locate writers; the cost is more,
        smaller files per bucket — bounded by tasks × buckets and folded
        back by compact()/vacuum()."""
        for name, expr in self.derived.items():
            df = df.withColumn(name, F.expr(expr))
        dest = os.path.join(self.path, "data", f"s{snapshot_id}")
        if bucketize and direct:
            df = df.withColumn("_bucket", self._bucket_expr())
            part_by = ["_bucket"]
            if self.part_col:
                df = df.withColumn("_part", F.col(self.part_col).cast("string"))
                part_by.append("_part")
            df.write.partitionBy(*part_by).mode("overwrite").parquet(dest)
        elif bucketize:
            # write parallelism must not be capped at n_buckets: an
            # INDEPENDENT salt (different hash seed than the bucket expr —
            # same-modulus salts would be fully determined by the bucket)
            # spreads each bucket over several writer tasks; partitionBy
            # still lands every row in its bucket directory, just as
            # multiple files (the manifest tracks files per bucket already)
            par = self.spark.sparkContext.defaultParallelism
            if salt_n is None:
                salt_n = max(1, (par * 2) // self.n_buckets)
            salt = F.pmod(
                F.xxhash64(F.col(self.key_cols[0]).cast("string"), F.lit("_w")),
                F.lit(salt_n),
            )
            df = df.withColumn("_bucket", self._bucket_expr())
            part_by = ["_bucket"]
            repart = [F.col("_bucket"), salt]
            if self.part_col:
                df = df.withColumn("_part", F.col(self.part_col).cast("string"))
                part_by.append("_part")
                repart = [F.col("_bucket"), F.col("_part"), salt]
            (
                df.repartition(max(par, self.n_buckets), *repart)
                .write.partitionBy(*part_by)
                .mode("overwrite")
                .parquet(dest)
            )
        else:
            df.write.mode("overwrite").parquet(dest)
        entries = []
        for root, _dirs, fnames in os.walk(dest):
            for fn in fnames:
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(root, fn), self.path)
                e = {"path": rel, "bucket": -1}
                for comp in os.path.relpath(root, dest).split(os.sep):
                    if comp.startswith("_bucket="):
                        e["bucket"] = int(comp.split("=", 1)[1])
                    elif comp.startswith("_part="):
                        e["part"] = comp.split("=", 1)[1]
                entries.append(e)
        entries.sort(key=lambda e: e["path"])
        if self.stat_cols:
            for e in entries:
                e["stats"] = self._file_stats(os.path.join(self.path, e["path"]))
        return entries

    def _file_stats(self, abs_path: str) -> dict:
        """Per-file min/max for ``stat_cols`` from the parquet footer —
        driver-side metadata reads at commit time, O(files), never row data."""
        import pyarrow.parquet as pq

        out: dict = {}
        md = pq.ParquetFile(abs_path).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for col in self.stat_cols:
            i = idx.get(col)
            if i is None:
                continue
            mn = mx = None
            ok = True
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(i).statistics
                if s is None or not s.has_min_max:
                    ok = False
                    break
                mn = s.min if mn is None else min(mn, s.min)
                mx = s.max if mx is None else max(mx, s.max)
            if ok and mn is not None:
                out[col] = [mn, mx]
        return out

    def _commit(
        self,
        operation: str,
        files: list[dict],
        summary: dict | None,
        deletes: list[dict] | None = None,
    ) -> int:
        """``deletes``: equality-delete entries ``{"path": ..., "seq": N}``
        (merge-on-read) carried in the manifest; a delete entry suppresses
        any row with a matching key stored in a file of an OLDER snapshot
        (file seq = the s{N} data directory it lives in). ``None`` inherits
        the parent's deletes; pass ``[]`` to clear (overwrite/compaction)."""
        parent = self.current_snapshot_id()
        sid = parent + 1
        if deletes is None:
            deletes = (
                self._load_manifest(parent).get("deletes", []) if parent >= 0 else []
            )
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent,
            "ts": time.time(),
            "operation": operation,
            "schema_ddl": self.schema_ddl,
            "summary": summary or {},
            "files": files,
        }
        if deletes:
            manifest["deletes"] = deletes
        self._atomic_write(self._manifest_path(sid), json.dumps(manifest))
        self._atomic_write(os.path.join(self.path, "_current"), str(sid))
        return sid

    @staticmethod
    def _file_seq(entry: dict) -> int:
        """Snapshot sequence a data file was added in — parsed from its
        ``data/s{N}/...`` path (every write/adopt lands files there)."""
        p = entry["path"]
        try:
            part = p.split("data/s", 1)[1]
            return int(part.split("/", 1)[0].split(os.sep, 1)[0])
        except (IndexError, ValueError):
            return 0

    def _apply_deletes(
        self, df: DataFrame, files: list[dict], deletes: list[dict]
    ) -> DataFrame:
        """Merge-on-read resolution: drop rows whose key appears in an
        equality-delete entry with seq NEWER than the row's file. The row
        written by the superseding batch (file seq >= delete seq) survives.
        Cost: one broadcast join on file path (O(files) rows) + one join
        against the delete keys (narrow, bounded by compaction cadence)."""
        applicable = [
            d for d in deletes if any(self._file_seq(f) < d["seq"] for f in files)
        ]
        if not applicable:
            return df
        fmap = self.spark.createDataFrame(
            [
                (os.path.abspath(os.path.join(self.path, f["path"])), self._file_seq(f))
                for f in files
            ],
            "_mor_file string, _mor_seq int",
        )
        dparts = []
        for d in applicable:
            # the delete dir's name starts with "_" so raw directory scans
            # of the table never pick delete keys up as data; Spark's path
            # filter would also hide the dir itself from a root-path read,
            # so enumerate the part files and pass them explicitly
            ddir = os.path.join(self.path, d["path"])
            dfiles = [
                os.path.join(ddir, n)
                for n in sorted(os.listdir(ddir))
                if n.endswith(".parquet") and not n.startswith((".", "_"))
            ]
            dparts.append(
                # an explicit schema: inferring it would submit a job
                self.spark.read.schema(self._struct).parquet(*dfiles)
                .select(*self.key_cols)
                .withColumn("_mor_dseq", F.lit(int(d["seq"])))
            )
        dels = dparts[0]
        for extra in dparts[1:]:
            dels = dels.unionByName(extra)
        dels = dels.groupBy(*self.key_cols).agg(F.max("_mor_dseq").alias("_mor_dseq"))
        # input_file_name yields a URI (file://...); normalize to the abs path
        fpath = F.regexp_replace(F.input_file_name(), r"^file:/+", "/")
        return (
            df.withColumn("_mor_file", fpath)
            .join(F.broadcast(fmap), "_mor_file", "left")
            .join(dels, on=self.key_cols, how="left")
            .filter(
                F.col("_mor_dseq").isNull() | (F.col("_mor_seq") >= F.col("_mor_dseq"))
            )
            .drop("_mor_file", "_mor_seq", "_mor_dseq")
        )

    def _fill_derived_placeholders(self, df: DataFrame) -> DataFrame:
        """Callers may omit generated columns entirely — they are recomputed
        at write time regardless, so placeholder NULLs keep the select valid."""
        if not self.derived:
            return df
        have = set(df.columns)
        for f in self._struct.fields:
            if f.name in self.derived and f.name not in have:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df

    def append(
        self, df: DataFrame, summary: dict | None = None, bucketize: bool = True
    ) -> int:
        parent = self.current_snapshot_id()
        prev_files = self._load_manifest(parent)["files"] if parent >= 0 else []
        sid = parent + 1
        df = self._fill_derived_placeholders(df)
        new_files = self._write_data_files(df.select(*self._cols()), sid, bucketize)
        return self._commit("append", prev_files + new_files, summary)

    def overwrite(
        self, df: DataFrame, summary: dict | None = None, salt_n: int | None = None
    ) -> int:
        sid = self.current_snapshot_id() + 1
        df = self._fill_derived_placeholders(df)
        new_files = self._write_data_files(df.select(*self._cols()), sid, salt_n=salt_n)
        # full replacement: equality-deletes are resolved into the rewrite
        # (this is how compact() folds the MoR read tax back to zero)
        return self._commit("overwrite", new_files, summary, deletes=[])

    def _cols(self) -> list[str]:
        return self._struct.fieldNames()

    # ---------- MERGE (bucket-pruned copy-on-write) ----------

    def merge(
        self,
        updates: DataFrame,
        summary: dict | None = None,
        delete: bool = False,
        prefer: str = "new",
        dedupe: bool = True,
        touched_hint: str | None = None,
        source_parts: list[str] | None = None,
        mostly_new: bool = False,
        mor: bool = False,
    ) -> int:
        """Upsert ``updates`` by key (or delete their keys if ``delete``).

        Matched rows: field overlay, update wins per non-key column when its
        value is non-null (reference semantics: new value wins even when it
        is an empty string — crawl-others.php:186-204; an *absent* field is
        a NULL here and keeps the old value). ``updates`` may carry a subset
        of columns; missing ones are treated as absent (NULL).
        ``prefer="old"`` flips the overlay (insert-if-absent: existing rows
        keep their values; update values only fill old NULLs).
        Unmatched update rows: inserted. Untouched buckets: carried over.

        ``updates`` is defensively deduplicated on the key columns (duplicate
        keys in one update batch would otherwise fan out through the
        full-outer join and permanently violate the table's key invariant —
        e.g. the same image bytes extracted from two pages in one epoch);
        callers that pre-deduplicate pass ``dedupe=False`` to skip the
        shuffle. NOTE: with ``dedupe=False`` the caller MUST guarantee
        key-distinct updates on EVERY path — the insert-only fast path (and
        the ``touched_hint="all"`` path) writes the batch directly, so
        duplicate keys land as duplicate rows instead of fanning out through
        the join; "distinct by construction" has to hold for the data, not
        just the usual caller. The updates plan is PERSISTED for the
        duration of the merge: it is consumed twice (touched-bucket
        discovery, then the join+write), and re-evaluating a plan that scans
        the epoch's staging output twice measurably dominated the commit
        path.

        ``touched_hint="all"`` declares that every bucket is (statistically
        certainly) touched by this update batch — e.g. the batch carries
        ≥ 32·n_buckets uniformly-hashed keys. The merge then skips BOTH the
        touched-bucket discovery job and the updates persist (the plan is
        consumed exactly once by the join+write). Safe regardless of the
        data: a bucket declared touched that holds no update keys is merely
        rewritten unchanged.

        ``source_parts`` (requires ``part_col``) is a CALLER CONTRACT that
        every MATCHED update key currently lives in a file whose part value
        is in the list (e.g. the frontier's epoch-end transitions only ever
        match rows stored as ``state='pending'``). Files in other parts are
        carried over without a rewrite — the frontier's accumulated done
        history stops being copy-on-write-rewritten every epoch. Files with
        no recorded part (legacy / NULL part values) are conservatively
        treated as matchable. A WRONG contract duplicates keys (the matched
        row survives in its old file AND lands in a new one) — use only
        where the source-part invariant is structural.

        ``mostly_new=True`` (insert-heavy tables: images/records at crawl
        steady state, where almost every key is brand new) replaces the
        bucket-granularity pessimism with a MATCHED-KEY discovery pass: a
        narrow key-column scan of the existing table (column-pruned parquet)
        semi-joined with the update keys finds the buckets that contain
        genuinely matched keys. Buckets with none — at steady state, all of
        them — take a pure APPEND (no join, no rewrite, cost O(batch)
        regardless of table size); only buckets with real matches pay the
        overlay rewrite. Without this, uniformly-hashed new keys touch every
        bucket and the merge rewrites the WHOLE table every epoch — O(table)
        per epoch, the exact growth the sustained-crawl campaign measures.

        ``mor=True`` (merge-on-read upsert): the batch is appended as new
        files, written direct (see ``_write_data_files``), plus one
        equality-delete entry holding its keys; an empty batch writes no
        file and adds no delete entry.
        """
        parent = self.current_snapshot_id()
        prev_m = self._load_manifest(parent) if parent >= 0 else {"files": []}
        prev_files = prev_m["files"]
        prev_deletes = prev_m.get("deletes", [])
        if dedupe:
            updates = updates.dropDuplicates(self.key_cols)

        if not delete:
            have = set(updates.columns)
            missing = [f for f in self._struct.fields if f.name not in have]
            for f in missing:
                updates = updates.withColumn(f.name, F.lit(None).cast(f.dataType))
        updates = updates.select(*(self._cols() if not delete else self.key_cols))

        if not prev_files:
            if delete:
                return self._commit("delete", [], summary)
            # INSERT-ONLY fast path: merging into an empty table degenerates
            # to a plain bucketed write — no touched-bucket discovery job, no
            # full-outer join (which would shuffle the payload bytes a SECOND
            # time), no persist (the plan is consumed exactly once). This is
            # the first-epoch shape of every payload table (images/records)
            # and measurably dominated the epoch commit tail at 10^6 rows.
            sid = parent + 1
            new_files = self._write_data_files(updates, sid, direct=mor)
            return self._commit("merge", new_files, summary)
        from pyspark.storagelevel import StorageLevel

        def _part_ok(f: dict) -> bool:
            # may this file contain a matched key, per the caller contract?
            if source_parts is None:
                return True
            p = f.get("part")
            return p is None or p == "__HIVE_DEFAULT_PARTITION__" or p in source_parts

        def _read_files(files: list[dict]) -> DataFrame:
            if not files:
                return self._empty
            df = self.spark.read.schema(self.schema_ddl).parquet(
                *[os.path.join(self.path, f["path"]) for f in files]
            )
            # merge must see the MoR-RESOLVED table: a superseded stale row
            # entering the overlay would resurrect next to its survivor
            return self._apply_deletes(df, files, prev_deletes)

        def _overlay(old: DataFrame, upd: DataFrame) -> DataFrame:
            non_key = [c for c in self._cols() if c not in self.key_cols]
            o = old.alias("o")
            u = upd.alias("u")
            first, second = ("u", "o") if prefer == "new" else ("o", "u")
            return o.join(u, on=self.key_cols, how="full_outer").select(
                *[
                    F.coalesce(F.col(f"o.{k}"), F.col(f"u.{k}")).alias(k)
                    for k in self.key_cols
                ],
                *[
                    F.coalesce(F.col(f"{first}.{c}"), F.col(f"{second}.{c}")).alias(c)
                    for c in non_key
                ],
            )

        sid = parent + 1

        if mor and not delete:
            # MERGE-ON-READ upsert (Iceberg equality-delete shape): append
            # the batch as new files and record the batch's KEYS as an
            # equality-delete entry at this sequence — any OLDER row with a
            # matching key is suppressed at read time; the batch's own rows
            # (file seq == delete seq) survive. Write cost is O(batch)
            # regardless of how many keys match (refresh crawls re-crawl
            # entire epochs: rewrite-on-match would be O(table) per epoch),
            # and the write is direct (no second shuffle of the payload).
            # The read tax is one narrow join bounded by compaction cadence
            # (compact()/overwrite fold deletes back to zero). Caller MUST
            # supply key-distinct updates (two same-key rows at one seq
            # would both survive).
            new_files = self._write_data_files(updates, sid, direct=True)
            if not new_files:
                # an empty batch supersedes nothing: a delete entry here
                # would only add a read-time join and count toward vacuum()
                return self._commit("merge", prev_files, summary)
            del_rel = os.path.join("data", f"s{sid}", "_eq_deletes")
            (
                self.spark.read.schema(self.schema_ddl)
                .parquet(*[os.path.join(self.path, f["path"]) for f in new_files])
                .select(*self.key_cols)
                .write.mode("overwrite")
                .parquet(os.path.join(self.path, del_rel))
            )
            deletes = prev_deletes + [{"path": del_rel, "seq": sid}]
            return self._commit(
                "merge", prev_files + new_files, summary, deletes=deletes
            )

        if mostly_new and not delete:
            updates = updates.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                src_files = [f for f in prev_files if _part_ok(f)]
                old_keys = _read_files(src_files).select(*self.key_cols)
                matched_buckets = {
                    r["_b"]
                    for r in updates.select(*self.key_cols)
                    .join(old_keys, on=self.key_cols, how="left_semi")
                    .select(self._bucket_expr().alias("_b"))
                    .distinct()
                    .collect()
                }
                if matched_buckets and any(f["bucket"] == -1 for f in src_files):
                    matched_buckets.add(-1)
                if not matched_buckets:
                    # steady state: nothing matched anywhere — pure append
                    new_files = self._write_data_files(updates, sid)
                    return self._commit("merge", prev_files + new_files, summary)
                hit_paths = {
                    f["path"]
                    for f in src_files
                    if f["bucket"] in matched_buckets
                }
                hit_files = [f for f in prev_files if f["path"] in hit_paths]
                keep_files = [f for f in prev_files if f["path"] not in hit_paths]
                ub = updates.withColumn("_ub", self._bucket_expr())
                upd_in = ub.filter(
                    F.col("_ub").isin(*sorted(matched_buckets))
                ).drop("_ub")
                upd_out = ub.filter(
                    ~F.col("_ub").isin(*sorted(matched_buckets))
                ).drop("_ub")
                merged = _overlay(_read_files(hit_files), upd_in).unionByName(
                    upd_out.select(*self._cols())
                )
                new_files = self._write_data_files(merged, sid)
                return self._commit("merge", keep_files + new_files, summary)
            finally:
                updates.unpersist()

        assume_all = touched_hint == "all"
        if not assume_all:
            updates = updates.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if assume_all:
                keep_files = [f for f in prev_files if not _part_ok(f)]
                hit_files = [f for f in prev_files if _part_ok(f)]
            else:
                upd = updates.withColumn("_bucket", self._bucket_expr())
                touched = sorted(
                    r["_bucket"] for r in upd.select("_bucket").distinct().collect()
                )
                touched_set = set(touched) | {-1}  # unbucketed files always touched
                keep_files = [
                    f
                    for f in prev_files
                    if f["bucket"] not in touched_set or not _part_ok(f)
                ]
                hit_files = [
                    f
                    for f in prev_files
                    if f["bucket"] in touched_set and _part_ok(f)
                ]

            old = _read_files(hit_files)

            if delete:
                merged = old.join(
                    updates.select(*self.key_cols), on=self.key_cols, how="left_anti"
                )
                op = "delete"
            else:
                merged = _overlay(old, updates)
                op = "merge"

            new_files = self._write_data_files(merged, sid)
            return self._commit(op, keep_files + new_files, summary)
        finally:
            if not assume_all:
                updates.unpersist()

    def read_keys_raw(self) -> DataFrame:
        """Key columns of ALL stored rows, WITHOUT merge-on-read resolution
        (superseded keys included — a conservative superset): the source
        of the engine's payload-key Bloom rebuilds, where an extra key is
        only an extra harmless positive."""
        sid = self.current_snapshot_id()
        files = self._load_manifest(sid)["files"] if sid >= 0 else []
        if not files:
            return self._empty.select(*self.key_cols)
        return self.spark.read.schema(self.schema_ddl).parquet(
            *[os.path.join(self.path, f["path"]) for f in files]
        ).select(*self.key_cols)

    def adopt_files(
        self,
        src_paths: list[str],
        summary: dict | None = None,
        delete_key_files: list[str] = (),
    ) -> int:
        """ZERO-COPY append: HARD-LINK parquet files an upstream stage
        already wrote (the crawl epoch's staging output, partitioned by
        row_type) into the table as a new snapshot — the payload bytes are
        written exactly ONCE; the commit is O(files) driver-side metadata
        plus the links. The sources stay in place (the caller decides
        whether to keep them); a file that cannot be linked (another
        filesystem) is copied. Each link lands under a unique temporary
        name and is then replaced onto its final name, so an adopt re-run
        over the leftovers of one that crashed before its manifest commit
        overwrites them.

        Caller contract: the files hold every table column by name with a
        compatible type (extra columns are pruned by the explicit-schema
        read, missing ones read as NULL, derived columns heal on read), and
        every key is either new to the table or listed in one of the
        ``delete_key_files`` (parquet files of key columns, e.g. the
        payload-commit gate's matched keys), linked the same way into this
        sequence's equality-delete entry (merge-on-read), superseding the
        key's OLDER stored rows. Keys duplicated WITHIN the batch need an
        immediate ``merge(..., mor=True)`` of one surviving row per such
        key (the engine's ADOPT+PATCH): its higher-seq delete entry
        supersedes every adopted copy; without it both copies survive
        reads.

        Adopted files carry bucket -1 (not key-bucketed): any later merge
        that finds matched keys treats them as always-touched, and
        compact() folds them into proper buckets."""
        parent = self.current_snapshot_id()
        prev_m = self._load_manifest(parent) if parent >= 0 else {"files": []}
        sid = parent + 1
        entries = []
        for i, src in enumerate(sorted(src_paths)):
            rel = os.path.join("data", f"s{sid}", f"adopt-{i:05d}.parquet")
            self._link(src, rel)
            e = {"path": rel, "bucket": -1}
            if self.stat_cols:
                e["stats"] = self._file_stats(os.path.join(self.path, rel))
            entries.append(e)
        deletes = None
        if delete_key_files:
            del_rel = os.path.join("data", f"s{sid}", "_eq_deletes")
            # a crashed adopt's leftover key files would read as deletes
            shutil.rmtree(os.path.join(self.path, del_rel), ignore_errors=True)
            for i, src in enumerate(sorted(delete_key_files)):
                self._link(src, os.path.join(del_rel, f"keys-{i:05d}.parquet"))
            deletes = prev_m.get("deletes", []) + [{"path": del_rel, "seq": sid}]
        return self._commit("merge", prev_m["files"] + entries, summary, deletes=deletes)

    def _link(self, src: str, rel: str) -> None:
        """Hard-link ``src`` (a copy where the link fails) to ``rel`` under
        the table via a unique temporary name replaced onto the final one."""
        dst = os.path.join(self.path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = os.path.join(os.path.dirname(dst), f".adopt-{uuid.uuid4().hex}")
        try:
            os.link(src, tmp)
        except OSError:
            shutil.copyfile(src, tmp)
        os.replace(tmp, dst)

    # ---------- maintenance ----------

    def rollback(self, snapshot_id: int) -> None:
        """Point the table back at an earlier snapshot. ``-1`` = empty table
        (pre-first-commit state) — used by the engine's epoch-atomicity
        recovery when a crash interrupted the very first commit."""
        if snapshot_id >= 0 and not os.path.exists(self._manifest_path(snapshot_id)):
            raise ValueError(f"no snapshot {snapshot_id}")
        self._atomic_write(os.path.join(self.path, "_current"), str(max(snapshot_id, -1)))

    def compact(self, summary: dict | None = None) -> int:
        """Rewrite the current snapshot into one fresh file per non-empty
        bucket (salt_n=1 disables the write-parallelism salt — compaction's
        whole point is the minimal file count)."""
        return self.overwrite(
            self.read(), summary={**(summary or {}), "compaction": True}, salt_n=1
        )

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Iceberg-shaped maintenance: drop manifests older than the last
        ``keep_last`` snapshots and delete data files no retained snapshot
        references. Time travel remains available within the retention
        window; storage stops growing without bound (at 10^10-row scale the
        copy-on-write history is the dominant storage cost).

        Safe by construction: the current pointer is never expired, files
        are unlinked only when unreferenced by EVERY retained manifest."""
        current = self.current_snapshot_id()
        if current < 0:
            return {"expired_snapshots": 0, "deleted_files": 0}
        retained_ids = []
        sid = current
        while sid >= 0 and len(retained_ids) < keep_last:
            retained_ids.append(sid)
            sid = self._load_manifest(sid)["parent_id"]
        referenced: set[str] = set()
        for rid in retained_ids:
            rm = self._load_manifest(rid)
            referenced.update(f["path"] for f in rm["files"])
            referenced.update(d["path"] for d in rm.get("deletes", []))
        expired = 0
        deleted = 0
        mdir = os.path.join(self.path, "manifests")
        for name in sorted(os.listdir(mdir)):
            if not name.startswith("snap-"):
                continue
            msid = int(name[5:].split(".")[0])
            if msid in retained_ids:
                continue
            m = self._load_manifest(msid)
            for f in m["files"]:
                p = os.path.join(self.path, f["path"])
                if f["path"] not in referenced and os.path.exists(p):
                    os.unlink(p)
                    deleted += 1
            for d in m.get("deletes", []):  # equality-delete dirs (MoR)
                p = os.path.join(self.path, d["path"])
                if d["path"] not in referenced and os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                    deleted += 1
            os.unlink(os.path.join(mdir, name))
            expired += 1
        # oldest retained manifest becomes the history root
        if retained_ids:
            oldest = min(retained_ids)
            m = self._load_manifest(oldest)
            if m["parent_id"] >= 0:
                m["parent_id"] = -1
                self._atomic_write(self._manifest_path(oldest), json.dumps(m))
        return {"expired_snapshots": expired, "deleted_files": deleted}
