"""Sharded Bloom filter for URL-seen dedup at 10^10-key scale (north_rule).

Replaces the reference's seen-set — a JSON tracking file loaded fully into
memory per run (GCISCrawler.php:484-511) — with a structure that scales:

- the bit space is split into ``n_shards`` shards; a key's shard is
  ``pmod(url_key, n_shards)``, so each executor task needs only its own
  shard's bits (at 10^10 keys / 1% FPP the total filter is ~12 GB — never
  broadcast; shards are read by the tasks that own them)
- membership test + insert are numpy bit ops over whole Arrow batches
  (``np.bitwise_or.at`` / gather), no per-row Python
- k index positions come from double hashing: h1/h2 derived from the key by
  splitmix64 (Steele et al., "Fast Splittable Pseudorandom Number
  Generators", OOPSLA'14), pos_i = (h1 + i·h2) mod m
- persistence is versioned npy shard files + an atomic pointer, committed in
  lockstep with the epoch snapshot (the Bloom state is part of the
  checkpoint; resumable like everything else)
- Bloom guarantees no false negatives; the engine uses it as a prefilter and
  runs the exact anti-join only on Bloom-positives (SURVEY.md §4.1), so the
  end-to-end dedup is exact. Deletions (checkpoint repair D6) need no
  filter delete: repair deletes from the exact seen table, and a lingering
  Bloom positive anti-joins straight back into the batch.
- SATURATION POLICY (VERDICT r4 #4): a filter sized at create time for 10^8
  keys silently degrades at 10^10 (fill ratio → 1, FPR → 1, and the
  prefilter turns into "anti-join everything" — correct but O(seen) join
  work, the exact cost D2 exists to avoid). Every ``add_spark`` therefore
  records per-shard set-bit counts in the new version's ``_vmeta.json``;
  ``fill_ratio()`` is an O(1) driver read, and when it crosses the engine's
  threshold (default 0.5) the epoch commit triggers ``rebuild_spark`` —
  a distributed re-insert of the full seen set into a fresh, larger bit
  space (sized from the fill-estimated key count, power-of-two, targeting
  ≤0.25 fill with headroom). ``m_bits`` is VERSIONED: each version dir
  carries its own size in ``_vmeta.json``, so rollback to a pre-rebuild
  version (the engine's epoch-atomicity contract) keeps working.

Spark integration keeps everything co-partitioned by shard: one shuffle on
(shard), then applyInPandas groups load/update exactly one shard file each.

SIZING KNOB: ``n_shards`` caps the prefilter/insert parallelism (one task
per shard), so set it to at least the executor-core count of the target
cluster — the benches use n_shards = cores; at the north_rule's 10^10 keys
you want hundreds of shards anyway so each shard's bit array (m_bits/8
bytes) stays comfortably in one task's memory. Shards are independent
files; raising the count is a rebuild, not a redesign.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SM_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_C2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64."""
    with np.errstate(over="ignore"):
        z = (x + _GOLDEN).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * _SM_C1
        z = (z ^ (z >> np.uint64(27))) * _SM_C2
        return z ^ (z >> np.uint64(31))


def _positions(keys: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing."""
    u = keys.astype(np.int64).view(np.uint64)
    h1 = splitmix64(u)
    h2 = splitmix64(u ^ np.uint64(0xDEADBEEFCAFEF00D)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


class BloomShards:
    """Versioned on-disk sharded Bloom filter.

    Layout: {path}/_meta.json, {path}/_current, {path}/v{n}/shard-{s}.npy
    """

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        with open(os.path.join(self.path, "_meta.json")) as f:
            meta = json.load(f)
        self.n_shards: int = meta["n_shards"]
        self.m_bits: int = meta["m_bits"]
        self.k: int = meta["k"]

    @staticmethod
    def create(path: str, n_shards: int = 16, m_bits: int = 1 << 20, k: int = 7) -> "BloomShards":
        path = path.rstrip("/")
        os.makedirs(os.path.join(path, "v0"), exist_ok=True)
        empty = np.zeros(m_bits // 8, dtype=np.uint8)
        for s in range(n_shards):
            np.save(os.path.join(path, "v0", f"shard-{s}.npy"), empty)
        with open(os.path.join(path, "v0", "_vmeta.json"), "w") as f:
            json.dump({"m_bits": m_bits, "fills": {str(s): 0 for s in range(n_shards)}}, f)
        tmp = os.path.join(path, f"_meta.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"n_shards": n_shards, "m_bits": m_bits, "k": k}, f)
        os.replace(tmp, os.path.join(path, "_meta.json"))
        BloomShards._write_pointer(path, 0)
        return BloomShards(path)

    @staticmethod
    def _write_pointer(path: str, version: int) -> None:
        tmp = os.path.join(path, f"_current.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(path, "_current"))

    def current_version(self) -> int:
        with open(os.path.join(self.path, "_current")) as f:
            return int(f.read().strip())

    def _shard_file(self, version: int, s: int) -> str:
        return os.path.join(self.path, f"v{version}", f"shard-{s}.npy")

    # ---------- per-version sizing metadata (saturation policy) ----------

    def _vmeta_path(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}", "_vmeta.json")

    def _read_vmeta(self, version: int) -> dict:
        p = self._vmeta_path(version)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"m_bits": self.m_bits, "fills": {}}

    def _write_vmeta(self, version: int, m_bits: int, fills: dict) -> None:
        tmp = self._vmeta_path(version) + f".{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"m_bits": m_bits, "fills": {str(k): int(v) for k, v in fills.items()}}, f)
        os.replace(tmp, self._vmeta_path(version))

    def m_bits_of(self, version: int | None = None) -> int:
        """The bit-space size of a version (versions before a rebuild keep
        their original size — rollback-safe). Falls back to the create-time
        meta for legacy versions without a ``_vmeta.json``."""
        v = self.current_version() if version is None else version
        return int(self._read_vmeta(v)["m_bits"])

    def fill_ratio(self, version: int | None = None) -> float:
        """Max per-shard fill (set bits / m_bits) of a version — an O(1)
        driver-side metadata read when every shard's count is recorded
        (every ``add_spark``/``add``/``rebuild_spark`` records them); shards
        without a recorded count (legacy versions) are counted once from
        their bit arrays and cached back into the vmeta."""
        v = self.current_version() if version is None else version
        meta = self._read_vmeta(v)
        fills = {int(k): int(c) for k, c in meta.get("fills", {}).items()}
        dirty = False
        for s in range(self.n_shards):
            if s not in fills:
                bits = np.load(self._shard_file(v, s))
                fills[s] = int(np.unpackbits(bits).sum())
                dirty = True
        if dirty:
            self._write_vmeta(v, int(meta["m_bits"]), fills)
        return max(fills.values()) / float(meta["m_bits"])

    def estimated_keys(self, version: int | None = None) -> int:
        """Key-count estimate from the fill ratio: with k independent hashes
        into m bits, fill p ≈ 1 - e^(-k·n/m)  ⇒  n ≈ -(m/k)·ln(1-p)
        (summed per shard)."""
        import math

        v = self.current_version() if version is None else version
        self.fill_ratio(v)  # ensure fills recorded
        meta = self._read_vmeta(v)
        m = float(meta["m_bits"])
        total = 0.0
        for _, c in meta["fills"].items():
            p = min(int(c) / m, 0.999999)
            total += -(m / self.k) * math.log(1.0 - p)
        return int(total)

    def rebuild_spark(
        self, df: DataFrame, key_col: str = "url_key", m_bits_new: int | None = None
    ) -> int:
        """Re-size/rebuild: distributed re-insert of the FULL key set (the
        seen table — the durable source of truth) into a fresh bit space as
        version v+1. Old versions keep their own m_bits (``_vmeta.json``),
        so the engine's rollback window stays intact. Default sizing targets
        ≤0.25 max fill with 2× headroom: m = next_pow2(7·k·n̂)."""
        if m_bits_new is None:
            n_est = max(self.estimated_keys(), 1)
            target = 7 * self.k * n_est
            m_bits_new = 1 << max(int(target - 1).bit_length(), 10)
        path, k, n_shards = self.path, self.k, self.n_shards
        ver = self.current_version()
        new = ver + 1
        os.makedirs(os.path.join(path, f"v{new}"), exist_ok=True)

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            s = int(keys[0] % n_shards)
            s = s + n_shards if s < 0 else s
            bits = np.zeros(m_bits_new // 8, dtype=np.uint8)
            pos = _positions(keys, k, m_bits_new)
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            tmp = os.path.join(path, f"v{new}", f".tmp-{uuid.uuid4().hex}-shard-{s}.npy")
            np.save(tmp, bits)
            os.replace(tmp, os.path.join(path, f"v{new}", f"shard-{s}.npy"))
            return pd.DataFrame(
                {"shard": [s], "ones": [int(np.unpackbits(bits).sum())]}
            )

        shard_col = F.pmod(F.col(key_col), F.lit(n_shards))
        built = (
            df.select(key_col)
            .groupBy(shard_col.alias("_shard"))
            .applyInPandas(lambda key, pdf: _build(pdf), schema="shard int, ones long")
            .collect()
        )
        fills = {r["shard"]: r["ones"] for r in built}
        empty = np.zeros(m_bits_new // 8, dtype=np.uint8)
        for s in range(n_shards):
            if s not in fills:
                np.save(self._shard_file(new, s), empty)
                fills[s] = 0
        self._write_vmeta(new, m_bits_new, fills)
        self._write_pointer(self.path, new)
        return new

    def expire_versions(self, keep_last: int = 2) -> int:
        """Drop shard-file versions older than the last ``keep_last``
        (hardlinked untouched shards cost nothing, but every TOUCHED shard
        leaves a full bit-array copy per epoch — at 10^10-key scale the
        version history, not the live filter, dominates storage). The
        current version is never expired; returns directories removed."""
        cur = self.current_version()
        removed = 0
        for name in os.listdir(self.path):
            if not name.startswith("v"):
                continue
            try:
                v = int(name[1:])
            except ValueError:
                continue
            if v <= cur - keep_last:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
                removed += 1
        return removed

    def shard_of(self, keys: np.ndarray) -> np.ndarray:
        r = keys.astype(np.int64) % self.n_shards
        return np.where(r < 0, r + self.n_shards, r)

    # ---------- local (simulator / small-scale) API ----------

    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership over current version (loads needed shards)."""
        keys = np.asarray(keys, dtype=np.int64)
        out = np.zeros(len(keys), dtype=bool)
        ver = self.current_version()
        m_bits = self.m_bits_of(ver)
        shards = self.shard_of(keys)
        for s in np.unique(shards):
            mask = shards == s
            bits = np.load(self._shard_file(ver, int(s)))
            pos = _positions(keys[mask], self.k, m_bits)
            hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            out[mask] = hit.all(axis=1)
        return out

    def add(self, keys: np.ndarray) -> int:
        """Local add (new version). Returns the new version id."""
        keys = np.asarray(keys, dtype=np.int64)
        ver = self.current_version()
        m_bits = self.m_bits_of(ver)
        prev_fills = {
            int(k): int(v) for k, v in self._read_vmeta(ver).get("fills", {}).items()
        }
        new = ver + 1
        os.makedirs(os.path.join(self.path, f"v{new}"), exist_ok=True)
        shards = self.shard_of(keys)
        touched = set(int(s) for s in np.unique(shards))
        fills = dict(prev_fills)
        for s in range(self.n_shards):
            src = self._shard_file(ver, s)
            dst = self._shard_file(new, s)
            if s in touched:
                bits = np.load(src).copy()
                ks = keys[shards == s]
                pos = _positions(ks, self.k, m_bits)
                np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
                np.save(dst, bits)
                fills[s] = int(np.unpackbits(bits).sum())
            else:
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copyfile(src, dst)
        self._write_vmeta(new, m_bits, fills)
        self._write_pointer(self.path, new)
        return new

    # ---------- Spark API (co-partitioned by shard) ----------

    def prefilter_spark(self, df: DataFrame, key_col: str = "url_key") -> DataFrame:
        """df + boolean ``maybe_seen``. One shuffle on shard; each task reads
        only its shard's bits. Bloom-negatives are guaranteed-new."""
        path, k, n_shards = self.path, self.k, self.n_shards
        ver = self.current_version()
        m_bits = self.m_bits_of(ver)
        cols = df.columns
        # fresh StructType — .add() would mutate the DataFrame's cached schema
        schema = T.StructType(
            list(df.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
        )

        def _check(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            s = int(keys[0] % n_shards)
            s = s + n_shards if s < 0 else s
            bits = np.load(os.path.join(path, f"v{ver}", f"shard-{s}.npy"))
            pos = _positions(keys, k, m_bits)
            hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            out = pdf[cols].copy()
            out["maybe_seen"] = hit.all(axis=1)
            return out

        shard_col = F.pmod(F.col(key_col), F.lit(n_shards))
        # groupBy(shard) is the single shuffle; each group touches one shard file
        return df.groupBy(shard_col.alias("_shard")).applyInPandas(
            lambda key, pdf: _check(pdf), schema=schema
        )

    def check_add_spark(self, df: DataFrame, key_col: str = "url_key") -> DataFrame:
        """Fused membership-test + insert in ONE shard shuffle: each task
        loads its shard's bits, records every key's membership BEFORE the
        insert, sets the key's bits, and writes the shard into version v+1
        — the work of ``prefilter_spark`` + ``add_spark`` for the price of
        one shuffle and one bitmap pass (the payload-commit gate probes and
        then inserts the SAME keys every epoch).

        Returns a PERSISTED DataFrame of the input rows + boolean
        ``maybe_seen`` (membership at the OLD version; the caller
        unpersists). The new version's pointer is committed before this
        returns, so the result must only be read from the cache. Task
        retries are safe: membership is computed from the immutable old
        version and the bit-set/tmp-replace write is idempotent."""
        from pyspark.storagelevel import StorageLevel

        path, k, n_shards = self.path, self.k, self.n_shards
        ver = self.current_version()
        m_bits = self.m_bits_of(ver)
        new = ver + 1
        os.makedirs(os.path.join(path, f"v{new}"), exist_ok=True)
        cols = df.columns
        schema = T.StructType(
            list(df.schema.fields)
            + [
                T.StructField("maybe_seen", T.BooleanType()),
                T.StructField("_shard_id", T.IntegerType()),
                T.StructField("_shard_ones", T.LongType()),
            ]
        )

        def _check_add(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            s = int(keys[0] % n_shards)
            s = s + n_shards if s < 0 else s
            bits = np.load(os.path.join(path, f"v{ver}", f"shard-{s}.npy")).copy()
            pos = _positions(keys, k, m_bits)
            hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            tmp = os.path.join(path, f"v{new}", f".tmp-{uuid.uuid4().hex}-shard-{s}.npy")
            np.save(tmp, bits)
            os.replace(tmp, os.path.join(path, f"v{new}", f"shard-{s}.npy"))
            out = pdf[cols].copy()
            out["maybe_seen"] = hit.all(axis=1)
            out["_shard_id"] = s
            out["_shard_ones"] = int(np.unpackbits(bits).sum())
            return out

        shard_col = F.pmod(F.col(key_col), F.lit(n_shards))
        out = (
            df.groupBy(shard_col.alias("_shard"))
            .applyInPandas(lambda key, pdf: _check_add(pdf), schema=schema)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # this collect MATERIALIZES the cache — the side-effecting tasks run
        # exactly once; everything after reads the cached rows
        touched = (
            out.groupBy("_shard_id").agg(F.max("_shard_ones").alias("ones")).collect()
        )
        fills = {
            int(s): int(v)
            for s, v in self._read_vmeta(ver).get("fills", {}).items()
        }
        touched_set = set()
        for r in touched:
            fills[int(r["_shard_id"])] = int(r["ones"])
            touched_set.add(int(r["_shard_id"]))
        for s in range(n_shards):
            if s not in touched_set:
                src, dst = self._shard_file(ver, s), self._shard_file(new, s)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copyfile(src, dst)
        self._write_vmeta(new, m_bits, fills)
        self._write_pointer(self.path, new)
        # the PERSISTED node itself is returned (unpersist works on it);
        # callers ignore the _shard_* bookkeeping columns
        return out

    def add_spark(self, df: DataFrame, key_col: str = "url_key") -> int:
        """Distributed insert: shuffle keys to their shard, each task rewrites
        exactly one shard file into version v+1; untouched shards hardlinked;
        pointer committed by the driver (atomic)."""
        path, k, n_shards = self.path, self.k, self.n_shards
        ver = self.current_version()
        m_bits = self.m_bits_of(ver)
        new = ver + 1
        os.makedirs(os.path.join(path, f"v{new}"), exist_ok=True)

        def _update(pdf: pd.DataFrame) -> pd.DataFrame:
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            s = int(keys[0] % n_shards)
            s = s + n_shards if s < 0 else s
            bits = np.load(os.path.join(path, f"v{ver}", f"shard-{s}.npy")).copy()
            pos = _positions(keys, k, m_bits)
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            tmp = os.path.join(path, f"v{new}", f".tmp-{uuid.uuid4().hex}-shard-{s}.npy")
            np.save(tmp, bits)
            os.replace(tmp, os.path.join(path, f"v{new}", f"shard-{s}.npy"))
            return pd.DataFrame(
                {"shard": [s], "ones": [int(np.unpackbits(bits).sum())]}
            )

        shard_col = F.pmod(F.col(key_col), F.lit(n_shards))
        touched = (
            df.select(key_col)
            .groupBy(shard_col.alias("_shard"))
            .applyInPandas(lambda key, pdf: _update(pdf), schema="shard int, ones long")
            .collect()
        )
        fills = {
            int(s): int(v)
            for s, v in self._read_vmeta(ver).get("fills", {}).items()
        }
        for r in touched:
            fills[r["shard"]] = r["ones"]
        touched_set = {r["shard"] for r in touched}
        for s in range(n_shards):
            if s not in touched_set:
                src, dst = self._shard_file(ver, s), self._shard_file(new, s)
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copyfile(src, dst)
        self._write_vmeta(new, m_bits, fills)
        self._write_pointer(self.path, new)
        return new
