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
- SATURATION POLICY: a filter sized for 10^8 keys degrades at 10^10 (fill
  → 1, FPR → 1: the prefilter becomes "anti-join everything"). Every
  version records per-shard set-bit counts in its ``_vmeta.json``, so
  ``fill_ratio()`` is an O(1) driver read; past the engine's threshold the
  epoch commit calls ``rebuild_spark`` (re-insert of the full key set into
  a larger bit space). ``m_bits`` is per version, so rollback to a
  pre-rebuild version keeps working.

Spark integration keeps everything co-partitioned by shard: one shuffle on
(shard), then applyInPandas groups load/update exactly one shard file each
— one kernel (``_shard_pass``) for probe, insert, rebuild and the
payload-commit gate (``gate_spark``: count, probe, insert, and write the
matched and duplicate keys as per-shard files in the same pass), one
version commit (``_commit_version``) for every new version.

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
import pyarrow as pa
import pyarrow.parquet as pq
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


def _atomic_write(dest: str, text: str) -> None:
    tmp = f"{dest}.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, dest)


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
        _atomic_write(
            os.path.join(path, "_meta.json"),
            json.dumps({"n_shards": n_shards, "m_bits": m_bits, "k": k}),
        )
        bf = BloomShards(path)
        bf._commit_version(0, m_bits, {}, base=None)
        return bf

    @staticmethod
    def _write_pointer(path: str, version: int) -> None:
        _atomic_write(os.path.join(path, "_current"), str(version))

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
        fills = {str(k): int(v) for k, v in fills.items()}
        _atomic_write(self._vmeta_path(version), json.dumps({"m_bits": m_bits, "fills": fills}))

    def _commit_version(
        self, new: int, m_bits: int, touched: dict, base: int | None
    ) -> int:
        """Finish version ``new`` whose ``touched`` shards (id -> set bits)
        are already written: every other shard is hard-linked from version
        ``base`` (zero-filled when ``base`` is None: a fresh bit space), the
        per-shard fills go to ``_vmeta.json``, and the pointer moves last,
        so a crash before it leaves the current version intact."""
        fills = {} if base is None else {
            int(s): int(c) for s, c in self._read_vmeta(base).get("fills", {}).items()
        }
        fills.update(touched)
        for s in sorted(set(range(self.n_shards)) - set(touched)):
            dst = self._shard_file(new, s)
            if base is None:
                np.save(dst, np.zeros(m_bits // 8, dtype=np.uint8))
                fills[s] = 0
                continue
            try:
                os.link(self._shard_file(base, s), dst)
            except OSError:  # cross-device, or a leftover of a crashed commit
                shutil.copyfile(self._shard_file(base, s), dst)
        self._write_vmeta(new, m_bits, fills)
        self._write_pointer(self.path, new)
        return new

    def m_bits_of(self, version: int | None = None) -> int:
        """The bit-space size of a version (versions before a rebuild keep
        their original size — rollback-safe). Falls back to the create-time
        meta for legacy versions without a ``_vmeta.json``."""
        v = self.current_version() if version is None else version
        return int(self._read_vmeta(v)["m_bits"])

    def fill_ratio(self, version: int | None = None) -> float:
        """Max per-shard fill (set bits / m_bits) of a version — an O(1)
        driver-side metadata read when every shard's count is recorded
        (every version commit records them); shards without a recorded
        count (legacy versions) are counted once from their bit arrays and
        cached back into the vmeta."""
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
        return keys.astype(np.int64) % self.n_shards  # numpy %: never negative

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
        new = ver + 1
        os.makedirs(os.path.join(self.path, f"v{new}"), exist_ok=True)
        shards = self.shard_of(keys)
        touched = {}
        for s in (int(s) for s in np.unique(shards)):
            bits = np.load(self._shard_file(ver, s))
            pos = _positions(keys[shards == s], self.k, m_bits)
            np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            np.save(self._shard_file(new, s), bits)
            touched[s] = int(np.unpackbits(bits).sum())
        return self._commit_version(new, m_bits, touched, base=ver)

    # ---------- Spark API (co-partitioned by shard) ----------

    def _shard_pass(
        self, df: DataFrame, key_col: str, insert: bool,
        m_bits_fresh: int | None = None, gate: tuple[str, str] | None = None,
    ) -> DataFrame:
        """The shard kernel of every Spark method: one shuffle on the shard;
        each group loads its shard's bits (zeros of ``m_bits_fresh`` for a
        rebuild) and either probes them (the input rows + ``maybe_seen``)
        or, when inserting, sets the keys' bits and writes the shard into
        version v+1 (tmp + replace, so a retried task rewrites one file),
        returning one ``(_shard_id, _shard_ones)`` row per shard;
        ``_commit_version`` finishes the version.

        ``gate=(raw_key_col, out_dir)`` makes an insert the payload-commit
        gate: each group also counts its raw keys, probes their distinct
        hashes BEFORE setting the bits, writes the matched and the in-batch
        duplicate raw keys (sorted, so a retry writes the same bytes) to
        ``{out_dir}/{matched,dups}/shard-{s}.parquet`` (tmp + replace; no
        file when empty), and adds ``n_distinct, n_dup, n_matched``."""
        path, k, n_shards = self.path, self.k, self.n_shards
        ver = self.current_version()
        m_bits = m_bits_fresh or self.m_bits_of(ver)
        new = ver + 1
        if not insert:
            cols = df.columns
            # fresh StructType — .add() would mutate the DataFrame's cached schema
            schema = T.StructType(
                list(df.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
            )
        else:
            os.makedirs(os.path.join(path, f"v{new}"), exist_ok=True)
            schema = "_shard_id int, _shard_ones long"
            df = df.select(key_col, *gate[:1] if gate else [])
        if gate:
            raw, out_dir = gate
            schema += ", n_distinct long, n_dup long, n_matched long"
            for sub in ("matched", "dups"):
                os.makedirs(os.path.join(out_dir, sub), exist_ok=True)

        def _pass(pdf: pd.DataFrame) -> pd.DataFrame:
            if gate:
                counts = pdf[raw].value_counts()
                pdf = pdf.drop_duplicates(raw)
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            s = int(keys[0] % n_shards)  # numpy remainder: same sign as pmod
            if m_bits_fresh:
                bits = np.zeros(m_bits // 8, dtype=np.uint8)
            else:
                bits = np.load(os.path.join(path, f"v{ver}", f"shard-{s}.npy"))
            pos = _positions(keys, k, m_bits)
            byte, bit = pos >> 3, (1 << (pos & 7)).astype(np.uint8)
            if not insert or gate:
                seen = ((bits[byte] & bit) != 0).all(axis=1)
            if not insert:
                return pdf[cols].assign(maybe_seen=seen)
            np.bitwise_or.at(bits, byte, bit)
            tmp = os.path.join(path, f"v{new}", f".tmp-{uuid.uuid4().hex}-shard-{s}.npy")
            np.save(tmp, bits)
            os.replace(tmp, os.path.join(path, f"v{new}", f"shard-{s}.npy"))
            row = {"_shard_id": [s], "_shard_ones": [int(np.unpackbits(bits).sum())]}
            if gate:
                matched, dups = pdf[raw][seen], counts.index[counts > 1]
                for sub, ks in (("matched", matched), ("dups", dups)):
                    if len(ks):
                        dest = os.path.join(out_dir, sub, f"shard-{s}.parquet")
                        tmp = f"{os.path.dirname(dest)}/.tmp-{uuid.uuid4().hex}"
                        pq.write_table(pa.table({raw: sorted(ks)}), tmp)
                        os.replace(tmp, dest)
                row.update(n_distinct=[len(pdf)], n_dup=[len(dups)], n_matched=[len(matched)])
            return pd.DataFrame(row)

        shard_col = F.pmod(F.col(key_col), F.lit(n_shards))
        # groupBy(shard) is the single shuffle; each group touches one shard file
        return df.groupBy(shard_col.alias("_shard")).applyInPandas(
            lambda _key, pdf: _pass(pdf), schema=schema
        )

    def _insert(
        self, df: DataFrame, key_col: str, m_bits_fresh: int | None = None,
        gate: tuple[str, str] | None = None,
    ) -> list:
        """Run an inserting shard pass, commit version v+1, return its rows."""
        ver = self.current_version()
        rows = self._shard_pass(df, key_col, True, m_bits_fresh, gate).collect()
        self._commit_version(
            ver + 1, m_bits_fresh or self.m_bits_of(ver),
            {int(r["_shard_id"]): int(r["_shard_ones"]) for r in rows},
            base=None if m_bits_fresh else ver,
        )
        return rows

    def prefilter_spark(self, df: DataFrame, key_col: str = "url_key") -> DataFrame:
        """df + boolean ``maybe_seen``. One shuffle on shard; each task reads
        only its shard's bits. Bloom-negatives are guaranteed-new."""
        return self._shard_pass(df, key_col, insert=False)

    def gate_spark(self, df: DataFrame, key_col: str, out_dir: str) -> dict:
        """The payload-commit gate in ONE shard pass: the raw ``key_col``
        (any type) is keyed by ``xxhash64``, so a 64-bit collision is just
        another conservative positive. Probes every distinct key against
        the current version, inserts them all as version v+1 and writes the
        matched and in-batch duplicate keys as per-shard parquet files under
        ``out_dir`` (see ``_shard_pass``). Returns the totals ``n_distinct,
        n_dup, n_matched`` and the ``matched`` and ``dups`` file lists; the
        driver collects one row per shard, never the keys. Task retries are
        safe: membership comes from the immutable old version and every
        write is an idempotent replace."""
        hashed = df.select(key_col, F.xxhash64(F.col(key_col)).alias("_kh"))
        rows = self._insert(hashed, "_kh", gate=(key_col, out_dir))
        out = {n: sum(r[n] for r in rows) for n in ("n_distinct", "n_dup", "n_matched")}
        for sub, n in (("matched", "n_matched"), ("dups", "n_dup")):
            out[sub] = [os.path.join(out_dir, sub, f"shard-{r['_shard_id']}.parquet")
                        for r in rows if r[n]]
        return out

    def add_spark(self, df: DataFrame, key_col: str = "url_key") -> int:
        """Distributed insert: shuffle keys to their shard, each task rewrites
        exactly one shard file into version v+1; untouched shards hardlinked;
        pointer committed by the driver (atomic). Returns the new version."""
        self._insert(df, key_col)
        return self.current_version()

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
        self._insert(df, key_col, m_bits_new)
        return self.current_version()
