"""``analytics`` workload: read-only passes over seeded tables through the 14
non-crawl leaves of ``bench.py``'s ``BENCH_QUERIES``.

The warm-up is one untimed pass that collects every leaf's result. Each
cycle then runs every leaf once through the noop sink, as ``bench.py`` does.
The ``queries`` leaves (q1–q6, q16) form the relational pass, the ``ml``
leaves (q7–q11, q13, q14) the similarity pass. The collected results are
checked after the timed window: a leaf with a DuckDB ``oracle_sql()`` must
hash-equal it (the comparison of ``tools/check_oracle.py``), the two
probabilistic leaves are checked against exact references on the same
inputs, and every leaf's digest must equal the one an earlier run with the
same seed recorded in ``.perfbench/digests.json``.
"""

from __future__ import annotations

import statistics
import time
from itertools import combinations

from perfbench import datagen
from perfbench.digests import check_pinned
from perfbench.outcomes import Outcomes
from perfbench.stagestats import StageTotals, StatusStore, totals
from perfbench.trace import Tracer

RELATIONAL = ("q1_", "q2_", "q3_", "q4_", "q5_", "q6_", "q16_")
# the audit slice of q13 (bench.py: sample_mod=4); its oracle is the t=0.7
# Jaccard SQL over the same slice
Q13 = "q13_dedup_jaccard_t07_quarter"
Q13_ORACLE = "dedup_ngram_jaccard_t07"
MINHASH, SIMHASH = "q10_dedup_minhash_lsh", "q14_dedup_simhash"
MINHASH_RECALL_FLOOR = 0.95  # of exact pairs with Jaccard >= 0.7
SF = 0.01


def layer_of(leaf: str) -> str:
    return "queries" if leaf.startswith(RELATIONAL) else "ml"


def leaf_metric_names(leaves) -> list[str]:
    out = []
    for leaf in leaves:
        p = f"{layer_of(leaf)}.{leaf}"
        out += [f"{p}_s", f"{p}_jobs", f"{p}_shuffle_bytes", f"{p}_spill_bytes",
                f"{p}_task_skew"]
    return out


def bench_queries() -> dict:
    from bench import BENCH_QUERIES

    return BENCH_QUERIES


class Analytics(Outcomes):
    name = "analytics"

    def __init__(self, spark, env, seed: int, tracer: Tracer | None, sf: float = SF):
        super().__init__()
        self.spark, self.env, self.seed, self.tracer = spark, env, seed, tracer
        self.sf = sf
        self.leaves = bench_queries()
        self.passes: list[dict] = []  # per cycle: leaf -> seconds, traced flag
        self.leaf_stats: dict[str, list[StageTotals]] = {}
        self.store = StatusStore(spark) if tracer else None

    def setup(self) -> None:
        self.data = self.env.path("data", "sf")
        datagen.generate(self.data, self.seed, self.sf)
        self.results = {}
        for leaf, fn in self.leaves.items():
            self.attempted += 1
            try:
                self.results[leaf] = fn(self.spark, self.data).toPandas()
            except Exception:
                self.fail(f"warm-up {leaf}")
        self.spark.catalog.clearCache()

    def cycle(self, traced: bool) -> None:
        times: dict[str, float] = {}
        spans = {}
        for leaf, fn in self.leaves.items():
            self.attempted += 1
            t0 = time.monotonic()
            try:
                if traced:
                    with self.tracer.span(f"{layer_of(leaf)}.{leaf}") as sp:
                        fn(self.spark, self.data).write.format("noop").mode(
                            "overwrite").save()
                    spans[leaf] = sp
                else:
                    fn(self.spark, self.data).write.format("noop").mode("overwrite").save()
            except Exception:  # a failed leaf counts, the loop goes on
                self.fail(leaf)
                continue
            times[leaf] = time.monotonic() - t0
        if traced:
            self.store.drain()
            for leaf, sp in spans.items():
                self.leaf_stats.setdefault(leaf, []).append(
                    totals(self.store, sp.attrs["mark_start"], sp.attrs["mark_end"]))
        self.passes.append({"times": times, "traced": traced})

    # ---------- output checks (untimed) ----------

    def check(self) -> None:
        import duckdb
        import __spark_entry__ as entry
        from tools.check_oracle import TABLES, frame_hash

        queries, osql = entry.queries(), entry.oracle_sql()
        oracle_of = {
            leaf: name for leaf, fn in self.leaves.items()
            for name, g in queries.items() if g is fn and name in osql
        }
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        con.sql(
            "CREATE VIEW documents_quarter AS SELECT * FROM documents "
            "WHERE doc_id % 4 = 0"
        )
        for leaf, got in self.results.items():
            self.attempted += 1
            try:
                if leaf in oracle_of:
                    want = con.sql(osql[oracle_of[leaf]]).df()
                elif leaf == Q13:
                    want = con.sql(
                        osql[Q13_ORACLE].replace("FROM documents", "FROM documents_quarter")
                    ).df()
                elif leaf == MINHASH:
                    self._check_minhash(got, con.sql(osql[Q13_ORACLE]).df())
                    want = None
                elif leaf == SIMHASH:
                    self._check_simhash(got, con.sql(
                        "SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
                        " AS norm FROM documents").df())
                    want = None
                else:
                    raise AssertionError("no output check defined")
                if want is not None and frame_hash(got) != frame_hash(want):
                    raise AssertionError(
                        f"spark {frame_hash(got)} != oracle {frame_hash(want)}")
            except Exception:
                self.fail(f"check {leaf}")
        self.attempted += 1
        err = check_pinned(
            self.env.root, f"{self.name}:{self.seed}:{self.sf}",
            {leaf: frame_hash(got)[2] for leaf, got in self.results.items()},
        )
        if err:
            self.fail("pinned digests", err)

    @staticmethod
    def _pairs(pdf) -> set[tuple[int, int]]:
        a, b = pdf.columns[:2]
        return {(min(x, y), max(x, y)) for x, y in zip(pdf[a].tolist(), pdf[b].tolist())}

    def _check_minhash(self, got, exact_t07) -> None:
        want = self._pairs(exact_t07)
        if not want:
            raise AssertionError("no exact pairs at t=0.7 to check recall against")
        recall = len(want & self._pairs(got)) / len(want)
        if recall < MINHASH_RECALL_FLOOR:
            raise AssertionError(f"recall {recall:.3f} < {MINHASH_RECALL_FLOOR}")

    def _check_simhash(self, got, norm) -> None:
        # identical normalized texts have identical simhashes (distance 0)
        want = set()
        for _, ids in norm.groupby("norm")["doc_id"]:
            want.update(combinations(sorted(ids.tolist()), 2))
        missing = want - self._pairs(got)
        if not want or missing:
            raise AssertionError(f"{len(missing)} of {len(want)} exact-duplicate pairs missing")

    # ---------- metrics ----------

    def _pass_s(self, traced: bool, relational: bool) -> list[float]:
        return [
            sum(t for leaf, t in p["times"].items()
                if leaf.startswith(RELATIONAL) == relational)
            for p in self.passes if p["traced"] == traced
        ]

    def end_to_end(self) -> dict[str, float]:
        ml, rel = self._pass_s(False, False), self._pass_s(False, True)
        return {"cycle_s": statistics.median(a + b for a, b in zip(ml, rel))}

    def summary(self) -> dict[str, tuple[float, str]]:
        return {"similarity_s": (statistics.median(self._pass_s(False, False)), "s"),
                "relational_s": (statistics.median(self._pass_s(False, True)), "s")}

    def op_series(self) -> list[tuple[bool, float]]:
        return [(p["traced"], sum(p["times"].values())) for p in self.passes]

    def per_layer(self) -> dict[str, float]:
        out = {}
        for leaf in self.leaves:
            p = f"{layer_of(leaf)}.{leaf}"
            ts = [x["times"][leaf] for x in self.passes if x["traced"] and leaf in x["times"]]
            st = self.leaf_stats.get(leaf, [])
            out[f"{p}_s"] = statistics.median(ts) if ts else 0.0
            out[f"{p}_jobs"] = statistics.median([s.jobs for s in st]) if st else 0
            out[f"{p}_shuffle_bytes"] = statistics.median(
                [s.shuffle_read_bytes + s.shuffle_write_bytes for s in st]) if st else 0
            out[f"{p}_spill_bytes"] = statistics.median([s.spill_bytes for s in st]) if st else 0
            out[f"{p}_task_skew"] = statistics.median([s.task_skew for s in st]) if st else 0
        return out
