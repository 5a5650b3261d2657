"""Deduplication operators over the ``documents`` / ``embeddings`` tables —
the core of a large-scale training-data pipeline.

Five strategies, in increasing fuzziness:

- exact           hash-groupBy canonical form                (SQL oracle ✓)
- ngram-Jaccard   exact set similarity via shingle inverted
                  index self-join (no O(n²) pair scan)       (SQL oracle ✓)
- MinHash + LSH   probabilistic candidate generation, exact
                  verification of candidates                 (rows-only: LSH
                  recall is probabilistic, not SQL-expressible)
- SimHash         64-bit sign-random-projection over token
                  hashes, banded hamming search              (rows-only)
- embedding-cosine near-dup pairs over array<float>          (SQL oracle ✓)

Scale notes (10^10-document framing):
- the inverted-index join shuffles (shingle → [doc]) postings; common-shingle
  hot keys are the skew risk — production adds prefix filtering (Xiao et al.,
  "Efficient Similarity Joins for Near Duplicate Detection", WWW'08); here
  the join is left exact so the DuckDB oracle can replicate it.
- MinHash banding turns all-pairs into equality joins on (band, band_hash) —
  the standard LSH trick (Broder '97; Leskovec et al., MMDS ch.3); candidate
  verification reuses the exact-Jaccard join restricted to candidate pairs.
- pairs always emitted with a < b to halve the join output.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biz_crawlers_spark.filters.bloom import splitmix64
from biz_crawlers_spark.ml.vectors import cosine_expr

NGRAM = 5
JACCARD_T = 0.5
MINHASH_K = 64
LSH_BANDS = 16  # 16 bands × 4 rows
COSINE_T = 0.45  # sf0.01 embeddings have no true near-dups; 0.45 exercises the path

# Dense-vocabulary regime cap for the exact-Jaccard bitmap strategy: with V
# distinct shingles per corpus, every doc is a V-bit set and block-pair
# popcount-GEMM computes ALL pairwise intersections exactly. 16384 keeps
# a float32 GEMM exact (counts ≪ 2^24) and an unpacked block ≤ tens of MB.
DENSE_VOCAB_MAX = 16384
# docs per bitmap block: n² GEMM work per block pair; 1024 gives ~4 GFLOP
# per pair at V=2048 (sub-second per task) and ≥90 pairs at bench scale
DENSE_BLOCK_DOCS = 1024
# LSH bucket-verify pair chunk: bounds per-step pair memory to ≤CHUNK² pairs
# (~4M×80B); module-level so the equivalence test can force the chunked path
VERIFY_CHUNK = 2048


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _norm_text() -> F.Column:
    return F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))


def _input_bytes(path: str) -> float:
    """On-disk size of a parquet input: the file itself, or the sum of its
    part files for a directory layout (the directory entry alone is ~4 KB).
    A path the local filesystem cannot see (a non-local store) counts as
    infinitely big — the scale case."""
    try:
        if not os.path.isdir(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if not f.startswith((".", "_"))
        )
    except OSError:
        return float("inf")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: every doc mapped to the
    canonical (min doc_id) member of its content group."""
    # spread the single-row-group scan before the md5/regex projection so
    # the hashing runs on all cores, not in the one scan task (guide §2.5).
    # Size-adaptive: at small inputs the extra exchange costs more than the
    # single-task hashing it parallelizes (A/B sf1.0: 2.43→2.08 s WITH the
    # spread; sf0.1: 0.80→1.19 s AGAINST it), so spread only when the input
    # is big enough for the row-group bottleneck to bite.
    d = _docs(spark, sf_dir)
    if _input_bytes(f"{sf_dir}/documents.parquet") >= 4_000_000:
        d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    d = d.select("doc_id", F.md5(_norm_text()).alias("content_fp"))
    # canonical member via min-over-window: ONE exchange on content_fp
    # instead of groupBy + sort-merge join back (2 exchanges + join) — A/B
    # at sf1.0: 1.99 s → 1.01 s, outputs frame-equal (guide §2.4: two
    # operations keyed the same way share one exchange)
    w = Window.partitionBy("content_fp")
    return (
        d.select("doc_id", F.min("doc_id").over(w).alias("canonical_id"))
        .select("doc_id", "canonical_id", (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"))
        .orderBy("doc_id")
    )


def _shingles_df(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """doc_id → distinct character n-grams (the exact similarity basis).
    ``sample_mod``: keep only doc_id % sample_mod == 0 — the deterministic
    audit-slice mode the bench uses for the exact-join strategies (the
    co-posting stream scales ~quadratically in corpus size, so exact joins
    at production scale run on slices/oracles, never the full corpus).

    The normalized text is materialized BEHIND A SHUFFLE before the
    per-gram ``transform`` lambda: referencing the norm expression directly
    inside the lambda makes Catalyst re-evaluate the regexp_replace once per
    gram element (~200× per doc — measured 18 s of pure regexp at sf0.1);
    the exchange pins ``norm`` as a physical column so each substr reads a
    computed value.

    r06: the raw (doc_id, text) rows are additionally spread BEFORE the norm
    projection — the documents parquet is a single row group, so without the
    first exchange the regexp_replace over the whole corpus ran in ONE scan
    task (guide §2.5 input skew / §6 split size); the second exchange is the
    norm-pinning barrier described above. Both move only ~15 MB at sf1.0."""
    par = spark.sparkContext.defaultParallelism
    d = _docs(spark, sf_dir).select("doc_id", "text")
    if sample_mod:
        d = d.filter(F.col("doc_id") % sample_mod == 0)
    d = d.repartition(par, "doc_id").select("doc_id", _norm_text().alias("norm"))
    d = d.repartition(par, "doc_id")
    norm = F.col("norm")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (NGRAM - 1), F.lit(1))),
            lambda i: norm.substr(i, F.lit(NGRAM)),
        )
    )
    return d.select("doc_id", grams.alias("grams"))


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_T,
    sample_mod: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold. Output contract (identical to
    the DuckDB oracle): all (id_a < id_b) pairs with round(|A∩B| /
    (|A|+|B|−|A∩B|), 6) ≥ threshold, ordered by (id_a, id_b).

    Two exact strategies, picked by the measured shingle vocabulary:

    - DENSE regime (V ≤ DENSE_VOCAB_MAX distinct shingles): every doc is a
      V-bit set, so blocked bitmap popcount-GEMM computes every pairwise
      intersection exactly in O(n²·V/w) vector work with NO co-posting
      shuffle at all. The former inverted-index count-join exploded to
      sum(df²)/2 ≈ 4.8×10⁹ intermediate rows at sf1.0 (quarter slice: 12.5k
      docs, V=2041, max df 9705) — 210-290 s; the GEMM does the same exact
      arithmetic as ~10¹¹ flops of float32 BLAS in a handful of seconds
      (guide §1.2: fix the distributed algorithm before the configuration).
    - SPARSE regime (rare-tail vocabulary, V > cap): the inverted-index
      count-join below — co-posting lists are short when no shingle is hot,
      which is exactly when the bitmap width would explode.

    Both are exact; the oracle cannot tell them apart."""
    sh = _shingles_df(spark, sf_dir, sample_mod)
    # Regime probe WITHOUT explode: when the grams column's only consumer is
    # the generator, Catalyst collapses the shingle transform INTO
    # Generate(explode(...)), which re-evaluates it per emitted element —
    # measured 29 s for a bare sh.select(explode("grams")) at sf1.0 vs 0.6 s
    # for materializing the arrays. One vectorized per-partition set union
    # gives the vocabulary instead. Sparse-regime guard: a partition that
    # would emit more than DENSE_VOCAB_MAX+1 grams truncates (its grams are
    # distinct within the partition, so the global count already exceeds the
    # cap — classification is unaffected and the dense path never sees a
    # truncated vocabulary). The collect is bounded by partitions×(cap+1).
    cap = DENSE_VOCAB_MAX + 1

    def _part_vocab(it):
        from itertools import islice

        s: set = set()
        for pdf in it:
            for grams in pdf["grams"]:
                s.update(grams)
        yield pd.DataFrame({"g": list(islice(iter(s), cap))})

    vocab = [
        r[0]
        for r in sh.select("grams")
        .mapInPandas(_part_vocab, "g string")
        .distinct()
        .collect()
    ]
    if len(vocab) <= DENSE_VOCAB_MAX:
        return _jaccard_dense(spark, sh, sorted(vocab), threshold)
    return _jaccard_countjoin(sh, threshold)


def _jaccard_dense(
    spark: SparkSession, sh: DataFrame, vocab: list[str], threshold: float
) -> DataFrame:
    """Blocked bitmap GEMM for the dense-vocabulary regime (see
    dedup_ngram_jaccard). Docs are ranked by (n_grams, doc_id) and cut into
    blocks of DENSE_BLOCK_DOCS; each block is packed into one row holding a
    packbits bitmap over the shared vocabulary. Block pairs are pruned with
    the interval form of the length filter (a pair with J ≥ t needs
    t·|B| ≤ |A| ≤ |B|/t, so a block pair is feasible only when
    t·lo_b ≤ hi_a ∧ t·lo_a ≤ hi_b — necessary, never drops a true pair).
    Each surviving pair runs one float32 GEMM (exact: counts ≤ V < 2^24);
    candidate emission uses a conservative threshold−1e-6 prefilter and the
    FINAL filter is the same JVM round(·,6) ≥ t expression as before, so
    rounding semantics are bit-identical to the count-join/oracle."""
    par = spark.sparkContext.defaultParallelism
    nv = len(vocab)
    if nv == 0:
        # every doc has empty grams: no shared shingle, so no pair (as in the
        # count-join), and a zero-width bitmap cannot be unpacked per doc
        return spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    gid = {g: i for i, g in enumerate(vocab)}
    bgid = spark.sparkContext.broadcast(gid)
    t = float(threshold)

    # rank → block id on the narrow (doc_id, n_grams) projection; the window
    # runs on one partition of ~n_docs skinny rows (bounded, no payload)
    meta = sh.select("doc_id", F.size("grams").alias("n_grams"))
    w = Window.orderBy("n_grams", "doc_id")
    blocks = meta.select(
        "doc_id",
        ((F.row_number().over(w) - 1) / F.lit(DENSE_BLOCK_DOCS))
        .cast("int")
        .alias("blk"),
    )
    docs_b = sh.join(F.broadcast(blocks), "doc_id")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        g2i = bgid.value
        nd = len(pdf)
        m = np.zeros((nd, nv), dtype=bool)
        ns = np.empty(nd, dtype=np.int32)
        for r, grams in enumerate(pdf["grams"]):
            idx = [g2i[g] for g in grams]
            m[r, idx] = True
            ns[r] = len(idx)
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "ids": [pdf["doc_id"].to_numpy(np.int64)],
                "ns": [ns],
                "lo": [int(ns.min())],
                "hi": [int(ns.max())],
                "bits": [np.packbits(m, axis=1).tobytes()],
            }
        )

    packed = docs_b.groupBy("blk").applyInPandas(
        pack, "blk int, ids array<long>, ns array<int>, lo int, hi int, bits binary"
    )
    a = packed.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
        F.col("ns").alias("ns_a"), F.col("lo").alias("lo_a"),
        F.col("hi").alias("hi_a"), F.col("bits").alias("bits_a"),
    )
    b = packed.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
        F.col("ns").alias("ns_b"), F.col("lo").alias("lo_b"),
        F.col("hi").alias("hi_b"), F.col("bits").alias("bits_b"),
    )
    pairs = a.join(
        b,
        (F.col("blk_a") <= F.col("blk_b"))
        & (F.col("lo_b") * t <= F.col("hi_a"))
        & (F.col("lo_a") * t <= F.col("hi_b")),
    ).repartition(2 * par)

    emit_t = t - 1e-6  # conservative: round(x, 6) ≥ t ⇒ x ≥ t − 5e-7

    def gemm(it):
        for pdf in it:
            out_a, out_b, out_i, out_na, out_nb = [], [], [], [], []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A = np.unpackbits(
                    np.frombuffer(row.bits_a, dtype=np.uint8).reshape(len(ids_a), -1),
                    axis=1, count=nv,
                ).astype(np.float32)
                B = (
                    A
                    if row.blk_a == row.blk_b
                    else np.unpackbits(
                        np.frombuffer(row.bits_b, dtype=np.uint8).reshape(
                            len(ids_b), -1
                        ),
                        axis=1, count=nv,
                    ).astype(np.float32)
                )
                inter = np.rint(A @ B.T).astype(np.int64)
                na = np.asarray(row.ns_a, dtype=np.int64)
                nb = np.asarray(row.ns_b, dtype=np.int64)
                union = na[:, None] + nb[None, :] - inter
                jac = inter / np.maximum(union, 1)
                mask = jac >= emit_t
                if row.blk_a == row.blk_b:
                    mask &= np.triu(np.ones_like(mask, dtype=bool), k=1)
                if not mask.any():
                    continue
                r, c = np.nonzero(mask)
                ia, ib = ids_a[r], ids_b[c]
                lo = np.minimum(ia, ib)
                out_a.append(lo)
                out_b.append(np.maximum(ia, ib))
                out_i.append(inter[r, c])
                out_na.append(np.where(ia == lo, na[r], nb[c]).astype(np.int32))
                out_nb.append(np.where(ia == lo, nb[c], na[r]).astype(np.int32))
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "inter": np.concatenate(out_i),
                        "na": np.concatenate(out_na),
                        "nb": np.concatenate(out_nb),
                    }
                )

    cand = pairs.mapInPandas(
        gemm, "id_a long, id_b long, inter long, na int, nb int"
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        cand.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _jaccard_countjoin(sh: DataFrame, threshold: float) -> DataFrame:
    """Inverted-index count-join with the LENGTH FILTER fused into the join
    condition (J ≥ t requires t·max(|A|,|B|) ≤ |A∩B| ≤ min(|A|,|B|), so
    |B| ≥ t·|A| and vice versa — pairs failing it never enter the pair-count
    aggregation). Intersection counts come from the groupBy over
    co-postings, which Spark partial-aggregates map-side. The right exact
    strategy when no shingle is hot; in the dense regime its co-posting
    stream is quadratic (see dedup_ngram_jaccard)."""
    posts = sh.select(
        "doc_id", F.size("grams").alias("n_grams"), F.explode("grams").alias("g")
    )
    a, b = posts.alias("a"), posts.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_grams") >= F.col("a.n_grams") * threshold)
            & (F.col("a.n_grams") >= F.col("b.n_grams") * threshold),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(
            F.count("*").alias("inter"),
            F.first("a.n_grams").alias("na"),
            F.first("b.n_grams").alias("nb"),
        )
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def dedup_ngram_jaccard_prefix(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_T
) -> DataFrame:
    """The same exact join via PPJOIN-style PREFIX FILTERING (Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection", WWW'08;
    Bayardo et al. WWW'07):

    1. order each doc's shingles by ASCENDING GLOBAL DOCUMENT FREQUENCY
       (ties by gram) and post only the first |g| − ⌈t·|g|⌉ + 1 — any pair
       with J ≥ t must share its df-smallest common shingle inside BOTH
       prefixes, and hot shingles (the quadratic co-posting blowup) land in
       suffixes, never generating candidates;
    2. length filter in the candidate join;
    3. exact verification: join the full gram arrays for candidates only,
       |A∩B| via array_intersect (JVM-side).

    Output is IDENTICAL to dedup_ngram_jaccard (same DuckDB oracle). Prefix
    filtering pays when the shingle document-frequency distribution has a
    rare tail (Zipfian real-world text): each doc's prefix is its RAREST
    shingles, so candidate counts collapse at high t. MEASURED on the
    synthetic bench corpus it never wins (sf0.1, 32 cores: t=0.7 count-join
    39.5 s vs prefix 98 s; t=0.8 32.8 s vs ~90 s): the tiny generator
    vocabulary makes every 5-gram hot, so prefixes stay hot and the df
    ordering is pure overhead — there is no crossover HERE, by corpus
    construction, not by algorithm. Both remain exact and oracle-checked;
    at 10^10 docs the production fuzzy path is MinHash-LSH either way, with
    exact joins reserved for oracle/audit slices."""
    sh = _shingles_df(spark, sf_dir).withColumn("grams", F.array_sort("grams"))
    all_posts = sh.select("doc_id", F.size("grams").alias("n_grams"),
                          F.explode("grams").alias("g"))
    gram_df = all_posts.groupBy("g").agg(F.count("*").alias("df"))
    n = F.col("n_grams")
    plen = F.greatest(n - F.ceil(n * F.lit(threshold)).cast("int") + 1, F.lit(1))
    posts = (
        all_posts.join(gram_df, "g")
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.array_sort(F.collect_list(F.struct("df", "g"))).alias("ordered"),
        )
        .select(
            "doc_id", "n_grams",
            F.explode(
                F.slice(F.transform("ordered", lambda x: x["g"]), F.lit(1), plen)
            ).alias("g"),
        )
    )
    a, b = posts.alias("a"), posts.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J ≥ t needs t·max ≤ overlap ≤ min
            & (F.col("b.n_grams") >= F.col("a.n_grams") * threshold)
            & (F.col("a.n_grams") >= F.col("b.n_grams") * threshold),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ga = sh.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = sh.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    jac = inter / (F.size("grams_a") + F.size("grams_b") - inter)
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _minhash_sig_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → MinHash signature (array<long>, k=MINHASH_K).

    Fully vectorized two-stage split: gram hashing runs JVM-SIDE
    (``transform(grams, g -> crc32(encode(g)))`` — whole-stage codegen,
    bit-identical to zlib.crc32), then ONE numpy pass per Arrow batch builds
    all signatures at once: flatten every doc's crc array, apply the k=64
    splitmix64 permutations over the flat array, and segment-min with
    ``np.minimum.reduceat`` — zero per-row Python, zero per-gram Python
    (the round-1 per-row `[zlib.crc32(g) for g in grams]` list comprehension
    was 37% of the whole bench)."""
    sh = _shingles_df(spark, sf_dir)  # already spread across the cluster
    k = MINHASH_K
    seeds = np.arange(1, k + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    crcs = F.transform("grams", lambda g: F.crc32(F.encode(g, "utf-8")))
    # empty docs hash a single 0 gram (keeps every reduceat segment non-empty
    # and reproduces the round-1 crcs=[0] fallback exactly)
    crcs = F.when(F.size(crcs) == 0, F.array(F.lit(0).cast("long"))).otherwise(crcs)
    hashed = sh.select("doc_id", crcs.alias("crcs"))

    def sig_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            arrs = [np.asarray(a, dtype=np.uint64) for a in pdf["crcs"]]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
            flat = np.concatenate(arrs)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig = np.empty((len(lens), len(seeds)), dtype=np.int64)
            for p, seed in enumerate(seeds):
                hs = splitmix64(flat ^ seed)
                sig[:, p] = np.minimum.reduceat(hs, starts).astype(np.int64)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": list(sig)})

    return hashed.mapInPandas(sig_batches, "doc_id long, sig array<long>")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: band the signature (16 bands × 4 rows),
    equality-join on (band, band_key), verify candidates with estimated
    Jaccard = fraction of agreeing signature components ≥ threshold.

    r06 shape (guide §8: verify with vectorized batch work, never per-row
    interpreted expressions). The former plan self-joined the band table,
    deduped ~6.5M candidate pairs at sf1.0, broadcast-joined both signatures
    back and evaluated the agreement expression per pair — higher-order
    functions (and 64-term getItem chains) run OUTSIDE whole-stage codegen,
    and thread dumps showed 29/32 executor threads in interpreted
    ZipWith/ArrayFilter eval inside the join's bound condition (25-77 s,
    wildly bimodal). Now the signatures shuffle ONCE, partitioned by
    (band, band_key); a single mapInPandas walks each partition's buckets
    and computes every within-bucket pair's agreement count as one numpy
    comparison — ~6.5M pairs × 64 lanes is ~1 s of vectorized work. Only
    pairs passing a conservative prefilter (count ≥ 64·(t−1e-6)) are
    emitted, so the dedup exchange and the final EXACT round(·,6) ≥ t
    filter (the same JVM expression as before — values bit-identical) see
    a few thousand rows instead of millions."""
    par = spark.sparkContext.defaultParallelism
    sigs = _minhash_sig_df(spark, sf_dir)
    rows_per_band = MINHASH_K // LSH_BANDS
    bands = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).cast(
                            "array<string>"
                        ),
                    )
                ),
            )
        ).alias("band", "band_key"),
    )
    buckets = bands.repartition(par, "band", "band_key").sortWithinPartitions(
        "band", "band_key", "doc_id"
    )
    cut = int(np.ceil(MINHASH_K * (JACCARD_T - 1e-6)))
    # captured as a closure value so it ships to workers with the function
    # (a module-global read would re-resolve on the worker's fresh import)
    chunk = VERIFY_CHUNK

    def verify(it):
        pdfs = [p for p in it if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        S = np.array(pdf["sig"].tolist(), dtype=np.int64)
        ids = pdf["doc_id"].to_numpy(np.int64)
        bn = pdf["band"].to_numpy()
        bk = pdf["band_key"].to_numpy()
        new = np.ones(len(pdf), dtype=bool)
        new[1:] = (bn[1:] != bn[:-1]) | (bk[1:] != bk[:-1])
        starts = np.flatnonzero(new)
        sizes = np.diff(np.append(starts, len(pdf)))
        out_a, out_b, out_c = [], [], []
        CHUNK = chunk

        def _emit(o, iu, ju, Sg):
            cnt = (Sg[iu] == Sg[ju]).sum(axis=1)
            m = cnt >= cut
            if m.any():
                # rows are sorted by doc_id within the bucket, so iu < ju
                # implies ids[o+iu] < ids[o+ju]
                out_a.append(ids[o + iu[m]])
                out_b.append(ids[o + ju[m]])
                out_c.append(cnt[m].astype(np.int32))

        for gi in np.flatnonzero(sizes >= 2):
            o, d = starts[gi], sizes[gi]
            Sg = S[o : o + d]
            if d <= CHUNK:  # the overwhelmingly common case: one triu pass
                iu, ju = np.triu_indices(d, k=1)
                _emit(o, iu, ju, Sg)
                continue
            for i0 in range(0, d, CHUNK):  # giant bucket: chunk both ends
                i1 = min(i0 + CHUNK, d)
                iu, ju = np.triu_indices(i1 - i0, k=1)
                _emit(o, iu + i0, ju + i0, Sg)
                for j0 in range(i1, d, CHUNK):
                    j1 = min(j0 + CHUNK, d)
                    ci, cj = np.meshgrid(
                        np.arange(i0, i1), np.arange(j0, j1), indexing="ij"
                    )
                    _emit(o, ci.ravel(), cj.ravel(), Sg)
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "n_agree": np.concatenate(out_c),
                }
            )

    ver = buckets.mapInPandas(verify, "id_a long, id_b long, n_agree int")
    est = F.col("n_agree") / F.lit(MINHASH_K)
    return (
        ver.dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round(est, 6).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= JACCARD_T)
        .orderBy("id_a", "id_b")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar STOC'02 / Manku et al. WWW'07): 64-bit sign of
    summed token-hash ±1 vectors; near-dups = hamming ≤ 3, found by the
    pigeonhole band trick (4 bands of 16 bits: any pair within hamming 3
    agrees exactly on ≥1 band)."""
    d = _docs(spark, sf_dir)

    # token hashing JVM-side (codegen'd): lower → whitespace split → drop
    # empties (mirrors Python str.split()) → crc32 per token
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    tok_crcs = F.transform(toks, lambda t: F.crc32(F.encode(t, "utf-8")))

    def sim_batches(it):
        """One numpy pass per Arrow batch: flatten all token hashes, then per
        bit position segment-sum the bit columns with np.add.reduceat — no
        per-row Python, no (n_tokens × 64) materialization. Bit-identical to
        the round-1 per-row loop (bit j of the hash lands at sim bit 63-j)."""
        for pdf in it:
            if not len(pdf):
                continue
            arrs = [np.asarray(a, dtype=np.uint64) for a in pdf["crcs"]]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
            nonempty = lens > 0
            sims = np.zeros(len(lens), dtype=np.uint64)
            if nonempty.any():
                flat = splitmix64(np.concatenate(arrs))
                ne_lens = lens[nonempty]
                starts = np.zeros(len(ne_lens), dtype=np.int64)
                np.cumsum(ne_lens[:-1], out=starts[1:])
                word = np.zeros(len(ne_lens), dtype=np.uint64)
                for j in range(64):
                    ones = np.add.reduceat((flat >> np.uint64(j)) & np.uint64(1), starts)
                    pos = (2 * ones.astype(np.int64) - ne_lens) > 0  # sum(2b-1) > 0
                    word |= pos.astype(np.uint64) << np.uint64(63 - j)
                sims[nonempty] = word
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": sims.view(np.int64)}
            )

    # spread the raw rows BEFORE the tokenize+crc projection (single-row-
    # group scan, guide §2.5) so the regex/crc work runs on all cores; the
    # projection stays above the exchange and feeds mapInPandas directly
    sims = (
        d.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", tok_crcs.alias("crcs"))
        .mapInPandas(sim_batches, "doc_id long, simhash long")
        # ReusedExchange anchor: the band self-join below otherwise
        # re-computes the whole tokenize+crc+mapInPandas pipeline once per
        # join side; behind this narrow (16 B/row) exchange it runs once
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    bands = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band", "band_bits"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("id_a", "id_b")
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold over array<float>.
    Brute-force pair join here (exact, oracle-checkable); the scale path is
    the LSH bucketing in ml/similarity.py."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= COSINE_T)
        .orderBy("id_a", "id_b")
    )
