"""Round-6 optimization equivalence tests: the exact-Jaccard dense-regime
bitmap GEMM and the MinHash-LSH bucket-verify rewrite must be output-
identical to their reference formulations (the strategies changed, the
queries must not)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biz_crawlers_spark.ml import dedup as D

SF = "/root/testdata/sf0.01"


def _pairs(df, val_col):
    return {(r["id_a"], r["id_b"]): r[val_col] for r in df.collect()}


@pytest.mark.parametrize("threshold", [0.5, 0.7])
def test_jaccard_dense_equals_countjoin(spark, threshold):
    """Both exact strategies over the same shingle basis return the same
    frame — the regime switch picks a plan, never a different answer."""
    sh = D._shingles_df(spark, SF)
    vocab = sorted(
        {g for row in sh.select("grams").toPandas()["grams"] for g in row}
    )
    dense = _pairs(D._jaccard_dense(spark, sh, vocab, threshold), "jaccard")
    count = _pairs(D._jaccard_countjoin(sh, threshold), "jaccard")
    assert dense == count
    assert len(dense) > 0


def test_jaccard_dense_blocking_invariance(spark, monkeypatch):
    """Block size is a performance knob: shrinking it (more block pairs,
    exercising inter-block emission + length pruning) must not change the
    output."""
    base = _pairs(D.dedup_ngram_jaccard(spark, SF, threshold=0.5), "jaccard")
    monkeypatch.setattr(D, "DENSE_BLOCK_DOCS", 37)
    small = _pairs(D.dedup_ngram_jaccard(spark, SF, threshold=0.5), "jaccard")
    assert small == base


def test_jaccard_dense_empty_vocabulary(spark):
    """Every doc with empty grams gives an empty vocabulary: the dense path
    returns the count-join's answer (no pairs) instead of failing to unpack
    a zero-width bitmap."""
    sh = spark.createDataFrame(
        [(i, []) for i in range(5)], "doc_id long, grams array<string>"
    )
    dense = D._jaccard_dense(spark, sh, [], 0.5)
    count = D._jaccard_countjoin(sh, 0.5)
    assert dense.schema == count.schema
    assert dense.collect() == count.collect() == []


def test_minhash_bucket_verify_matches_reference(spark):
    """The bucket-local numpy verification must equal the definitional
    join-based formulation: every pair sharing ≥1 band, estimated Jaccard =
    agreeing-components/64, rounded, thresholded."""
    got = _pairs(D.dedup_minhash_lsh(spark, SF), "jaccard_est")

    sigs = D._minhash_sig_df(spark, SF)
    rpb = D.MINHASH_K // D.LSH_BANDS
    bands = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(D.LSH_BANDS - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.slice(F.col("sig"), b * rpb + 1, rpb).cast("array<string>"),
                    )
                ),
            )
        ).alias("band", "band_key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ref_rows = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .collect()
    )
    ref = {}
    for r in ref_rows:
        est = round(
            sum(x == y for x, y in zip(r["sig_a"], r["sig_b"])) / D.MINHASH_K, 6
        )
        if est >= D.JACCARD_T:
            ref[(r["id_a"], r["id_b"])] = est
    assert got == ref
    assert len(got) > 0


def test_minhash_verify_chunked_path_identical(spark, monkeypatch):
    """Forcing the giant-bucket chunked pair enumeration (chunk ≪ bucket
    size) must not change the output."""
    base = _pairs(D.dedup_minhash_lsh(spark, SF), "jaccard_est")
    monkeypatch.setattr(D, "VERIFY_CHUNK", 3)
    chunked = _pairs(D.dedup_minhash_lsh(spark, SF), "jaccard_est")
    assert chunked == base
