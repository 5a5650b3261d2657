"""Training-data pipeline ops: dedup family, ANN, text stats, multimodal
plumbing — semantic checks beyond the DuckDB oracle (recall, monotonicity,
error-row semantics)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from biz_crawlers_spark.ml import dedup as D
from biz_crawlers_spark.ml import multimodal as MM
from biz_crawlers_spark.ml import similarity as S

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def exact_pairs(spark):
    return {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.dedup_ngram_jaccard(spark, SF).collect()
    }


def test_minhash_lsh_recall(spark, exact_pairs):
    """LSH must recover (nearly) all true near-dup pairs; estimates must be
    close to exact Jaccard."""
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in
           D.dedup_minhash_lsh(spark, SF).collect()}
    true_hi = {p for p, j in exact_pairs.items() if j >= 0.7}
    recall = len(true_hi & set(got)) / max(len(true_hi), 1)
    assert recall >= 0.95, f"LSH recall {recall:.2f}"
    for p in true_hi & set(got):
        assert abs(got[p] - exact_pairs[p]) < 0.25


def test_simhash_finds_near_dups(spark, exact_pairs):
    got = {(r["id_a"], r["id_b"]) for r in D.dedup_simhash(spark, SF).collect()}
    # simhash hamming<=3 pairs should be overwhelmingly true near-dups
    true_pairs = set(exact_pairs)
    assert len(got) > 0
    precision = len(got & true_pairs) / len(got)
    assert precision >= 0.8, f"simhash precision {precision:.2f}"


def test_ann_lsh_recall_on_clustered_data(spark, tmp_path):
    """Sign-LSH only helps when near neighbors are angularly close — the sf
    embeddings have none (max pairwise cosine ≈ 0.51), so recall is tested
    on clustered synthetic vectors where true neighbors exist."""
    rng = np.random.default_rng(42)
    centers = rng.standard_normal((10, 64))
    rows = []
    for i in range(500):
        c = centers[i % 10]
        v = c + 0.15 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v], i % 10))
    spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int") \
        .write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)
    exact = {}
    for r in S.ann_bruteforce(spark, sf).collect():
        exact.setdefault(r["q_id"], []).append(r["vec_id"])
    approx = {}
    for r in S.ann_lsh(spark, sf).collect():
        approx.setdefault(r["q_id"], []).append(r["vec_id"])
    hits = sum(1 for q, e in exact.items() if q in approx and e[0] in approx[q])
    assert hits / len(exact) >= 0.8, f"ann_lsh top1 recall {hits}/{len(exact)}"
    # top-5 overlap
    overlap = [len(set(e) & set(approx.get(q, []))) / len(e) for q, e in exact.items()]
    assert np.mean(overlap) >= 0.6, f"ann_lsh top-5 overlap {np.mean(overlap):.2f}"


def test_ann_lsh_quality_floor_on_sf_corpus(spark):
    """VERDICT r3 #5: a fixed floor for ann_lsh on the sf0.01 corpus so a
    bucket-collapse bug cannot pass rows-only CORRECTNESS silently. The sf
    embeddings have no angular clusters (max pairwise cosine ≈ 0.51, corpus
    mean ≈ 0), so top-k OVERLAP vs bruteforce is near-random by nature (the
    clustered-recall gate above covers overlap); what IS deterministic and
    meaningful here is neighbor QUALITY: LSH's returned top-k must (a) fill
    every query (no starved probes), and (b) average a cosine far above
    random pairs and a fixed fraction of the exact optimum. Measured on this
    corpus: lsh mean 0.204 (= the p95 of the pairwise-cosine distribution),
    bruteforce mean 0.329, ratio 0.62 — floors pinned with margin below."""
    bf = S.ann_bruteforce(spark, SF).collect()
    ls = S.ann_lsh(spark, SF).collect()
    per_q: dict[int, int] = {}
    for r in ls:
        per_q[r["q_id"]] = per_q.get(r["q_id"], 0) + 1
    assert len(per_q) == len({r["q_id"] for r in bf})
    assert all(n == S.TOP_K for n in per_q.values()), f"starved queries: {per_q}"
    lsh_mean = float(np.mean([r["cosine"] for r in ls]))
    bf_mean = float(np.mean([r["cosine"] for r in bf]))
    assert lsh_mean >= 0.15, f"lsh mean cosine {lsh_mean:.3f} ~ random pairs"
    assert lsh_mean >= 0.45 * bf_mean, (
        f"lsh mean cosine {lsh_mean:.3f} < 45% of exact {bf_mean:.3f}"
    )


def test_ann_ivf_quality(spark):
    exact = {}
    for r in S.ann_bruteforce(spark, SF).collect():
        exact.setdefault(r["q_id"], []).append(r["vec_id"])
    ivf = {}
    for r in S.ann_ivf(spark, SF).collect():
        ivf.setdefault(r["q_id"], []).append(r["vec_id"])
    overlap = [
        len(set(e) & set(ivf.get(q, []))) / len(e) for q, e in exact.items()
    ]
    assert np.mean(overlap) >= 0.5, f"IVF mean top-k overlap {np.mean(overlap):.2f}"


def test_multimodal_decode_and_errors(spark):
    df = MM.synthetic_images_df(spark, n=24)
    # inject an unsupported-format row and a corrupt row
    extra = spark.createDataFrame(
        [("jpegrow", b"\xff\xd8\xff\xe0fakejpeg", "jpeg", 1, 1),
         ("badrow", b"\x89PNG\r\n\x1a\nGARBAGE", "png", 1, 1)],
        "image_id string, bytes binary, fmt string, w int, h int",
    )
    feats = MM.decode_image_features(df.unionByName(extra)).collect()
    by_id = {r["image_id"]: r for r in feats}
    assert by_id["jpegrow"]["error"].startswith("unsupported")
    assert by_id["badrow"]["error"].startswith("decode_error")
    ok = [r for r in feats if r["error"] is None]
    assert len(ok) == 24
    assert all(r["w"] in (16, 32, 64, 128) for r in ok)


def test_multimodal_resize(spark):
    from biz_crawlers_spark import codecs

    df = MM.synthetic_images_df(spark, n=6)
    out = MM.resize_images(df, size=16).collect()
    assert len(out) == 6
    for r in out:
        pix = codecs.decode_ppm(bytes(r["bytes"]))
        assert pix.shape == (16, 16, 3)


def test_audio_plumbing(spark):
    import numpy as np

    t = np.arange(4000)
    wave = (3000 * np.sin(t / 10.0)).astype("<i2").tobytes()
    df = spark.createDataFrame([("clip1", wave), ("empty", b"")],
                               "clip_id string, bytes binary")
    rows = {r["clip_id"]: r for r in MM.fake_audio_decode(df).collect()}
    assert rows["clip1"]["n_samples"] == 4000
    assert 2000 < rows["clip1"]["rms"] < 2300  # sine RMS ≈ amp/√2 ≈ 2121
    assert rows["empty"]["error"] is not None


def test_video_stub_raises(spark):
    df = MM.synthetic_images_df(spark, n=1)
    with pytest.raises(NotImplementedError):
        MM.frame_sample_video(df)


def test_wav_decode_real_riff(spark):
    """Real audio path: stdlib-wave RIFF decode inside mapInPandas — correct
    rates/durations/feature values for sine bursts, error row for garbage."""
    import numpy as np

    from biz_crawlers_spark.ml.multimodal import decode_wav_features, synthetic_wav_df

    feats = {r["clip_id"]: r for r in decode_wav_features(synthetic_wav_df(spark)).collect()}
    assert len(feats) == 17
    bad = feats.pop("clip_bad")
    assert bad["error"] and bad["rms"] is None
    for cid, r in feats.items():
        assert r["error"] is None
        assert r["sample_rate"] == 8000 and r["n_channels"] == 1
        assert r["n_samples"] == 2000 and abs(r["duration_s"] - 0.25) < 1e-9
        # sine RMS ≈ amp/√2 within rounding of the int16 quantization
        assert abs(r["rms"] - r["peak"] / np.sqrt(2)) / r["peak"] < 0.02
        assert r["zero_crossings"] > 50


def test_dedup_exact_spreads_directory_layout_input(spark, tmp_path):
    """The size gate sums the part files of a directory-layout
    documents.parquet (the directory entry alone is ~4 KB): a ≥ 4 MB
    directory plans the doc_id spread, a small single file does not."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = tmp_path / "documents.parquet"
    docs.mkdir()
    rng = np.random.default_rng(3)
    for part in range(2):
        ids = np.arange(part * 1300, (part + 1) * 1300, dtype=np.int64)
        text = [rng.bytes(1000).hex() for _ in ids]  # incompressible 2 KB
        pq.write_table(
            pa.table({"doc_id": ids, "text": text}),
            str(docs / f"part-{part:05d}.parquet"),
        )
    assert os.path.getsize(docs) < 4_000_000 <= D._input_bytes(str(docs))

    def spreads(sf_dir):
        plan = D.dedup_exact(spark, sf_dir)._jdf.queryExecution().executedPlan()
        return "hashpartitioning(doc_id#" in plan.toString()

    assert spreads(str(tmp_path))
    assert not spreads(SF)
