"""Bulk-ingest sources: tax CSV/ZIP (header validation, cell cleanup, ROC
dates, industry pairs, 8-digit filter, md5 change detection), JSONL.gz, XML,
BOM CSV + overlay merge, and the D6 checkpoint-repair job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biz_crawlers_spark.fixtures import files as FX
from biz_crawlers_spark.sources.bulk import (
    overlay_merge,
    read_bom_csv,
    read_jsonl_gz,
    read_temple_xml,
)
from biz_crawlers_spark.sources.tax import (
    HeaderValidationError,
    ingest_tax_zip,
    read_tax_csv,
    valid_tax_records,
)
from biz_crawlers_spark.tables.snaptable import SnapTable


@pytest.fixture(scope="module")
def fx(tmp_path_factory):
    d = tmp_path_factory.mktemp("files")
    return FX.write_all(str(d))


def test_tax_csv_parse(spark, fx):
    df = read_tax_csv(spark, fx["tax.csv"])
    rows = df.collect()
    assert len(rows) == 200
    invalid = [r for r in rows if not r["valid_id"]]
    assert len(invalid) == 12  # every 17th row has a non-8-digit ID
    ok = valid_tax_records(spark, fx["tax.csv"]).collect()
    assert len(ok) == 188
    r0 = ok[0]
    assert "　" not in r0["address"]  # X14 full-width space stripped
    assert r0["established"] is not None and r0["established"].year >= 1971  # X9 +1911
    assert len(r0["industries"]) >= 1
    assert all(i["code"] != "" for r in ok for i in r["industries"])  # X11 empty dropped


def test_tax_header_validation(spark, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("colA,colB\n1,2\n", encoding="utf-8")
    with pytest.raises(HeaderValidationError):
        read_tax_csv(spark, str(bad))


def test_tax_zip_ingest_and_change_detection(spark, fx, tmp_path):
    tbl = SnapTable.create(
        spark, str(tmp_path / "tax"),
        "tax_id string, head_office_id string, name string, address string, "
        "capital long, established date, org_type string, "
        "uses_uniform_invoice boolean, industries string",
        key_cols=["tax_id"], n_buckets=4,
    )
    r1 = ingest_tax_zip(spark, fx["tax.zip"], tbl)
    assert r1["status"] == "ingested" and r1["rows"] == 188
    # D5: identical zip → md5 short-circuit, no new snapshot
    snaps_before = len(tbl.snapshots())
    r2 = ingest_tax_zip(spark, fx["tax.zip"], tbl)
    assert r2["status"] == "no_changes"
    assert len(tbl.snapshots()) == snaps_before


def test_jsonl_gz(spark, fx):
    df = read_jsonl_gz(spark, fx["records.jsonl.gz"])
    rows = df.collect()
    assert len(rows) == 100
    assert all(len(r["entity_id"]) == 8 for r in rows)  # X16 zero-pad


def test_temple_xml(spark, fx):
    df = read_temple_xml(spark, fx["temple.xml"])
    rows = df.collect()
    assert len(rows) == 50
    assert all(121.0 <= r["lon"] <= 122.0 and 25.0 <= r["lat"] <= 26.0 for r in rows)
    assert all(len(r["entity_id"]) == 8 for r in rows)


def test_bom_csv_and_overlay_merge(spark, fx):
    d1 = read_bom_csv(spark, fx["dataset1.csv"])
    d2 = read_bom_csv(spark, fx["dataset2.csv"])
    assert "entity_id" in d1.columns  # BOM stripped, key discovered
    # last-writer-wins overlay: dataset2's values win wherever present,
    # INCLUDING its empty-string addresses (the reference's exact semantics)
    merged = overlay_merge(d1.dropDuplicates(["entity_id"]), d2.dropDuplicates(["entity_id"]))
    by_id = {r["entity_id"]: r for r in merged.collect()}
    d2_rows = {r["entity_id"]: r for r in d2.dropDuplicates(["entity_id"]).collect()}
    empties = [k for k, r in d2_rows.items() if r["地址"] == ""]
    # Spark CSV reads empty unquoted fields as null → absent → old value kept;
    # that's the documented null=absent mapping (§1.2 union-type note)
    assert len(empties) == 0
    for k, r2 in d2_rows.items():
        if r2["地址"] is not None:
            assert by_id[k]["地址"] == r2["地址"]


def test_repair_lost_payloads(spark, tmp_path):
    """D6: seen keys whose payload rows are missing get deleted from the
    exact seen table and their frontier rows reopened."""
    from biz_crawlers_spark.engine.crawl import CrawlEngine
    from biz_crawlers_spark.engine.repair import repair_lost_payloads
    from biz_crawlers_spark.fixtures.web import company_seed
    from biz_crawlers_spark.politeness.budget import PolitenessBudget

    eng = CrawlEngine(
        spark, str(tmp_path / "c"), web_params={"seed": 42, "n_hosts": 4},
        budget=PolitenessBudget(time_scale=0), per_host_budget=10_000,
        bloom_shards=4, bloom_bits=1 << 16, table_buckets=4, fetch_partitions=4,
    )
    eng.seed_from_urls(company_seed(114, 3))
    eng.run(max_epochs=5)
    assert repair_lost_payloads(eng) == {"lost": 0, "unseen": 0, "reopened": 0}

    # damage: drop all images/records rows for two fetched-ok urls
    ok_keys = [r["url_key"] for r in eng.order_log.read()
               .filter(F.col("status") == "ok").limit(2).collect()]
    kdf = spark.createDataFrame([(k,) for k in ok_keys], "url_key long")
    for t in (eng.images, eng.records):
        victims = t.read().join(kdf, "url_key", "left_semi").select(*t.key_cols)
        if victims.count():
            t.merge(victims, delete=True)

    stats = repair_lost_payloads(eng)
    assert stats == {"lost": 2, "unseen": 2, "reopened": 2}
    seen_now = {r["url_key"] for r in eng.seen.read().collect()}
    assert not (set(ok_keys) & seen_now)
    # bounded retry: next epoch re-fetches exactly those two
    st = eng.run_epoch()
    assert st["fetched"] == 2 and st["ok"] == 2
    seen_after = {r["url_key"] for r in eng.seen.read().collect()}
    assert set(ok_keys) <= seen_after
