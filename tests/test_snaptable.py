"""SnapTable semantics: append/merge/delete/time-travel/rollback + the
reference's field-overlay rule (new wins even when empty string, absent=NULL
keeps old — crawl-others.php:186-204, crawl-temple.php:126-135)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from biz_crawlers_spark.tables.snaptable import SnapTable

DDL = "id string, name string, addr string, amount long"


@pytest.fixture()
def tbl(spark, tmp_path):
    return SnapTable.create(spark, str(tmp_path / "t"), DDL, key_cols=["id"], n_buckets=4)


def _rows(df):
    return sorted((r["id"], r["name"], r["addr"], r["amount"]) for r in df.collect())


def test_empty_read(tbl):
    assert tbl.read().count() == 0
    assert tbl.current_snapshot_id() == -1


def test_append_and_time_travel(tbl, spark):
    df1 = spark.createDataFrame([("00000001", "a", "x", 1)], DDL)
    s1 = tbl.append(df1, {"n": 1})
    df2 = spark.createDataFrame([("00000002", "b", "y", 2)], DDL)
    s2 = tbl.append(df2, {"n": 1})
    assert tbl.read().count() == 2
    assert tbl.read(snapshot_id=s1).count() == 1
    hist = tbl.snapshots()
    assert [h["snapshot_id"] for h in hist] == [s1, s2]
    assert all(h["operation"] == "append" for h in hist)


def test_merge_upsert_and_overlay(tbl, spark):
    tbl.append(
        spark.createDataFrame(
            [("00000001", "old-name", "old-addr", 10), ("00000002", "keep", "keep-addr", 20)], DDL
        )
    )
    # update 1: new name (non-null wins), addr explicitly empty string (still wins),
    # amount NULL (absent → old kept); insert a brand-new key
    upd = spark.createDataFrame(
        [("00000001", "new-name", "", None), ("00000003", "ins", "i-addr", 30)], DDL
    )
    tbl.merge(upd)
    got = _rows(tbl.read())
    assert got == [
        ("00000001", "new-name", "", 10),
        ("00000002", "keep", "keep-addr", 20),
        ("00000003", "ins", "i-addr", 30),
    ]


def test_merge_bucket_pruning(tbl, spark):
    base = spark.createDataFrame([(f"{i:08d}", f"n{i}", "a", i) for i in range(40)], DDL)
    tbl.append(base)
    parent_files = tbl._load_manifest(tbl.current_snapshot_id())["files"]
    upd = spark.createDataFrame([("00000000", "upd", "a", 0)], DDL)
    tbl.merge(upd)
    new_manifest = tbl._load_manifest(tbl.current_snapshot_id())["files"]
    carried = [f for f in new_manifest if f in parent_files]
    # the single-key update touches exactly one bucket; the other 3 buckets'
    # files must be carried over untouched (bucket-pruned copy-on-write)
    touched_buckets = {f["bucket"] for f in new_manifest if f not in parent_files}
    assert touched_buckets == {
        f["bucket"] for f in parent_files if f["bucket"] in touched_buckets
    }
    assert len(carried) >= 1
    assert tbl.read().count() == 40
    assert _rows(tbl.read().filter(F.col("id") == "00000000"))[0][1] == "upd"


def test_delete_and_rollback(tbl, spark):
    tbl.append(spark.createDataFrame([(f"{i:08d}", "n", "a", i) for i in range(10)], DDL))
    keep_sid = tbl.current_snapshot_id()
    tbl.merge(spark.createDataFrame([("00000003",)], "id string"), delete=True)
    assert tbl.read().count() == 9
    assert tbl.read().filter(F.col("id") == "00000003").count() == 0
    tbl.rollback(keep_sid)
    assert tbl.read().count() == 10


def test_compact(tbl, spark):
    for i in range(5):
        tbl.append(spark.createDataFrame([(f"{i:08d}", "n", "a", i)], DDL))
    n_before = len(tbl._load_manifest(tbl.current_snapshot_id())["files"])
    tbl.compact()
    n_after = len(tbl._load_manifest(tbl.current_snapshot_id())["files"])
    assert n_after <= 4  # one file per non-empty bucket
    assert n_after < n_before
    assert tbl.read().count() == 5


def test_reopen_from_disk(tbl, spark, tmp_path):
    tbl.append(spark.createDataFrame([("00000001", "a", "x", 1)], DDL))
    t2 = SnapTable(spark, str(tmp_path / "t"))
    assert t2.read().count() == 1
    assert t2.key_cols == ["id"]
    assert SnapTable.exists(str(tmp_path / "t"))
    assert not SnapTable.exists(str(tmp_path / "nope"))


def test_expire_snapshots(tbl, spark):
    for i in range(6):
        tbl.append(spark.createDataFrame([(f"{i:08d}", "n", "a", i)], DDL))
    assert len(tbl.snapshots()) == 6
    stats = tbl.expire_snapshots(keep_last=2)
    assert stats["expired_snapshots"] == 4
    # current data intact, history truncated to the retention window
    assert tbl.read().count() == 6
    hist = tbl.snapshots()
    assert len(hist) == 2
    # time travel inside the window still works
    assert tbl.read(snapshot_id=hist[0]["snapshot_id"]).count() == 5
    # expired data files really gone only when unreferenced: appends share
    # files across manifests, so nothing referenced was deleted
    assert tbl.read().count() == 6


def test_expire_after_overwrite_deletes_files(tbl, spark):
    import glob
    import os

    tbl.append(spark.createDataFrame([("00000001", "a", "x", 1)], DDL))
    tbl.overwrite(spark.createDataFrame([("00000002", "b", "y", 2)], DDL))
    n_files_before = len(glob.glob(os.path.join(tbl.path, "data", "*", "*", "*.parquet")))
    stats = tbl.expire_snapshots(keep_last=1)
    n_files_after = len(glob.glob(os.path.join(tbl.path, "data", "*", "*", "*.parquet")))
    assert stats["deleted_files"] >= 1
    assert n_files_after < n_files_before
    assert _rows(tbl.read()) == [("00000002", "b", "y", 2)]


def test_atomic_pointer(tbl, spark, tmp_path):
    tbl.append(spark.createDataFrame([("00000001", "a", "x", 1)], DDL))
    cur = os.path.join(str(tmp_path / "t"), "_current")
    with open(cur) as f:
        assert f.read().strip() == "0"


def test_derived_column_and_stats_pruning(spark, tmp_path):
    """Generated columns (recomputed on EVERY write path, even when the
    writer omits or mis-supplies them) + manifest file stats: the pruned
    read returns None — zero data files touched — while no file can contain
    the value, and finds the rows after any writer introduces one."""
    t = SnapTable.create(
        spark, str(tmp_path / "gen"),
        "k long, biz string, corrupt boolean", ["k"], n_buckets=2,
        derived={"corrupt": "biz IS NOT NULL AND try_parse_json(biz) IS NULL"},
        stat_cols=["corrupt"],
    )
    t.append(spark.createDataFrame([(1, '{"a":1}'), (2, None)], "k long, biz string"))
    assert t.read_stats_pruned("corrupt") is None  # manifest alone answers
    assert [r["corrupt"] for r in t.read().orderBy("k").collect()] == [False, False]

    # an external writer merges invalid JSON WITHOUT setting corrupt: the
    # generated expr recomputes at write, stats expose the file
    t.merge(spark.createDataFrame([(2, "{bad")], "k long, biz string"))
    hit = t.read_stats_pruned("corrupt")
    assert hit is not None
    assert [r["k"] for r in hit.filter(F.col("corrupt")).collect()] == [2]

    # repairing the row flips it back; the rewritten bucket's stats prune again
    t.merge(spark.createDataFrame([(2, "[1,2]")], "k long, biz string"))
    assert t.read_stats_pruned("corrupt") is None
    # a writer actively LYING about the generated column is overruled
    t.merge(spark.createDataFrame([(3, "{worse", False)], "k long, biz string, corrupt boolean"))
    assert t.read_stats_pruned("corrupt").filter("corrupt").count() == 1


def test_insert_only_merge_fast_path_and_empty_delete(spark, tmp_path):
    """MERGE into an empty table is a plain bucketed write (insert-only fast
    path); a delete against an empty table commits an empty snapshot; the
    fast-path snapshot behaves identically to a joined merge downstream."""
    t = SnapTable.create(spark, str(tmp_path / "fp"), DDL, ["id"], n_buckets=4)
    assert t.merge(
        spark.createDataFrame([("a", None)], "id string, name string"),
        delete=True,
    ) == 0  # empty delete: snapshot advances, nothing to scan
    t2 = SnapTable.create(spark, str(tmp_path / "fp2"), DDL, ["id"], n_buckets=4)
    t2.merge(spark.createDataFrame([("a", "x", "ad", 1), ("b", "y", "bd", 2)], DDL))
    assert _rows(t2.read()) == [("a", "x", "ad", 1), ("b", "y", "bd", 2)]
    # second merge hits the joined path and overlays onto fast-path rows
    t2.merge(spark.createDataFrame([("a", "x2"), ("c", "z")], "id string, name string"))
    assert _rows(t2.read()) == [
        ("a", "x2", "ad", 1), ("b", "y", "bd", 2), ("c", "z", None, None)
    ]


def test_empty_mor_merge_adds_no_delete_entry(tbl, spark):
    """A merge-on-read merge of an empty batch writes no data file, so it
    supersedes nothing: the manifest's deletes list stays as it was (an
    entry would add a read-time join and count toward vacuum's cadence)."""
    tbl.append(spark.createDataFrame([("a", "x", "ad", 1), ("b", "y", "bd", 2)], DDL))
    tbl.merge(spark.createDataFrame([("a", "x2", "ad", 1)], DDL), dedupe=False, mor=True)
    before = tbl._load_manifest(tbl.current_snapshot_id()).get("deletes", [])
    assert len(before) == 1
    tbl.merge(spark.createDataFrame([], DDL), dedupe=False, mor=True)
    m = tbl._load_manifest(tbl.current_snapshot_id())
    assert m.get("deletes", []) == before
    assert _rows(tbl.read()) == [("a", "x2", "ad", 1), ("b", "y", "bd", 2)]


def test_adopt_links_and_overwrites_leftover(tbl, spark, tmp_path):
    """adopt_files links the staging files in (the sources stay readable)
    and replaces a leftover of an adopt that crashed before its manifest
    commit: the table reads exactly the adopted rows."""
    tbl.append(spark.createDataFrame([("a", "x", "ad", 1)], DDL))
    stage = str(tmp_path / "stage")
    batch = [("b", "y", "bd", 2), ("c", "z", "cd", 3)]
    spark.createDataFrame(batch, DDL).coalesce(1).write.parquet(stage)
    files = [os.path.join(stage, f) for f in os.listdir(stage) if f.endswith(".parquet")]
    nxt = os.path.join(tbl.path, "data", f"s{tbl.current_snapshot_id() + 1}")
    os.makedirs(nxt)
    spark.createDataFrame([("junk", "j", "jd", 9)], DDL).coalesce(1).write.parquet(
        str(tmp_path / "junk")
    )
    (junk,) = [f for f in os.listdir(tmp_path / "junk") if f.endswith(".parquet")]
    os.rename(tmp_path / "junk" / junk, os.path.join(nxt, "adopt-00000.parquet"))
    tbl.adopt_files(files)
    assert _rows(tbl.read()) == [("a", "x", "ad", 1)] + batch
    assert _rows(spark.read.parquet(*files)) == batch, "staging files stay in place"
    assert not [f for f in os.listdir(nxt) if f.startswith(".adopt-")]
