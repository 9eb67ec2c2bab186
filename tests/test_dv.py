"""Merge-on-read deletes (deletion vectors).

``delete(mode="mor")`` commits (file, row-position) deletion vectors instead
of rewriting files (Iceberg v2 positional-delete shape). Every reader —
read(), merge target, UPDATE/DELETE discovery, changelog — must apply them;
compact() absorbs them back into clean files; vacuum retains referenced DV
parquet.
"""

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.lake import LakeTable
from techtalk_data_pipeline_snowpark_spark.lake.merge import (
    delete,
    merge_into,
    mor_delete_keys,
    update,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame([Row(k=int(k), v=v) for k, v in rows], SCHEMA)


def _mk(spark, root, n=20, buckets=4):
    t = LakeTable.create(spark, root, SCHEMA, key_cols=["k"], num_buckets=buckets)
    t.append(_df(spark, [(i, f"v{i}") for i in range(n)]))
    return t


def test_mor_delete_is_metadata_only(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    files_before = set(t.snapshot().files)
    res = delete(t, F.col("k") < 5, mode="mor")
    assert res.summary["rows_affected"] == 5
    assert res.summary["mode"] == "mor"
    snap = t.snapshot()
    # no data file added or removed — the commit is DVs + metadata only
    assert set(snap.files) == files_before
    assert any(m.get("dv") for m in snap.files.values())
    got = sorted(r.k for r in t.read().collect())
    assert got == list(range(5, 20))


def test_mor_delete_accumulates(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    delete(t, F.col("k") < 3, mode="mor")
    res2 = delete(t, F.col("k") < 6, mode="mor")
    # second pass only kills the still-live rows 3..5
    assert res2.summary["rows_affected"] == 3
    assert sorted(r.k for r in t.read().collect()) == list(range(6, 20))


def test_mor_delete_all_rows(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root, n=9)
    res = delete(t, F.lit(True), mode="mor")
    assert res.summary["rows_affected"] == 9
    assert t.read().count() == 0
    # table still writable after a full MOR wipe
    t.append(_df(spark, [(100, "x")]))
    assert [r.k for r in t.read().collect()] == [100]


def test_mor_delete_no_match_is_noop(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root, n=5)
    v = t.latest_version()
    res = delete(t, F.col("k") > 999, mode="mor")
    assert res.summary["rows_affected"] == 0
    assert not any(m.get("dv") for m in t.snapshot().files.values())
    assert t.read().count() == 5
    assert t.latest_version() == v + 1  # still a (no-op) commit


def test_time_travel_before_mor_delete(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root, n=8)
    v = t.latest_version()
    delete(t, F.col("k") % 2 == 0, mode="mor")
    assert t.read(version=v).count() == 8
    assert t.read().count() == 4


def test_merge_after_mor_delete_does_not_resurrect(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    delete(t, F.col("k") < 10, mode="mor")
    # upsert keys 0..2 (dead) and 15 (live) — dead rows must not reappear
    src = _df(spark, [(0, "new0"), (1, "new1"), (2, "new2"), (15, "new15")])
    merge_into(t, src, on=["k"])
    got = {r.k: r.v for r in t.read().collect()}
    assert got[0] == "new0" and got[15] == "new15"
    # keys 3..9 stay dead (merge didn't touch them, DVs still apply)
    assert 3 not in got and 9 not in got
    assert set(got) == {0, 1, 2, 15} | set(range(10, 15)) | set(range(16, 20))


def test_update_after_mor_delete(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root, n=10)
    delete(t, F.col("k") < 5, mode="mor")
    res = update(t, {"v": F.lit("upd")}, F.col("k") < 8)
    # only live rows 5..7 match
    assert res.summary["rows_affected"] == 3
    got = {r.k: r.v for r in t.read().collect()}
    assert set(got) == set(range(5, 10))
    assert got[5] == "upd" and got[8] == "v8"


def test_cow_delete_on_dv_file(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root, n=10)
    delete(t, F.col("k") < 4, mode="mor")
    res = delete(t, F.col("k") < 6, mode="cow")  # rewrites hit files
    assert res.summary["rows_affected"] == 2  # only 4,5 still live
    assert sorted(r.k for r in t.read().collect()) == list(range(6, 10))


def test_changelog_emits_mor_deletes(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root, n=10)
    v0 = t.latest_version()
    delete(t, F.col("k") < 3, mode="mor")
    ch = t.read_changelog(v0).collect()
    assert {r._change_type for r in ch} == {"delete"}
    assert sorted(r.k for r in ch) == [0, 1, 2]
    # second MOR delete emits only the newly-killed rows
    v1 = t.latest_version()
    delete(t, F.col("k") < 5, mode="mor")
    ch2 = t.read_changelog(v1).collect()
    assert sorted(r.k for r in ch2) == [3, 4]


def test_changelog_rewrite_of_dv_file_no_spurious_deletes(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    delete(t, F.col("k") < 10, mode="mor")
    v = t.latest_version()
    # merge rewrites touched buckets; rows MOR-killed earlier must not show
    # up as deletes of THIS commit (they died in the previous one)
    merge_into(t, _df(spark, [(0, "back")]), on=["k"])
    ch = t.read_changelog(v).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r._change_type, []).append(r.k)
    assert by_type.get("insert") == [0]
    assert "delete" not in by_type


def test_compact_absorbs_dvs(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    delete(t, F.col("k") % 3 == 0, mode="mor")
    live_before = sorted(r.k for r in t.read().collect())
    v = t.latest_version()
    t.compact()
    snap = t.snapshot()
    assert not any(m.get("dv") for m in snap.files.values())
    assert sorted(r.k for r in t.read().collect()) == live_before
    # compact stays invisible to changelog consumers
    assert t.read_changelog(v).count() == 0


def test_vacuum_retains_then_drops_dv_files(spark, tmp_table_root):
    import glob
    import os

    t = _mk(spark, tmp_table_root, n=10)
    delete(t, F.col("k") < 4, mode="mor")
    t.vacuum(retain_versions=0)
    assert sorted(r.k for r in t.read().collect()) == list(range(4, 10))
    dv_files = glob.glob(os.path.join(tmp_table_root, "data", "_dv", "*.parquet"))
    assert dv_files  # referenced DVs survive vacuum
    t.compact()  # absorbs DVs — refs dropped
    t.vacuum(retain_versions=0)
    assert glob.glob(os.path.join(tmp_table_root, "data", "_dv", "*.parquet")) == []
    assert sorted(r.k for r in t.read().collect()) == list(range(4, 10))


def test_mor_unbucketed_table(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA)
    t.append(_df(spark, [(i, f"v{i}") for i in range(12)]))
    res = delete(t, F.col("k") >= 6, mode="mor")
    assert res.summary["rows_affected"] == 6
    assert sorted(r.k for r in t.read().collect()) == list(range(6))
    t.compact()
    assert sorted(r.k for r in t.read().collect()) == list(range(6))


# --------------------------------------------------------- key-set deletes


def test_equality_delete_reinserted_key_survives(spark, tmp_table_root):
    """A key-set delete (``mor_delete_keys``, the shape the
    equality_delete_orders entry gates) attaches its DVs only to the files
    live at its commit: a key re-inserted AFTER it — by append or by
    merge — must NOT be killed by the older delete."""
    t = _mk(spark, tmp_table_root, n=10)
    mor_delete_keys(t, spark.createDataFrame([Row(k=3), Row(k=7)]), ["k"])
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 4, 5, 6, 8, 9]
    t.append(_df(spark, [(3, "reborn")]))
    got = {(r.k, r.v) for r in t.read().collect()}
    assert (3, "reborn") in got and not any(k == 7 for k, _ in got)
    # merge-based reinsert: the merge reads its target with the DVs
    # applied, so the dead key is absent and inserts (never updates)
    res = merge_into(t, _df(spark, [(7, "back")]), on=["k"], when_matched_update="all")
    assert res.summary["rows_inserted"] == 1 and res.summary["rows_updated"] == 0
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert [k for k, _ in got] == list(range(10))
    assert (3, "reborn") in got and (7, "back") in got


def test_changelog_spans_equality_delete_then_merge(spark, tmp_table_root):
    """A changelog range holding a key-set DV delete FOLLOWED by a merge
    that rewrites the DV-carrying file must emit the killed row exactly
    once: the merge's pre-image is read with the earlier DVs applied."""
    t = _mk(spark, tmp_table_root, n=10, buckets=1)
    v0 = t.latest_version()
    mor_delete_keys(t, spark.createDataFrame([Row(k=1)]), ["k"])
    merge_into(
        t, _df(spark, [(2, "updated"), (99, "new")]),
        on=["k"], when_matched_update="all",
    )
    rows = t.read_changelog(v0).collect()
    ch = sorted((r.k, r._change_type, r._commit_version) for r in rows)
    # MULTISET assertion including version: a set of (k, type) tuples would
    # collapse the spurious duplicate (1, 'delete') an un-narrowed pre-image
    # emits at the merge's rewrite version (the row already killed by the
    # DV resurrecting as a delete again).
    assert ch == [
        (1, "delete", v0 + 1),
        (2, "update_postimage", v0 + 2),
        (99, "insert", v0 + 2),
    ]


def test_dv_refs_survive_checkpoint(spark, tmp_table_root):
    """Snapshot checkpoints must carry positional-DV refs: a snapshot
    rebuilt FROM a checkpoint (log replay skipped) has to keep filtering
    the dead rows."""
    import glob
    import os

    t = _mk(spark, tmp_table_root, n=12, buckets=2)
    delete(t, F.col("k") == 2, mode="mor")
    mor_delete_keys(t, spark.createDataFrame([Row(k=5)]), ["k"])
    # push past the checkpoint cadence (every 16 commits)
    for i in range(16):
        t.append(_df(spark, [(100 + i, f"x{i}")]))
    assert t._available_checkpoints(), "expected a checkpoint to exist"
    snap_cp = t.snapshot()
    assert any(m.get("dv") for m in snap_cp.files.values())
    live = sorted(r.k for r in t.read().collect())
    assert 2 not in live and 5 not in live and 100 in live
    # force a full log replay (checkpoints hidden) — must agree exactly
    hidden = []
    for p in glob.glob(os.path.join(tmp_table_root, "_log", "*.checkpoint.json")):
        os.rename(p, p + ".hidden")
        hidden.append(p)
    try:
        snap_full = t.snapshot()
        assert snap_cp.files == snap_full.files
    finally:
        for p in hidden:
            os.rename(p + ".hidden", p)


def test_legacy_equality_delete_refs_refuse_to_read(spark, tmp_table_root):
    """Equality-delete ('edv') refs are a format of earlier releases that
    this one no longer applies. A live file carrying one — from a log
    entry or from a checkpoint's file metadata — must fail loudly: a plain
    read would bring its deleted rows back."""
    import json

    import pytest

    t = _mk(spark, tmp_table_root, n=6, buckets=1)
    p = sorted(t.snapshot().files)[0]
    v = t.latest_version() + 1
    t.store.put_if_absent(t._log_path(v), json.dumps({
        "operation": "delete", "add": [], "remove": [], "properties": {},
        "summary": {}, "edv": {p: ["data/_edv/legacy.parquet"]},
    }).encode())
    for read in (t.snapshot, t.read):
        with pytest.raises(ValueError, match=rf"v{v} left an equality-delete"):
            read()
    # a compaction by the earlier release removes the ref-carrying file:
    # the table reads again
    t.store.put_if_absent(t._log_path(v + 1), json.dumps({
        "operation": "compact", "add": [], "remove": [p], "properties": {},
        "summary": {},
    }).encode())
    assert p not in t.snapshot().files
    # the same ref carried in by a checkpoint
    cp = json.loads(t.store.read_bytes(t._log_path(1)))
    t.store.put_if_absent(t._checkpoint_path(v + 2), json.dumps({
        "version": v + 2, "schema": cp["schema"], "key_cols": ["k"],
        "num_buckets": 1, "properties": {},
        "files": {p: {"rows": 6, "bucket": 0, "edv": ["data/_edv/legacy.parquet"]}},
    }).encode())
    t.store.put_if_absent(t._log_path(v + 2), json.dumps({
        "operation": "append", "add": [], "remove": [], "properties": {},
        "summary": {},
    }).encode())
    with pytest.raises(ValueError, match=rf"v{v + 2} left an equality-delete"):
        t.read()
