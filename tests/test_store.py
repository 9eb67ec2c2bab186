"""TableStore abstraction: the full commit/rewrite/vacuum lifecycle runs
against FakeObjectStore (S3-style semantics: conditional create, COPY+DELETE
finalize, NO rename/link/replace) — proving the lake's driver path deploys
on object stores, not just POSIX. The ban is enforced by monkeypatching the
POSIX primitives to raise: any code path that still needs them fails loudly.
Spark's own staged parquet writes are exempt by design (they run in the JVM
against file URIs, exactly as they'd run against s3a:// with a cloud
committer on a real cluster).
"""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.lake import (
    ConcurrentCommitError,
    FakeObjectStore,
    LakeTable,
    delete,
    merge_into,
    mor_delete_keys,
    update,
)

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(repo=r, path=p, content=c) for r, p, c in rows], SCHEMA
    )


def _ban_posix_moves(monkeypatch):
    """Make rename/link/replace raise in PYTHON driver code. Spark's JVM
    writer and the store's own local emulation (open/copy/unlink) are not
    touched — the point is that LAKE code never needs a move primitive when
    the store doesn't offer one."""

    def _banned(*a, **k):
        raise AssertionError(
            "POSIX move primitive called on the object-store path"
        )

    monkeypatch.setattr(os, "link", _banned)
    monkeypatch.setattr(os, "rename", _banned)
    monkeypatch.setattr(os, "replace", _banned)


@pytest.fixture()
def obj_table(spark, tmp_table_root):
    store = FakeObjectStore(tmp_table_root)
    t = LakeTable.create(
        spark,
        tmp_table_root,
        SCHEMA,
        key_cols=["repo", "path"],
        num_buckets=4,
        store=store,
    )
    return t, store


def test_lifecycle_on_object_store(spark, obj_table, monkeypatch):
    """create → append → MERGE (upsert+delete) → UPDATE → DELETE → DV →
    EDV → compact → vacuum, all with rename/link/replace banned."""
    _ban_posix_moves(monkeypatch)
    t, store = obj_table

    t.append(_df(spark, [("a", "1", "x"), ("b", "2", "y"), ("c", "3", "z")]))
    t.append(_df(spark, [("d", "4", "w")]))
    assert t.read().count() == 4

    # MERGE: update a, delete b, insert e
    src = _df(spark, [("a", "1", "x2"), ("b", "2", "_"), ("e", "5", "v")])
    merge_into(
        t,
        src,
        on=["repo", "path"],
        when_matched_delete=F.col("s.repo") == "b",
    )
    got = {(r.repo, r.content) for r in t.read().collect()}
    assert got == {("a", "x2"), ("c", "z"), ("d", "w"), ("e", "v")}

    # UPDATE + copy-on-write DELETE
    update(t, {"content": F.lit("cc")}, condition=F.col("repo") == "c")
    delete(t, F.col("repo") == "d")
    got = {(r.repo, r.content) for r in t.read().collect()}
    assert got == {("a", "x2"), ("c", "cc"), ("e", "v")}

    # merge-on-read deletion vectors: two key-set deletes
    mor_delete_keys(
        t, spark.createDataFrame([("a", "1")], ["repo", "path"]), ["repo", "path"]
    )
    mor_delete_keys(
        t, spark.createDataFrame([("c", "3")], ["repo", "path"]), ["repo", "path"]
    )
    assert {r.repo for r in t.read().collect()} == {"e"}

    # compact rewrites and vacuum reclaims the rewritten/orphaned objects
    t.compact()
    assert {r.repo for r in t.read().collect()} == {"e"}
    removed = t.vacuum()
    assert removed > 0
    assert {r.repo for r in t.read().collect()} == {"e"}
    # time travel within the lifecycle is gone after vacuum(0)? No — only
    # unreferenced files die; latest snapshot stays exact. Metadata prune:
    t.vacuum_metadata()
    assert {r.repo for r in t.read().collect()} == {"e"}
    assert store.copies > 0 and store.puts > 0  # the store actually ran


def test_conditional_put_race_on_object_store(spark, obj_table, monkeypatch):
    _ban_posix_moves(monkeypatch)
    t, store = obj_table
    t.append(_df(spark, [("a", "1", "x")]))
    with pytest.raises(ConcurrentCommitError):
        t._commit(
            {"operation": "append", "add": [], "remove": []},
            expected_version=t.latest_version(),
        )


def test_commit_is_one_conditional_put(spark, obj_table, monkeypatch):
    """Request-amplification guard: a non-checkpoint commit issues exactly
    one conditional put, and finalize of K staged files is K copies."""
    _ban_posix_moves(monkeypatch)
    t, store = obj_table
    puts0 = store.puts
    copies0 = store.copies
    res = t.append(_df(spark, [("a", "1", "x")]))
    assert res.version % 16 != 0  # not a checkpoint commit
    assert store.puts - puts0 == 1
    n_files = len(t.snapshot().files)
    assert store.copies - copies0 == n_files


def test_object_store_layout_readable_by_posix_store(spark, obj_table, monkeypatch):
    """The store changes the PROTOCOL, not the LAYOUT: a table written via
    FakeObjectStore opens cleanly with the default PosixStore."""
    _ban_posix_moves(monkeypatch)
    t, _ = obj_table
    t.append(_df(spark, [("a", "1", "x"), ("b", "2", "y")]))
    monkeypatch.undo()
    t2 = LakeTable(spark, t.root)  # default PosixStore
    assert {r.repo for r in t2.read().collect()} == {"a", "b"}


def test_vacuum_reclaims_staging_on_object_store(spark, obj_table, monkeypatch):
    """A writer that died between stage and commit leaks `.staging-*`
    objects; vacuum reclaims them via list+delete (no rmdir semantics)."""
    t, store = obj_table
    t.append(_df(spark, [("a", "1", "x")]))
    # simulate the crash: staged parquet that never finalized
    leak = os.path.join(t.root, ".staging-deadbeef")
    os.makedirs(leak)
    with open(os.path.join(leak, "part-0.parquet"), "wb") as f:
        f.write(b"orphan")
    old = 1_000_000.0
    os.utime(os.path.join(leak, "part-0.parquet"), (old, old))
    os.utime(leak, (old, old))
    _ban_posix_moves(monkeypatch)
    assert t.vacuum(staging_grace_sec=3600) >= 1
    assert not os.path.exists(leak)
    assert {r.repo for r in t.read().collect()} == {"a"}


def test_time_travel_and_incremental_on_object_store(spark, obj_table, monkeypatch):
    _ban_posix_moves(monkeypatch)
    t, _ = obj_table
    t.append(_df(spark, [("a", "1", "x")]))
    v1 = t.latest_version()
    t.append(_df(spark, [("b", "2", "y")]))
    assert {r.repo for r in t.read(version=v1).collect()} == {"a"}
    assert {r.repo for r in t.read_incremental(v1).collect()} == {"b"}
