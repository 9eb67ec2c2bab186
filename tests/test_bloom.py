"""Per-file key bloom filters (lake/bloom.py): file-grain CoW MERGE,
point-predicate pruning, and the no-false-negative contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.lake import merge as M
from techtalk_data_pipeline_snowpark_spark.lake.bloom import (
    _hash_pair,
    _norm_np,
    _sized,
    build_bloom,
    might_contain,
)
from techtalk_data_pipeline_snowpark_spark.lake.store import FakeObjectStore
from techtalk_data_pipeline_snowpark_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)


def _mk(spark, root, n=4000, buckets=4, store=None, bloom=True):
    t = LakeTable.create(
        spark, root, SCHEMA, key_cols=["repo", "path"], num_buckets=buckets, store=store
    )
    if bloom:
        t.enable_blooms()
    rows = [(f"r{i % 7}", f"p{i}", i) for i in range(n)]
    t.append(spark.createDataFrame(rows, SCHEMA))
    return t


# --------------------------------------------------------------- primitives
def test_bloom_never_false_negative_strings_and_ints():
    rng = np.random.default_rng(7)
    for kind, gen in [
        ("s", lambda n: np.array([f"k/{rng.integers(1 << 40)}" for _ in range(n)], dtype=object)),
        ("i", lambda n: rng.integers(-(1 << 60), 1 << 60, n)),
        ("f", lambda n: rng.normal(size=n) * 1e9),
    ]:
        vals = gen(3000)
        m, k = _sized(len(vals))
        buf = np.frombuffer(build_bloom(_norm_np(vals, kind), m, k), dtype=np.uint8)
        h1, h2 = _hash_pair(_norm_np(vals, kind))
        assert might_contain(buf, m, k, h1, h2).all(), f"false negative ({kind})"


def test_bloom_false_positive_rate_sane():
    vals = np.array([f"in{i}" for i in range(5000)], dtype=object)
    m, k = _sized(len(vals))
    buf = np.frombuffer(build_bloom(vals, m, k), dtype=np.uint8)
    probe = np.array([f"out{i}" for i in range(50000)], dtype=object)
    h1, h2 = _hash_pair(probe)
    assert might_contain(buf, m, k, h1, h2).mean() < 0.05


def test_int_widening_keeps_bloom_valid():
    # pandas hashes equal int32/int64 values identically — the bloom built
    # before an int→long key widening keeps filtering after it
    v32 = np.arange(100, dtype=np.int32)
    v64 = np.arange(100, dtype=np.int64)
    a32, _ = _hash_pair(_norm_np(v32, "i"))
    a64, _ = _hash_pair(_norm_np(v64, "i"))
    assert (a32 == a64).all()


# ------------------------------------------------------------ merge probing
def test_merge_skips_nonmatching_files_and_stays_exact(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "b"))
    ctl = _mk(spark, str(tmp_path / "c"), bloom=False)
    src = spark.createDataFrame(
        [("r1", "p8", 999), ("r2", "p9", 999), ("r0", "p9999", 12345)], SCHEMA
    )
    rb = M.merge_into(t, src, on=["repo", "path"])
    rc = M.merge_into(ctl, src, on=["repo", "path"])
    assert rb.summary["files_skipped_by_bloom"] > 0
    assert rc.summary["files_skipped_by_bloom"] == 0
    # identical final state (sorted rows)
    a = sorted(map(tuple, t.read().collect()))
    b = sorted(map(tuple, ctl.read().collect()))
    assert a == b
    # metrics identical despite the skipped files
    for key in ("rows_inserted", "rows_updated", "rows_deleted"):
        assert rb.summary[key] == rc.summary[key]


def test_merge_delete_branch_with_blooms_exact(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "b"))
    src = spark.createDataFrame(
        [("r1", "p8", -1), ("r6", "p13", -1)], SCHEMA
    ).withColumn("op", F.lit("delete"))
    M.merge_into(
        t,
        src,
        on=["repo", "path"],
        when_matched_delete=F.col("s.op") == "delete",
    )
    df = t.read()
    assert df.count() == 3998
    assert df.where("path in ('p8','p13')").count() == 0


def test_null_key_file_survives_and_matches(spark, tmp_path):
    # a file containing a null key gets no bloom for that column → it can
    # never be wrongly pruned; eqNullSafe matching stays exact
    t = LakeTable.create(
        spark, str(tmp_path / "n"), SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    t.enable_blooms()
    t.append(
        spark.createDataFrame([("rA", None, 1), ("rB", "p1", 2), ("rC", "p2", 3)], SCHEMA)
    )
    src = spark.createDataFrame([("rA", None, 99)], SCHEMA)
    M.merge_into(t, src, on=["repo", "path"])
    rows = {(r["repo"], r["path"]): r["v"] for r in t.read().collect()}
    assert rows[("rA", None)] == 99 and len(rows) == 3


def test_point_delete_and_read_where_prune(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "p"), n=8000, buckets=4)
    res = M.delete(t, F.col("path") == F.lit("p77"))
    assert res.summary["files_bloom_pruned"] > 0
    assert res.summary["files_candidates"] <= 2
    assert t.read().count() == 7999
    # IN list
    res2 = M.delete(t, F.col("path").isin("p100", "p200"))
    assert res2.summary["rows_affected"] == 2
    # OR predicate → conservative (no bloom pruning, still exact)
    res3 = M.delete(
        t, (F.col("path") == "p300") | (F.col("v") == 400), properties=None
    )
    assert res3.summary["rows_affected"] == 2
    assert t.read().count() == 7995
    # read_where point lookup stays exact
    assert t.read_where(F.col("path") == F.lit("p500")).count() == 1


def test_mor_delete_bloom_scoping(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "m"))
    keys = spark.createDataFrame([("r3", "p10")], "repo string, path string")
    r1 = M.mor_delete_keys(t, keys, ["repo", "path"])
    assert r1.summary["files_skipped_by_bloom"] > 0
    assert r1.summary["rows_affected"] == 1
    df = t.read()
    assert df.count() == 3999
    assert df.where("path = 'p10'").count() == 0
    # re-inserted key after the DV delete survives
    t.append(spark.createDataFrame([("r3", "p10", 777)], SCHEMA))
    assert t.read().where("path = 'p10'").first()["v"] == 777


def test_bloom_sidecar_vacuum_lifecycle(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "v"), n=1000, buckets=2)
    snap = t.snapshot()
    refs = {m["bf"]["ref"] for m in snap.files.values() if m.get("bf")}
    assert refs
    # referenced sidecars survive vacuum
    t.vacuum(retain_versions=0, staging_grace_sec=0)
    for r in refs:
        assert t.store.read_bytes(r)
    # a full rewrite (compact) drops every old file; vacuum reclaims the
    # now-unreferenced sidecar blobs
    t.compact()
    t.vacuum(retain_versions=0, staging_grace_sec=0)
    import os

    for r in refs:
        assert not os.path.exists(os.path.join(t.root, r))
    # compact's own output re-bloomed (property persists across rewrites)
    snap2 = t.snapshot()
    assert all(m.get("bf") for m in snap2.files.values())


def test_bloom_meta_survives_checkpoint(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "cp"), n=500, buckets=2)
    # push past CHECKPOINT_EVERY commits so snapshot() replays from a
    # checkpoint, then verify bf meta still drives pruning
    for i in range(17):
        M.merge_into(
            t,
            spark.createDataFrame([(f"r{i % 7}", f"p{i}", 10_000 + i)], SCHEMA),
            on=["repo", "path"],
        )
    snap = t.snapshot()
    assert any(m.get("bf") for m in snap.files.values())
    res = M.delete(t, F.col("path") == F.lit("p3"))
    assert res.summary["files_candidates"] <= 2
    assert t.read().where("path='p3'").count() == 0


def test_blooms_on_object_store(spark, tmp_path):
    root = str(tmp_path / "os")
    store = FakeObjectStore(root)
    t = _mk(spark, root, n=1000, buckets=2, store=store)
    src = spark.createDataFrame([("r1", "p8", 999)], SCHEMA)
    res = M.merge_into(t, src, on=["repo", "path"])
    assert res.summary["files_skipped_by_bloom"] > 0
    assert t.read().where("path='p8'").first()["v"] == 999


def test_property_random_merges_match_bloomless_control(spark, tmp_path):
    # randomized differential: N rounds of random upsert/delete mixes must
    # leave the bloom table and the bloom-less control in identical states
    rng = np.random.default_rng(42)
    t = _mk(spark, str(tmp_path / "a"), n=2000, buckets=4)
    ctl = _mk(spark, str(tmp_path / "b"), n=2000, buckets=4, bloom=False)
    for round_ in range(4):
        ups = [
            (f"r{int(rng.integers(10))}", f"p{int(rng.integers(3000))}", int(rng.integers(1 << 30)))
            for _ in range(25)
        ]
        # key-unique source
        seen, rows = set(), []
        for k in ups:
            if (k[0], k[1]) not in seen:
                seen.add((k[0], k[1]))
                rows.append(k)
        src = spark.createDataFrame(rows, SCHEMA).withColumn(
            "op", F.when(F.col("v") % 5 == 0, F.lit("delete")).otherwise(F.lit("upsert"))
        )
        for tbl in (t, ctl):
            M.merge_into(
                tbl,
                src,
                on=["repo", "path"],
                when_matched_delete=F.col("s.op") == "delete",
                when_not_matched_insert=F.col("s.op") != "delete",
            )
    a = sorted(map(tuple, t.read().collect()))
    b = sorted(map(tuple, ctl.read().collect()))
    assert a == b


def test_enable_blooms_validates_columns(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "e"), SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    with pytest.raises(ValueError):
        t.enable_blooms(["nope"])


# ------------------------------------------------- r5 advice regressions
def test_cross_kind_source_keys_disable_pruning_not_correctness(spark, tmp_path):
    # ADVICE r4: a merge source whose key dtype differs in KIND from the
    # table's (string keys against a long column) hashes differently than
    # the build side — before the fix, a bloom false negative silently
    # skipped the matching file (lost update + duplicate insert). Now the
    # probe bails to no-pruning on any kind mismatch.
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "x"), schema, key_cols=["id"], num_buckets=2
    )
    t.enable_blooms()
    t.append(spark.createDataFrame([(i, i * 10) for i in range(200)], schema))
    # string-typed source keys: the merge's join still matches via implicit
    # cast, so the update MUST land
    src = spark.createDataFrame(
        [("7", 999), ("11", 999)], "id string, v long"
    )
    res = M.merge_into(t, src, on=["id"])
    assert res.summary["files_skipped_by_bloom"] == 0  # pruning bailed
    assert res.summary["rows_updated"] == 2
    assert res.summary["rows_inserted"] == 0
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows[7] == 999 and rows[11] == 999 and len(rows) == 200


def test_case_mismatched_source_key_names_still_probe(spark, tmp_path):
    # source columns arriving as REPO/PATH (resolved case-insensitively by
    # Spark) must not KeyError inside the probe's pdf[c] lookup
    t = _mk(spark, str(tmp_path / "cc"), n=1000, buckets=2)
    src = spark.createDataFrame(
        [("r1", "p8", 555)], "REPO string, PATH string, V long"
    )
    res = M.merge_into(t, src, on=["repo", "path"])
    assert res.summary["files_skipped_by_bloom"] > 0
    assert t.read().where("path='p8'").first()["v"] == 555


def test_nan_float_keys_disable_pruning_not_correctness(spark, tmp_path):
    # ADVICE r4: Arrow→pandas delivers null and NaN float slots both as
    # NaN, so the probe can't distinguish "matches nothing" (null) from
    # "matches NaN" (Spark NaN=NaN join semantics). Float kinds now bail
    # out of the distributed probe entirely; the merge stays exact.
    schema = T.StructType(
        [T.StructField("fk", T.DoubleType()), T.StructField("v", T.LongType())]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "f"), schema, key_cols=["fk"], num_buckets=2
    )
    t.enable_blooms()
    rows = [(float(i), i) for i in range(50)] + [(float("nan"), -1)]
    t.append(spark.createDataFrame(rows, schema))
    src = spark.createDataFrame([(float("nan"), 777)], schema)
    res = M.merge_into(t, src, on=["fk"])
    assert res.summary["files_skipped_by_bloom"] == 0  # float kind bails
    assert res.summary["rows_updated"] == 1  # NaN matched, not duplicated
    assert res.summary["rows_inserted"] == 0
    assert t.read().count() == 51


def test_corrupt_bloom_meta_degrades_to_no_pruning(spark, tmp_path):
    # ADVICE r4: a meta where m exceeds 8·n made might_contain index past
    # the buffer inside an executor, failing the merge job. Corrupt metas
    # must now degrade to conservative no-pruning.
    import json

    t = _mk(spark, str(tmp_path / "k"), n=1000, buckets=2)
    # hand-corrupt every bf meta in the newest log entry: double m
    import os

    log_rel = t._log_path(t.latest_version())
    entry = json.loads(t.store.read_bytes(log_rel))
    touched = 0
    for add in entry.get("add", []):
        for cm in (add.get("bf", {}).get("cols") or {}).values():
            cm["m"] = cm["m"] * 2  # now m//8 != n
            touched += 1
    assert touched > 0
    with open(os.path.join(t.root, log_rel), "w") as f:
        json.dump(entry, f)
    src = spark.createDataFrame([("r1", "p8", 999)], SCHEMA)
    res = M.merge_into(t, src, on=["repo", "path"])  # must not crash
    assert res.summary["files_skipped_by_bloom"] == 0
    assert t.read().where("path='p8'").first()["v"] == 999
