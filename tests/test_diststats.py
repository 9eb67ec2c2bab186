"""Executor-side stats/bloom construction (lake/diststats.py): the
distributed pass must produce BIT-IDENTICAL zone maps and bloom bitsets to
the driver-threaded path, write its sidecar blobs through the TableStore,
and plug into pruning/merge exactly like the driver-built metadata."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.lake import diststats
from techtalk_data_pipeline_snowpark_spark.lake import merge as M
from techtalk_data_pipeline_snowpark_spark.lake.store import FakeObjectStore
from techtalk_data_pipeline_snowpark_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("v", T.LongType()),
    ]
)


def _rows(spark, n, lo=0):
    return spark.createDataFrame(
        [(f"r{i % 7}", f"p{i}", 1_000 + i, i) for i in range(lo, lo + n)], SCHEMA
    )


def _force(monkeypatch, distributed: bool):
    monkeypatch.setattr(diststats, "DIST_MIN_BYTES", 0 if distributed else 1 << 60)


def _mk(spark, root, store=None, bloom=True, n=4000):
    t = LakeTable.create(
        spark, root, SCHEMA, key_cols=["repo", "path"], num_buckets=4, store=store
    )
    if bloom:
        t.enable_blooms()
    t.append(_rows(spark, n))
    return t


def _file_metas(t):
    """{bucket-sorted per-file (rows, stats, bloom bitset bytes by col)}.

    Paths/refs are uuids and differ between builds; identity is the
    (bucket, stats) shape plus the exact bloom BYTES, which both paths must
    reproduce because they run the same normalization + hash pipeline."""
    snap = t.snapshot()
    out = []
    for p, meta in snap.files.items():
        bf = meta.get("bf")
        blooms = {}
        if bf:
            blob = t.store.read_bytes(bf["ref"])
            for c, cm in bf["cols"].items():
                blooms[c] = (
                    blob[cm["o"] : cm["o"] + cm["n"]],
                    cm["m"],
                    cm["k"],
                    cm["t"],
                )
        out.append((meta.get("bucket"), meta.get("rows"), meta.get("stats"), blooms))
    # paths/refs are per-build uuids: canonical identity is the full content
    # tuple, so sort by a stable serialization of it (bucket, rows, stats,
    # per-col bloom bytes) and compare as ordered lists
    return sorted(
        out,
        key=lambda e: (
            -1 if e[0] is None else e[0],
            -1 if e[1] is None else e[1],
            json.dumps(e[2], sort_keys=True, default=str),
            sorted((c, bytes(v[0])) for c, v in e[3].items()),
        ),
    )


def test_distributed_matches_driver_bit_for_bit(spark, tmp_path, monkeypatch):
    _force(monkeypatch, False)
    drv = _mk(spark, str(tmp_path / "drv"))
    _force(monkeypatch, True)
    dst = _mk(spark, str(tmp_path / "dst"))

    a, b = _file_metas(drv), _file_metas(dst)
    assert len(a) == len(b) and len(a) > 0
    # same layout ⇒ same per-file contents; sorted by (bucket, path) the
    # bucket/rows/stats triples must align. Bloom bytes compare per file.
    for (ba, ra, sa, fa), (bb, rb, sb, fb) in zip(a, b):
        assert (ba, ra) == (bb, rb)
        assert sa == sb
        assert set(fa) == set(fb) == {"repo", "path"}
        for c in fa:
            assert fa[c] == fb[c], f"bloom bitset mismatch on {c}"


def test_distributed_pass_survives_merge_and_pruning(spark, tmp_path, monkeypatch):
    _force(monkeypatch, True)
    t = _mk(spark, str(tmp_path / "t"))
    src = spark.createDataFrame(
        [(f"r{i % 7}", f"p{i}", 9_999, 10_000 + i) for i in range(0, 48, 7)], SCHEMA
    )
    res = M.merge_into(t, src, on=["repo", "path"])
    assert res.summary["files_skipped_by_bloom"] > 0
    got = t.read().where(F.col("path") == "p0").collect()
    assert len(got) == 1 and got[0]["v"] == 10_000
    # zone maps from the distributed pass drive the same DELETE pruning
    res = M.delete(t, F.col("ts") > 10_000_000)  # matches nothing
    assert res.summary["files_candidates"] == 0


def test_distributed_blobs_go_through_the_store(spark, tmp_path, monkeypatch):
    _force(monkeypatch, True)
    store = FakeObjectStore(str(tmp_path / "obj"))
    t = _mk(spark, str(tmp_path / "obj"), store=store)
    snap = t.snapshot()
    refs = {m["bf"]["ref"] for m in snap.files.values() if m.get("bf")}
    assert refs, "no bloom sidecars written"
    for r in refs:
        assert r.startswith("data/_bf/") and store.exists(r)


def test_threshold_routes_small_commits_to_driver(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(diststats, "DIST_MIN_BYTES", 1 << 60)
    t = _mk(spark, str(tmp_path / "small"), n=50)
    assert not diststats.should_distribute(
        t, [{"path": p} for p in t.snapshot().files]
    )
    monkeypatch.setattr(diststats, "DIST_MIN_BYTES", 1)
    assert diststats.should_distribute(
        t, [{"path": p} for p in t.snapshot().files]
    )


def test_job_failure_falls_back_to_driver_path(spark, tmp_path, monkeypatch):
    _force(monkeypatch, True)
    monkeypatch.setattr(
        diststats, "enrich_adds_distributed", lambda *a, **k: False
    )
    t = _mk(spark, str(tmp_path / "fb"), n=500)
    # driver fallback still produced full metadata
    for meta in t.snapshot().files.values():
        assert meta.get("rows") and meta.get("stats") and meta.get("bf")


def test_distributed_rows_feed_exists_and_counts(spark, tmp_path, monkeypatch):
    _force(monkeypatch, True)
    t = _mk(spark, str(tmp_path / "cnt"), n=1234)
    assert sum(m["rows"] for m in t.snapshot().files.values()) == 1234
