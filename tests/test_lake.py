"""LakeTable format: create/append/overwrite/read, atomic commits,
incremental scans, schema widening reads, vacuum."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.lake import (
    ConcurrentCommitError,
    LakeTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame([Row(repo=r, path=p, content=c) for r, p, c in rows], SCHEMA)


def test_create_append_read(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=4)
    assert t.read().count() == 0
    t.append(_df(spark, [("a/r", "f.py", "x"), ("b/r", "g.py", "y")]))
    t.append(_df(spark, [("c/r", "h.py", "z")]))
    got = {(r.repo, r.path, r.content) for r in t.read().collect()}
    assert got == {("a/r", "f.py", "x"), ("b/r", "g.py", "y"), ("c/r", "h.py", "z")}


def test_overwrite_and_versioned_read(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=4)
    t.append(_df(spark, [("a", "1", "old")]))
    v_before = t.latest_version()
    t.overwrite(_df(spark, [("a", "1", "new"), ("b", "2", "n2")]))
    assert t.read().count() == 2
    assert t.read(version=v_before).collect()[0].content == "old"


def test_incremental_scan_appends_only(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=4)
    t.append(_df(spark, [("a", "1", "x")]))
    v1 = t.latest_version()
    t.append(_df(spark, [("b", "2", "y"), ("c", "3", "z")]))
    inc = t.read_incremental(v1)
    assert {r.repo for r in inc.collect()} == {"b", "c"}
    t.overwrite(_df(spark, [("q", "9", "w")]))
    with pytest.raises(ValueError):
        t.read_incremental(v1).collect()


def test_atomic_commit_conflict(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    t.append(_df(spark, [("a", "1", "x")]))
    with pytest.raises(ConcurrentCommitError):
        t._commit({"operation": "append", "add": [], "remove": []}, expected_version=t.latest_version())


def test_schema_add_column_null_fill(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    t.append(_df(spark, [("a", "1", "x")]))
    wider = T.StructType(SCHEMA.fields + [T.StructField("license", T.StringType())])
    t.commit_rewrite([], [], "evolve-schema", schema=wider)
    rows = t.read().collect()
    assert rows[0].license is None
    df2 = spark.createDataFrame([("b", "2", "y", "mit")], wider)
    t.append(df2)
    got = {(r.repo, r.license) for r in t.read().collect()}
    assert got == {("a", None), ("b", "mit")}


def test_schema_widen_int_to_long(spark, tmp_table_root):
    s_int = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("size", T.IntegerType())]
    )
    t = LakeTable.create(spark, tmp_table_root, s_int, key_cols=["k"], num_buckets=2)
    t.append(spark.createDataFrame([("a", 1)], s_int))
    s_long = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("size", T.LongType())]
    )
    t.commit_rewrite([], [], "evolve-schema", schema=s_long)
    t.append(spark.createDataFrame([("b", 2**40)], s_long))
    got = dict((r.k, r.size) for r in t.read().collect())
    assert got == {"a": 1, "b": 2**40}
    assert dict(t.read().dtypes)["size"] == "bigint"


def test_vacuum_removes_orphans(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    t.append(_df(spark, [("a", "1", "x")]))
    # stage files without committing them → orphans
    t._stage_dataframe(_df(spark, [("z", "z", "z")]), SCHEMA, 2, ["repo", "path"])
    n = t.vacuum()
    assert n >= 1
    assert t.read().count() == 1


def test_bucket_pruning_metadata(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=8)
    t.append(_df(spark, [(f"r{i}", f"p{i}", "c") for i in range(50)]))
    snap = t.snapshot()
    buckets = {m["bucket"] for m in snap.files.values()}
    assert buckets <= set(range(8)) and len(buckets) > 1
    some = sorted(buckets)[:2]
    sub = t._read_files(snap.files_in_buckets(set(some)), snap.schema)
    from techtalk_data_pipeline_snowpark_spark.lake import bucket_expr

    got = sub.select(bucket_expr(["repo", "path"], 8).alias("b")).distinct().collect()
    assert {r.b for r in got} <= set(some)


def test_log_checkpoint_roundtrip(spark, tmp_table_root):
    """snapshot() must start from the newest checkpoint and agree exactly
    with a from-scratch log replay (checkpoints hidden)."""
    import glob
    import os

    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    for i in range(20):
        t.append(_df(spark, [(f"r{i}", f"p{i}", f"c{i}")]))
    cps = t._available_checkpoints()
    assert cps and all(v % 16 == 0 for v in cps)
    snap_cp = t.snapshot()
    # hide the checkpoints → force a full replay; states must be identical
    hidden = []
    for p in glob.glob(os.path.join(tmp_table_root, "_log", "*.checkpoint.json")):
        os.rename(p, p + ".hidden")
        hidden.append(p)
    try:
        snap_full = t.snapshot()
    finally:
        for p in hidden:
            os.rename(p + ".hidden", p)
    assert snap_cp.version == snap_full.version
    assert snap_cp.files == snap_full.files
    assert snap_cp.properties == snap_full.properties
    assert snap_cp.schema == snap_full.schema
    assert snap_cp.key_cols == snap_full.key_cols
    assert snap_cp.num_buckets == snap_full.num_buckets
    assert t.read().count() == 20
    # versioned read below the checkpoint still works
    assert t.snapshot(version=10).version == 10


def test_read_changelog_across_merge(spark, tmp_table_root):
    """Snapshot-diff changelog (r1 'named but not implemented'): a stream
    consumer interleaved with merges gets row-level changes with types."""
    from techtalk_data_pipeline_snowpark_spark.lake import merge_into

    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=4)
    t.append(_df(spark, [("a", "1", "v1"), ("b", "2", "v1"), ("c", "3", "v1")]))
    v_after_append = t.latest_version()
    src = _df(spark, [("a", "1", "v2"), ("d", "4", "v1"), ("b", "2", None)])
    merge_into(
        t, src, on=["repo", "path"],
        when_matched_update="all",
        when_matched_delete=F.col("s.content").isNull(),
    )
    ch = t.read_changelog(v_after_append).collect()
    got = {(r.repo, r.path, r.content, r._change_type) for r in ch}
    assert got == {
        ("a", "1", "v2", "update_postimage"),
        ("d", "4", "v1", "insert"),
        ("b", "2", "v1", "delete"),
    }
    # incremental row stream across the merge: inserted+updated post-images
    inc = t.read_incremental(v_after_append, on_rewrite="diff").collect()
    rows = {(r.repo, r.path, r.content) for r in inc}
    assert rows == {("a", "1", "v2"), ("d", "4", "v1")}
    # default contract still refuses silently-wrong append-only reads
    with pytest.raises(ValueError):
        t.read_incremental(v_after_append)
    # full-range changelog includes the initial appends as inserts
    all_ch = t.read_changelog(1)
    assert all_ch.where(F.col("_change_type") == "insert").count() >= 4


def test_staging_write_parallelism_exceeds_bucket_count(spark, tmp_table_root):
    """With more task slots than buckets, each bucket may get multiple
    files (salted split) — write parallelism is not capped at num_buckets;
    reads and bucket pruning are unaffected."""
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    rows = [(f"r{i}", f"p{i}", f"c{i}") for i in range(500)]
    t.append(_df(spark, rows))
    snap = t.snapshot()
    by_bucket = {}
    for p, m in snap.files.items():
        by_bucket.setdefault(m["bucket"], []).append(p)
    # session runs 8 shuffle partitions vs 2 buckets → expect >1 file/bucket
    assert any(len(v) > 1 for v in by_bucket.values()), by_bucket
    assert t.read().count() == 500
    got = {(r.repo, r.path, r.content) for r in t.read().collect()}
    assert got == set(rows)


def test_view_catalog_persists_and_reattaches(spark, tmp_table_root):
    """Persisted views (TopRestaurantsLast30Days.scala:38 parity): survive
    'session restart' (temp views dropped), resolve view-on-view
    dependencies regardless of registration order."""
    from techtalk_data_pipeline_snowpark_spark.lake import ViewCatalog

    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    t.append(_df(spark, [("r1", "a.py", "x"), ("r1", "b.py", "y"), ("r2", "c.py", "z")]))
    cat = ViewCatalog(spark, tmp_table_root)
    cat.attach(tables={"files": t})
    # view-on-view, created in dependency order
    cat.create_or_replace("r1_files", "SELECT * FROM files WHERE repo = 'r1'")
    cat.create_or_replace("r1_count", "SELECT count(*) AS n FROM r1_files")
    assert cat.table("r1_count").first().n == 2

    # simulate session restart: all temp views gone
    for v in ("files", "r1_files", "r1_count"):
        spark.catalog.dropTempView(v)
    order = ViewCatalog(spark, tmp_table_root).attach(tables={"files": t})
    assert set(order) == {"r1_files", "r1_count"}
    assert spark.table("r1_count").first().n == 2
    # definitions are inspectable; drop removes persistence
    assert "repo = 'r1'" in cat.definition("r1_files")
    assert cat.drop("r1_count")
    assert "r1_count" not in ViewCatalog(spark, tmp_table_root).names()


def test_compact_consolidates_files_invisible_to_changelog(spark, tmp_table_root):
    """OPTIMIZE: many small files → 1/bucket; rows unchanged; the compact
    commit is INVISIBLE to the changelog (snapshot diff cancels), and
    versioned reads before the compact still work until vacuumed."""
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    for i in range(6):
        t.append(_df(spark, [(f"r{i}", f"p{i}", f"c{i}"), (f"s{i}", f"q{i}", f"d{i}")]))
    v_before = t.latest_version()
    n_files_before = len(t.snapshot().files)
    assert n_files_before > 2
    res = t.compact()
    assert res.summary["files_compacted"] == n_files_before
    assert len(t.snapshot().files) <= 2  # one per bucket
    assert t.read().count() == 12
    # changelog across the compact: zero change rows
    assert t.read_changelog(v_before).count() == 0
    # incremental consumer with diff fallback also sees nothing
    assert t.read_incremental(v_before, on_rewrite="diff").count() == 0
    # DEFAULT-mode consumers keep working across a compact (row-invariant):
    # an OPTIMIZE must never wedge a stream consumer
    assert t.read_incremental(v_before).count() == 0
    # time travel to pre-compact still resolves (files retained)
    assert t.read(version=v_before).count() == 12
    # retention-aware vacuum: retaining the pre-compact version keeps its
    # files (time travel stays valid)...
    assert t.vacuum(retain_versions=1) == 0
    assert t.read(version=v_before).count() == 12
    # ...dropping retention removes the compacted-away small files
    removed = t.vacuum(retain_versions=0)
    assert removed > 0
    assert t.read().count() == 12
    # idempotent compact: second call is a no-op commit-free result
    assert t.compact().summary["files_compacted"] == 0


def test_vacuum_metadata_bounds_log_listing(spark, tmp_table_root):
    """A long CDC tail accumulates log entries + checkpoints forever;
    vacuum_metadata prunes everything older than the newest checkpoint at
    or below the retained horizon, keeping every retained snapshot
    reconstructible."""
    import os

    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    t.append(_df(spark, [("a", "1", "x"), ("b", "2", "y")]))
    for i in range(200):  # metadata-only commits, like empty epochs
        t.commit_rewrite([], [], "cdc-epoch", properties={"cdc.last_lsn": str(i)})
    log_dir = os.path.join(tmp_table_root, "_log")
    assert len(os.listdir(log_dir)) > 200
    removed = t.vacuum_metadata(retain_versions=0)
    assert removed > 150
    left = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    assert len(left) <= 2 * 16 + 2  # ≤ one checkpoint interval of logs + cps
    # table still fully functional: snapshot, read, properties, new commits
    snap = t.snapshot()
    assert snap.properties["cdc.last_lsn"] == "199"
    assert t.read().count() == 2
    assert len(t.history()) == len([e for e in left if ".checkpoint." not in e])
    t.append(_df(spark, [("c", "3", "z")]))
    assert t.read().count() == 3
    # expired versions raise instead of silently mis-replaying
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.snapshot(2)


def test_vacuum_metadata_noop_before_first_checkpoint(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2)
    t.append(_df(spark, [("a", "1", "x")]))
    assert t.vacuum_metadata() == 0  # nothing to replay from — keep all
    assert t.read().count() == 1


def test_concurrent_merge_vs_delete_serializable(spark, tmp_table_root):
    """Two DIFFERENT writers (a MERGE and a DELETE) race on one table.

    Optimistic version pinning must serialize them: exactly one wins each
    commit slot, the loser retries against the fresh snapshot, and the
    final table equals applying the two operations sequentially in the
    observed commit order. (The CDC replayer race is covered in
    test_cdc_engine; this is the generic heterogeneous-writer contract.)
    """
    import threading

    from techtalk_data_pipeline_snowpark_spark.lake import merge_into
    from techtalk_data_pipeline_snowpark_spark.lake.merge import delete as lake_delete

    seed = [(f"r{i}", "f.py", "v0") for i in range(40)]

    def make_table(root):
        t = LakeTable.create(spark, root, SCHEMA, key_cols=["repo", "path"], num_buckets=4)
        t.append(_df(spark, seed))
        return t

    def do_merge(t):
        # update r0..r9, insert n0..n9
        src = _df(spark, [(f"r{i}", "f.py", "merged") for i in range(10)]
                  + [(f"n{i}", "f.py", "new") for i in range(10)])
        return merge_into(t, src, on=["repo", "path"], properties={"writer": "merge"})

    def do_delete(t):
        # overlaps the merge's update set (r5..r14) → order-dependent result
        return lake_delete(
            t, F.col("repo").isin([f"r{i}" for i in range(5, 15)]),
            properties={"writer": "delete"},
        )

    t_live = make_table(tmp_table_root + "/live")
    errors, retries = [], {"merge": 0, "delete": 0}

    def run(name, op):
        for _ in range(5):
            try:
                op(t_live)
                return
            except ConcurrentCommitError:
                retries[name] += 1
        errors.append(name)

    threads = [
        threading.Thread(target=run, args=("merge", do_merge)),
        threading.Thread(target=run, args=("delete", do_delete)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"writer never committed: {errors}"

    # observed serialization order from the log (history() is newest-first
    # per the DESCRIBE HISTORY convention — reverse to commit order)
    order = [e["properties"]["writer"] for e in reversed(t_live.history())
             if e.get("properties", {}).get("writer")]
    assert sorted(order) == ["delete", "merge"]  # both committed exactly once

    # replay the same two ops serially in that order on a fresh table
    t_ref = make_table(tmp_table_root + "/ref")
    for w in order:
        (do_merge if w == "merge" else do_delete)(t_ref)

    live = {(r.repo, r.path, r.content) for r in t_live.read().collect()}
    ref = {(r.repo, r.path, r.content) for r in t_ref.read().collect()}
    assert live == ref
    # sanity: the two orders genuinely differ on the overlap (r5..r9), so
    # the equality above is a real serializability check, not a tautology
    merged_overlap = {c for (r, _, c) in live if r in {f"r{i}" for i in range(5, 10)}}
    if order == ["merge", "delete"]:
        assert merged_overlap == set()
    else:
        assert merged_overlap == {"merged"}


def test_clustered_compact_prunes_nonkey_predicates(spark, tmp_table_root):
    """compact(sort_by=...) clusters rows on a NON-key column and slices
    each bucket into range-disjoint files, so the zone maps start pruning
    predicates the hash-bucketed layout could never skip on. Before: every
    file spans the full value range → zero skipping power. After: a narrow
    range predicate survives in ≤1 file per bucket."""
    from techtalk_data_pipeline_snowpark_spark.lake.stats import prune_files

    schema = T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    t = LakeTable.create(
        spark, tmp_table_root, schema, key_cols=["repo", "path"], num_buckets=2
    )
    # four appends, EACH spanning the full v range: hash-bucketed files all
    # carry min≈0/max≈199, so min/max stats cannot skip anything
    for i in range(4):
        t.append(
            spark.range(200).select(
                F.concat(F.lit(f"r{i}_"), F.col("id")).alias("repo"),
                F.lit("p").alias("path"),
                F.col("id").alias("v"),
            )
        )
    cond = (F.col("v") >= 10) & (F.col("v") < 20)
    snap = t.snapshot()
    # pre-clustering the layout has (almost) no skipping power: the salt
    # split can shave a few lucky small files, but most must be scanned
    assert len(prune_files(snap.files, cond)) >= len(snap.files) - 4
    assert len(snap.files) >= 8

    res = t.compact(max_files_per_bucket=4, sort_by=["v"])
    assert res.summary["clustered_by"] == ["v"]
    snap2 = t.snapshot()
    # layout: still bucketed (≤4 files per bucket), rows unchanged
    per_bucket: dict[int, int] = {}
    for m in snap2.files.values():
        per_bucket[m["bucket"]] = per_bucket.get(m["bucket"], 0) + 1
    assert set(per_bucket) == {0, 1}
    assert all(n <= 4 for n in per_bucket.values())
    assert t.read().count() == 800

    # pruning now bites: the narrow range overlaps ≤1 file per bucket
    candidates = prune_files(snap2.files, cond)
    assert len(candidates) <= 2, candidates
    # and the pruned read is still exactly right
    got = sorted(r.v for r in t.read_where(cond).collect())
    assert got == sorted([v for v in range(10, 20)] * 4)


def test_clustered_compact_unbucketed(spark, tmp_table_root):
    """Unbucketed tables cluster too: a global range shuffle to the file
    target gives range-disjoint files; reads stay exact."""
    from techtalk_data_pipeline_snowpark_spark.lake.stats import prune_files

    schema = T.StructType([T.StructField("v", T.LongType())])
    t = LakeTable.create(spark, tmp_table_root, schema)
    for _ in range(3):
        t.append(spark.range(300).select(F.col("id").alias("v")))
    t.compact(max_files_per_bucket=3, sort_by=["v"])
    snap = t.snapshot()
    assert len(snap.files) <= 3
    cond = F.col("v") == 7
    assert len(prune_files(snap.files, cond)) == 1
    assert t.read_where(cond).count() == 3
    assert t.read().count() == 900


def test_rebucket_evolves_bucket_count(spark, tmp_table_root):
    """Partition-spec evolution: a table sized at 2 buckets widens to 8 in
    one atomic rewrite commit. Rows unchanged; changelog/incremental see
    nothing; time travel before the rebucket keeps the OLD layout; merges
    after it prune against the new count."""
    from techtalk_data_pipeline_snowpark_spark.lake import merge_into

    t = LakeTable.create(
        spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    t.append(_df(spark, [(f"r{i}", f"p{i}", f"c{i}") for i in range(40)]))
    v_before = t.latest_version()
    assert t.snapshot().num_buckets == 2

    res = t.rebucket(8)
    assert res.summary["rebucketed"] is True
    snap = t.snapshot()
    assert snap.num_buckets == 8
    assert {m["bucket"] for m in snap.files.values()} <= set(range(8))
    assert len({m["bucket"] for m in snap.files.values()}) > 2
    assert t.read().count() == 40

    # row-invariant: invisible to changelog and incremental consumers
    assert t.read_changelog(v_before).count() == 0
    assert t.read_incremental(v_before).count() == 0

    # time travel BEFORE the rebucket resolves with the old layout
    old = t.snapshot(v_before)
    assert old.num_buckets == 2
    assert t.read(version=v_before).count() == 40

    # a merge after the rebucket prunes against the NEW count and lands
    src = _df(spark, [("r1", "p1", "UPDATED"), ("zz", "zz", "NEW")])
    merge_into(t, src, on=["repo", "path"], when_matched_update="all")
    got = {(r.repo, r.content) for r in t.read().collect()}
    assert ("r1", "UPDATED") in got and ("zz", "NEW") in got
    assert t.read().count() == 41

    # no-op path and guard rails
    assert t.rebucket(8).summary == {"rebucketed": False}
    with pytest.raises(ValueError):
        t.rebucket(0)


def test_rebucket_requires_keys(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, SCHEMA)
    t.append(_df(spark, [("a", "b", "c")]))
    with pytest.raises(ValueError):
        t.rebucket(4)


def test_bucket_layout_trust_rules(spark):
    """Unstamped (pre-normalization) tables are trusted only when no key
    column is numeric — string keys hash identically under both layouts;
    numeric keys would mis-prune, so callers must fall back to full scans."""
    from techtalk_data_pipeline_snowpark_spark.lake.table import (
        BUCKET_HASH_V2,
        PROP_BUCKET_HASH,
        Snapshot,
        bucket_layout_trusted,
    )

    str_schema = T.StructType([T.StructField("k", T.StringType())])
    int_schema = T.StructType([T.StructField("k", T.IntegerType())])

    def snap(schema, props):
        return Snapshot(1, schema, {}, ["k"], 4, props)

    assert bucket_layout_trusted(snap(str_schema, {}))          # strings safe
    assert not bucket_layout_trusted(snap(int_schema, {}))      # numeric unsafe
    assert bucket_layout_trusted(snap(int_schema, {PROP_BUCKET_HASH: BUCKET_HASH_V2}))


def test_vacuum_reclaims_crash_leaked_staging_dirs(spark, tmp_table_root):
    """A writer killed between stage and commit leaks its whole
    .staging-*/ dir (it lives OUTSIDE data/, which vacuum walks) —
    review finding. Vacuum removes staging dirs older than the grace
    period without touching a live writer's fresh staging."""
    import os
    import time

    t = LakeTable.create(
        spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    t.append(_df(spark, [("a", "1", "x")]))
    # simulate three crashed writers (data / dv stages, and an edv stage
    # an earlier release leaked), backdated
    old = time.time() - 100_000
    for name in (".staging-deadbeef", ".staging-dv-deadbeef", ".staging-edv-deadbeef"):
        d = os.path.join(tmp_table_root, name, "_b=0")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(b"orphan")
        for p in (d, os.path.join(tmp_table_root, name)):
            os.utime(p, (old, old))
        os.utime(os.path.join(d, "part-0.parquet"), (old, old))
    # and one LIVE writer mid-stage (fresh mtime) — must survive
    live = os.path.join(tmp_table_root, ".staging-live0001")
    os.makedirs(live)
    with open(os.path.join(live, "part-0.parquet"), "wb") as f:
        f.write(b"inflight")

    n = t.vacuum(staging_grace_sec=3600)
    assert n == 3
    left = {e for e in os.listdir(tmp_table_root) if e.startswith(".staging-")}
    assert left == {".staging-live0001"}
    assert t.read().count() == 1  # committed data untouched
    # after the grace elapses the abandoned one goes too
    assert t.vacuum(staging_grace_sec=-1) == 1
    assert not any(
        e.startswith(".staging-") for e in os.listdir(tmp_table_root)
    )


def test_bin_pack_compact_leaves_target_files_alone(spark, tmp_table_root):
    """Size-policy maintenance: files at/over the row target are NOT
    rewritten (their paths survive the commit verbatim — the write-
    amplification guarantee), sub-target files merge, rows are invariant
    and the changelog sees nothing."""
    t = LakeTable.create(
        spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    # a big base: 400 rows → consolidate to 1 file/bucket (~200 rows each)
    base = [(f"r{i}", f"p{i}", f"c{i}") for i in range(400)]
    t.append(spark.createDataFrame(base, SCHEMA))
    t.compact()
    big_files = set(t.snapshot().files)
    assert len(big_files) == 2
    # a small-file tail: 5 appends of 4 rows
    for i in range(5):
        t.append(_df(spark, [(f"s{i}{j}", f"q{i}{j}", "x") for j in range(4)]))
    v_before = t.latest_version()
    assert len(t.snapshot().files) > len(big_files)

    res = t.compact(bin_pack_rows=100)
    snap = t.snapshot()
    # the 100+-row files were untouched — identical paths still referenced
    assert big_files <= set(snap.files)
    assert res.summary["bin_pack_rows"] == 100
    # smalls merged: at most one merged file per bucket joins the two bigs
    assert len(snap.files) <= len(big_files) + 2
    assert t.read().count() == 420
    assert t.read_changelog(v_before).count() == 0
    # steady state: nothing under target but the merged smalls themselves;
    # a second pass with a single sub-target file per bucket is a no-op
    assert t.compact(bin_pack_rows=100).summary["files_compacted"] == 0
    # count-policy interplay is refused only for clustering
    with pytest.raises(ValueError):
        t.compact(bin_pack_rows=100, sort_by=["content"])


def test_bin_pack_compact_absorbs_tombstones_whatever_the_size(spark, tmp_table_root):
    """A file carrying DV refs is rewritten even when it
    is over the size target — bin-packing must still absorb tombstones."""
    from techtalk_data_pipeline_snowpark_spark.lake.merge import delete

    t = LakeTable.create(
        spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    t.append(spark.createDataFrame(
        [(f"r{i}", f"p{i}", f"c{i}") for i in range(300)], SCHEMA
    ))
    t.compact()
    delete(t, F.col("repo") == "r7", mode="mor")
    assert any((m or {}).get("dv") for m in t.snapshot().files.values())

    res = t.compact(bin_pack_rows=10)  # every file is over-target
    assert res.summary["files_compacted"] >= 1
    snap = t.snapshot()
    assert not any((m or {}).get("dv") for m in snap.files.values())
    assert t.read().count() == 299
    got = {r.repo for r in t.read().collect()}
    assert "r7" not in got and "r8" in got


def test_bin_pack_compact_unbucketed(spark, tmp_table_root):
    """Unbucketed tables bin-pack too: sub-target files merge, the
    at-target file survives in place."""
    t = LakeTable.create(spark, tmp_table_root, SCHEMA)
    t.append(spark.createDataFrame(
        [(f"r{i}", f"p{i}", "c") for i in range(200)], SCHEMA
    ))
    t.compact()
    big = set(t.snapshot().files)
    for i in range(4):
        t.append(_df(spark, [(f"s{i}", f"q{i}", "x")]))
    res = t.compact(bin_pack_rows=50)
    snap = t.snapshot()
    assert big <= set(snap.files)
    assert res.summary["files_compacted"] >= 4  # tiny appends may span parts
    assert len(snap.files) == len(big) + 1
    assert t.read().count() == 204
