"""Multi-table CDC fan-out (cdc/multitable.py): one binlog-shaped stream
routed into several lake tables, each with its own key columns and
exactly-once watermark. The reference runs one stream per table
(IngestOrdersFromRawToFlat.scala / IngestRatingsFromRawToFlat.scala as
separate DAG nodes); a real binlog tail gets ONE stream and must route."""

import threading
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from techtalk_data_pipeline_snowpark_spark.cdc import (
    MultiTableCdcEngine,
    TableRoute,
)
from techtalk_data_pipeline_snowpark_spark.fixtures.generators import change_events
from techtalk_data_pipeline_snowpark_spark.plans import pushed_filters

from oracle import replay_oracle

N_FILES = 1500
N_USERS = 600


def _union_log(spark):
    """Interleaved two-table log in one union schema: 'files' events (the
    engine's flagship source-code shape) on odd LSNs, 'users' events on
    even LSNs. Irrelevant columns are null on the other table's rows —
    the standard multi-table capture shape."""
    files = change_events(spark, N_FILES, n_repos=12, paths_per_repo=9, seed=11)
    files = files.select(
        (F.col("lsn") * 2 - 1).alias("lsn"),
        "op",
        F.lit("files").alias("tbl"),
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
    )
    users = spark.range(N_USERS).select(
        ((F.col("id") + 1) * 2).alias("lsn"),
        F.when(F.col("id") % 17 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.lit("users").alias("tbl"),
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
        (F.col("id") % 40).alias("user_id"),
        F.concat(F.lit("type-"), (F.col("id") % 5).cast("string")).alias("event_type"),
        (F.col("id").cast("double") * 1.5).alias("value"),
    )
    return files.unionByName(users)


def _routes():
    return {
        "files": TableRoute(
            key_cols=("repo", "path"),
            columns=["repo", "path", "commit", "lang", "content"],
            num_buckets=8,
        ),
        "users": TableRoute(
            key_cols=("user_id",),
            columns=["user_id", "event_type", "value"],
            num_buckets=4,
        ),
    }


def _users_oracle(spark):
    """Pandas replay of the users sub-log: last op per user wins."""
    state = {}
    for i in range(N_USERS):
        uid = i % 40
        if i % 17 == 0:
            state.pop(uid, None)
        else:
            state[uid] = {
                "user_id": uid,
                "event_type": f"type-{i % 5}",
                "value": i * 1.5,
                "lsn": (i + 1) * 2,
            }
    return (
        pd.DataFrame(list(state.values()))
        .sort_values("user_id")
        .reset_index(drop=True)
    )


def _files_oracle(spark, log, tbl="files"):
    ev = (
        log.where(F.col("tbl") == tbl)
        .select("lsn", "op", "repo", "path", "commit", "lang", "content")
        .withColumn("ts", F.lit(0))
        .toPandas()
    )
    out = replay_oracle(ev)
    return out.drop(columns=["ts"]).sort_values(["repo", "path"]).reset_index(drop=True)


def test_two_table_replay_parity(spark, tmp_path):
    log = _union_log(spark)
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    results = mt.replay(log, epoch_size=1000)
    assert set(results) == {"files", "users"}
    assert all(not r.skipped for rs in results.values() for r in rs)

    files = (
        mt.read_state("files")
        .select("repo", "path", "commit", "lang", "content", "content_sha256", "lsn")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    fo = _files_oracle(spark, log)
    fo["lsn"] = fo["lsn"].astype("int64")
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256", "lsn"]
    pd.testing.assert_frame_equal(files[cols], fo[cols], check_dtype=False)

    users = (
        mt.read_state("users")
        .select("user_id", "event_type", "value", "lsn")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        users, _users_oracle(spark), check_dtype=False
    )
    # per-table watermarks land on the shared max LSN (files' top odd LSN)
    assert set(mt.last_lsns().values()) == {N_FILES * 2 - 1}
    # lineage records which logical table each manifest belongs to
    for name in ("files", "users"):
        mans = mt.engine(name).manifests()
        assert mans and all(m["lineage"]["table"] == name for m in mans)


def test_exactly_once_rerun_is_noop(spark, tmp_path):
    log = _union_log(spark)
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    mt.replay(log, epoch_size=1500)
    versions = {n: mt.engine(n).table().latest_version() for n in mt.engines}
    again = mt.replay(log, epoch_size=1500)
    # every watermark is at the log's max LSN, so no epoch is left to
    # schedule: no results at all, not even skips
    assert again == {"files": [], "users": []}
    assert versions == {n: mt.engine(n).table().latest_version() for n in mt.engines}


def test_crash_between_tables_resumes_per_table(spark, tmp_path):
    """A crash after table A committed an epoch but before table B did
    leaves watermarks split; the resumed replay must skip A's done epoch,
    apply B's, and converge both to the uninterrupted state."""
    log = _union_log(spark)
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    # simulate: epoch (0, 800] applied to files only, then crash
    mt.engine("files").apply_epoch(mt.routed(log, "files"), 0, 800)
    assert mt.last_lsns() == {"files": 800, "users": 0}

    results = mt.replay(log, epoch_size=800)
    assert results["files"][0].skipped and not results["users"][0].skipped
    assert not results["files"][1].skipped

    ref = MultiTableCdcEngine(spark, str(tmp_path / "ref"), _routes())
    ref.replay(log, epoch_size=800)
    for name in ("files", "users"):
        got = mt.read_state(name).toPandas()
        want = ref.read_state(name).toPandas()
        key = ["repo", "path"] if name == "files" else ["user_id"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)])


def _four_table_log(spark):
    """The two-table log twice over: files/users on odd LSNs, and the same
    events as files_b/users_b on even LSNs."""
    log = _union_log(spark)
    return log.withColumn("lsn", F.col("lsn") * 2 - 1).unionByName(
        log.withColumn("lsn", F.col("lsn") * 2).withColumn(
            "tbl", F.concat("tbl", F.lit("_b"))
        )
    )


def _four_routes():
    r = _routes()
    return {**r, "files_b": r["files"], "users_b": r["users"]}


def _assert_four_tables_exact(spark, mt, log):
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256", "lsn"]
    for name in ("files", "files_b"):
        got = (
            mt.read_state(name).select(*cols).toPandas()
            .sort_values(["repo", "path"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got, _files_oracle(spark, log, name)[cols], check_dtype=False
        )
    for name, odd in (("users", 1), ("users_b", 0)):
        got = (
            mt.read_state(name).select("user_id", "event_type", "value", "lsn")
            .toPandas().sort_values("user_id").reset_index(drop=True)
        )
        want = _users_oracle(spark)
        want["lsn"] = want["lsn"] * 2 - odd
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_fanout_applies_tables_concurrently(spark, tmp_path):
    """Every apply waits at a two-party barrier before it starts, so the
    replay finishes only if two applies of the same epoch are in flight
    together; a serial fan-out breaks the barrier on its first apply."""
    log = _four_table_log(spark)
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _four_routes())
    barrier = threading.Barrier(2, timeout=60)

    def gated(apply_epoch):
        def apply(*a, **kw):
            barrier.wait()
            return apply_epoch(*a, **kw)

        return apply

    for eng in mt.engines.values():
        eng.apply_epoch = gated(eng.apply_epoch)
    results = mt.replay(log, epoch_size=3000)
    assert all(
        len(rs) == 2 and not any(r.skipped for r in rs) for rs in results.values()
    )
    max_lsn = log.agg(F.max("lsn")).first()[0]
    assert set(mt.last_lsns().values()) == {max_lsn}
    _assert_four_tables_exact(spark, mt, log)


def test_fanout_failure_stops_replay_and_resumes(spark, tmp_path):
    """users and users_b fail in epoch 2 (users_b first in time, users
    first in route order). The replay raises users' error, nothing is
    committed past epoch 2, no worker thread survives, and a resumed
    replay skips exactly the tables whose epoch-2 commit landed."""
    log = _four_table_log(spark)
    root = str(tmp_path / "mt")
    epoch = 2000
    mt = MultiTableCdcEngine(spark, root, _four_routes())
    workers = set()

    def faulty(name, apply_epoch):
        def apply(events, lsn_from, lsn_to, **kw):
            workers.add(threading.current_thread())
            if lsn_from == epoch and name.startswith("users"):
                if name == "users":
                    time.sleep(0.5)
                raise RuntimeError(f"injected failure in {name}")
            return apply_epoch(events, lsn_from, lsn_to, **kw)

        return apply

    for name, eng in mt.engines.items():
        eng.apply_epoch = faulty(name, eng.apply_epoch)
    with pytest.raises(RuntimeError, match="injected failure in users$"):
        mt.replay(log, epoch_size=epoch)
    assert workers and threading.current_thread() not in workers
    assert not any(t.is_alive() for t in workers)
    marks = mt.last_lsns()
    assert marks["users"] == marks["users_b"] == epoch
    assert set(marks.values()) <= {epoch, 2 * epoch}
    for eng in mt.engines.values():
        assert max(m["lsn_to"] for m in eng.manifests()) <= 2 * epoch
    committed = {n for n, m in marks.items() if m == 2 * epoch}

    mt = MultiTableCdcEngine(spark, root, _four_routes())
    results = mt.replay(log, epoch_size=epoch)
    for name, rs in results.items():
        assert [r.lsn_to for r in rs] == [2 * epoch, 3 * epoch - 2]
        assert [r.skipped for r in rs] == [name in committed, False]
    _assert_four_tables_exact(spark, mt, log)


def test_new_route_bootstraps_without_rereading_existing(spark, tmp_path):
    """Adding a route later replays the retained log for the NEW table
    while existing tables skip through (no new versions)."""
    log = _union_log(spark)
    only_files = {"files": _routes()["files"]}
    mt1 = MultiTableCdcEngine(spark, str(tmp_path / "mt"), only_files)
    mt1.replay(log.where(F.col("tbl") == "files"), epoch_size=1200)
    v_files = mt1.engine("files").table().latest_version()

    mt2 = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    results = mt2.replay(log, epoch_size=1200)
    assert all(r.skipped for r in results["files"])
    assert not any(r.skipped for r in results["users"])
    assert mt2.engine("files").table().latest_version() == v_files
    users = (
        mt2.read_state("users")
        .select("user_id", "event_type", "value", "lsn")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(users, _users_oracle(spark), check_dtype=False)


def test_union_schema_does_not_leak_columns(spark, tmp_path):
    log = _union_log(spark)
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    mt.replay(log, epoch_size=3000)
    assert set(mt.read_state("users").columns) == {
        "user_id", "event_type", "value", "lsn",
    }
    # files carries the engine's derived sha256; users (no content) must not
    assert "content_sha256" in mt.read_state("files").columns


def test_unrouted_tables_reported_not_replayed(spark, tmp_path):
    log = _union_log(spark).unionByName(
        _union_log(spark)
        .limit(7)
        .withColumn("tbl", F.lit("audit_log"))
        .withColumn("lsn", F.col("lsn") + 1_000_000)
    )
    log = log.unionByName(
        _union_log(spark)
        .limit(3)
        .withColumn("tbl", F.lit(None).cast("string"))
        .withColumn("lsn", F.col("lsn") + 2_000_000)
    )
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    # NULL discriminators are malformed-but-reportable (a bare NOT-IN
    # would hide them); they sort last
    assert mt.unrouted_tables(log) == [("audit_log", 7), (None, 3)]
    mt.replay(log, epoch_size=2_000_000)
    users = mt.read_state("users").toPandas().sort_values("user_id")
    pd.testing.assert_frame_equal(
        users[["user_id", "event_type", "value", "lsn"]].reset_index(drop=True),
        _users_oracle(spark),
        check_dtype=False,
    )


def test_routing_predicates_reach_the_log_scan(spark, tmp_path):
    """Both the discriminator and the epoch LSN slice must push into the
    parquet scan of the log — at 10^10 events this is the difference
    between reading one table's slice and reading everything."""
    _union_log(spark).write.mode("overwrite").parquet(str(tmp_path / "log"))
    log = spark.read.parquet(str(tmp_path / "log"))
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    sliced = mt.routed(log, "users").where((F.col("lsn") > 0) & (F.col("lsn") <= 500))
    pushed = ",".join(pushed_filters(sliced))
    assert "tbl" in pushed and "lsn" in pushed


def test_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="at least one"):
        MultiTableCdcEngine(spark, str(tmp_path / "x"), {})
    with pytest.raises(ValueError, match="path-safe"):
        MultiTableCdcEngine(
            spark, str(tmp_path / "x"), {"a/b": TableRoute(key_cols=("k",))}
        )
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    with pytest.raises(ValueError, match="expects log columns"):
        mt.routed(_union_log(spark).drop("value"), "users")
    with pytest.raises(ValueError, match="no discriminator column"):
        mt.routed(_union_log(spark).drop("tbl"), "users")


def _land_waves(spark, log, events_dir, waves=4):
    from techtalk_data_pipeline_snowpark_spark.streaming.cdc_stream import (
        land_lsn_ordered,
    )

    land_lsn_ordered(log, events_dir, waves)


def test_stream_multitable_matches_batch(spark, tmp_path):
    from techtalk_data_pipeline_snowpark_spark.streaming.cdc_stream import (
        stream_replay_multitable,
    )

    log = _union_log(spark)
    events_dir = str(tmp_path / "ev")
    _land_waves(spark, log, events_dir)

    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    q = stream_replay_multitable(
        spark,
        events_dir,
        str(tmp_path / "ckpt"),
        mt,
        schema=log.schema,
        max_files_per_trigger=2,
    )
    q.awaitTermination()

    ref = MultiTableCdcEngine(spark, str(tmp_path / "ref"), _routes())
    ref.replay(log, epoch_size=1000)
    for name in ("files", "users"):
        key = ["repo", "path"] if name == "files" else ["user_id"]
        got = mt.read_state(name).toPandas().sort_values(key).reset_index(drop=True)
        want = ref.read_state(name).toPandas().sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)])
    # streaming lineage tags each table's manifests
    mans = mt.engine("users").manifests()
    assert mans and all(
        m["lineage"]["table"] == "users" and "streaming_batch_id" in m["lineage"]
        for m in mans
    )


def test_stream_multitable_redelivery_is_noop(spark, tmp_path):
    """A LOST CHECKPOINT redelivers every file; the per-table epoch
    manifests make the whole re-run zero new commits (exactly-once
    effects, per table)."""
    from techtalk_data_pipeline_snowpark_spark.streaming.cdc_stream import (
        stream_replay_multitable,
    )

    log = _union_log(spark)
    events_dir = str(tmp_path / "ev")
    _land_waves(spark, log, events_dir)
    mt = MultiTableCdcEngine(spark, str(tmp_path / "mt"), _routes())
    for ckpt in ("c1", "c2"):  # c2 = fresh checkpoint → full redelivery
        q = stream_replay_multitable(
            spark, events_dir, str(tmp_path / ckpt), mt, schema=log.schema
        )
        q.awaitTermination()
        if ckpt == "c1":
            versions = {n: mt.engine(n).table().latest_version() for n in mt.engines}
    assert versions == {n: mt.engine(n).table().latest_version() for n in mt.engines}


def test_route_schema_evolution_between_replays(spark, tmp_path):
    """Union-schema logs pin each route's payload columns, so a table's
    schema evolution = replaying with an UPDATED route column list; the
    per-table engine's reconcile pass (add/widen) does the rest. Phase-1
    survivors read back with a null new column, exactly like the
    single-table evolution contract."""
    log = _union_log(spark)
    p1_routes = {
        "users": TableRoute(key_cols=("user_id",),
                            columns=["user_id", "event_type"], num_buckets=4)
    }
    mt1 = MultiTableCdcEngine(spark, str(tmp_path / "mt"), p1_routes)
    mt1.replay(log, max_lsn=600, epoch_size=600)
    assert "value" not in mt1.read_state("users").columns

    p2_routes = {
        "users": TableRoute(key_cols=("user_id",),
                            columns=["user_id", "event_type", "value"],
                            num_buckets=4)
    }
    mt2 = MultiTableCdcEngine(spark, str(tmp_path / "mt"), p2_routes)
    mt2.replay(log, epoch_size=3000)
    got = (
        mt2.read_state("users")
        .select("user_id", "event_type", "value", "lsn")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = _users_oracle(spark).copy()
    # keys whose last event landed in phase 1 (lsn ≤ 600) predate the
    # value column: they must read back null there
    want.loc[want["lsn"] <= 600, "value"] = None
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
