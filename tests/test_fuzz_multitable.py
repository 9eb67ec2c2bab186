"""Randomized differential fuzz for the multi-table fan-out: random
interleaved two-table logs through random route configs with a crash that
strands tables at DIFFERENT watermarks, duplicate delivery by a fresh
engine, and resume under different epoch boundaries — each table's final
state must equal its pandas oracle exactly (the single-table fuzz layer
checks engine-internal interactions; this layer checks the fan-out's
per-table exactly-once composition on top)."""

import random

import pandas as pd
import pytest
from oracle import replay_oracle
from pyspark.sql import functions as F

from techtalk_data_pipeline_snowpark_spark.cdc import (
    MultiTableCdcEngine,
    TableRoute,
)
from techtalk_data_pipeline_snowpark_spark.fixtures.generators import change_events


def _rand_union_log(spark, rng, seed):
    n_files = rng.choice([900, 1600])
    n_users = rng.choice([300, 700])
    files = change_events(
        spark,
        n_files,
        n_repos=rng.choice([5, 15]),
        paths_per_repo=rng.choice([6, 11]),
        zipf_s=rng.choice([0.0, 1.4]),
        op_mix=rng.choice([(0.6, 0.3, 0.1), (0.3, 0.2, 0.5)]),
        seed=seed,
    ).select(
        (F.col("lsn") * 2 - 1).alias("lsn"),
        "op",
        F.lit("files").alias("tbl"),
        "repo",
        "path",
        "lang",
        "content",
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("double").alias("value"),
    )
    n_keys = rng.choice([25, 60])
    del_mod = rng.choice([9, 17])
    users = spark.range(n_users).select(
        ((F.col("id") + 1) * 2).alias("lsn"),
        F.when(F.col("id") % del_mod == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.lit("users").alias("tbl"),
        F.lit(None).cast("string").alias("repo"),
        F.lit(None).cast("string").alias("path"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
        (F.col("id") % n_keys).alias("user_id"),
        (F.col("id").cast("double") * 0.5).alias("value"),
    )
    return files.unionByName(users), n_files * 2 - 1


def _users_oracle(log) -> pd.DataFrame:
    ev = (
        log.where(F.col("tbl") == "users")
        .select("lsn", "op", "user_id", "value")
        .toPandas()
        .sort_values("lsn")
    )
    state = {}
    for rec in ev.to_dict("records"):
        if rec["op"] == "delete":
            state.pop(rec["user_id"], None)
        else:
            state[rec["user_id"]] = rec
    cols = ["user_id", "value", "lsn"]
    if not state:
        return pd.DataFrame(columns=cols)
    return (
        pd.DataFrame(list(state.values()))[cols]
        .sort_values("user_id")
        .reset_index(drop=True)
    )


def _files_oracle(log) -> pd.DataFrame:
    ev = (
        log.where(F.col("tbl") == "files")
        .select("lsn", "op", "repo", "path", "lang", "content")
        .withColumn("ts", F.lit(0))
        .toPandas()
    )
    return (
        replay_oracle(ev)
        .drop(columns=["ts"])
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("seed", [5, 19, 42])
def test_fuzz_multitable_crash_resume(spark, tmp_path, seed):
    rng = random.Random(seed)
    log, max_lsn = _rand_union_log(spark, rng, seed)
    routes = {
        "files": TableRoute(
            key_cols=("repo", "path"),
            columns=["repo", "path", "lang", "content"],
            num_buckets=rng.choice([4, 8]),
        ),
        "users": TableRoute(
            key_cols=("user_id",),
            columns=["user_id", "value"],
            num_buckets=rng.choice([2, 4]),
        ),
    }
    root = str(tmp_path / "mt")
    epoch_size = rng.choice([211, 387, 650])

    # phase 1: crash that strands tables at DIFFERENT watermarks — a
    # random prefix of epochs lands on a random subset of tables
    stop1 = rng.randint(max_lsn // 4, 3 * max_lsn // 4)
    mt = MultiTableCdcEngine(spark, root, routes)
    crash_tables = rng.sample(["files", "users"], rng.choice([1, 2]))
    for name in crash_tables:
        mt.engine(name).apply_epoch(mt.routed(log, name), 0, stop1)
    marks = mt.last_lsns()
    assert all(marks[n] == stop1 for n in crash_tables)

    # phase 2: duplicate delivery of the applied prefix — skips only the
    # tables that committed it, applies the rest (per-table exactly-once)
    dup = MultiTableCdcEngine(spark, root, routes).replay(
        log, max_lsn=stop1, epoch_size=epoch_size
    )
    for name in ("files", "users"):
        if name in crash_tables:
            assert all(r.skipped for r in dup[name])

    # phase 3: resume to the end under DIFFERENT epoch boundaries
    mt = MultiTableCdcEngine(spark, root, routes)
    mt.replay(log, epoch_size=rng.choice([303, 10**9]))

    files = (
        mt.read_state("files")
        .select("repo", "path", "lang", "content", "content_sha256", "lsn")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    fo = _files_oracle(log)
    cols = ["repo", "path", "lang", "content", "content_sha256", "lsn"]
    pd.testing.assert_frame_equal(files[cols], fo[cols], check_dtype=False)
    users = (
        mt.read_state("users")
        .select("user_id", "value", "lsn")
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(users, _users_oracle(log), check_dtype=False)

    # a final full re-replay changes nothing anywhere: every watermark is
    # at the log's max LSN, so no epoch is left to schedule
    assert set(mt.last_lsns().values()) == {max_lsn}
    versions = {n: mt.engine(n).table().latest_version() for n in mt.engines}
    again = MultiTableCdcEngine(spark, root, routes).replay(
        log, epoch_size=epoch_size
    )
    assert again == {"files": [], "users": []}
    assert versions == {n: mt.engine(n).table().latest_version() for n in mt.engines}
