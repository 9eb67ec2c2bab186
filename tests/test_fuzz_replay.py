"""Randomized differential replay: random event logs through random engine
configurations with crash/restart, duplicate delivery, and resume under
DIFFERENT epoch boundaries — final state must equal the pandas oracle
exactly, per seed. The targeted test_cdc_engine cases each pin one
guarantee; this fuzz layer checks their INTERACTIONS (e.g. a deletion-vector
all-delete epoch followed by a restart that re-slices epoch boundaries over
a bloom-enabled table)."""

import random

import pandas as pd
import pytest
from oracle import replay_oracle

from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine
from techtalk_data_pipeline_snowpark_spark.fixtures.generators import change_events


def _state(engine) -> pd.DataFrame:
    return (
        engine.read_state()
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def _assert_equal(engine_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame):
    assert len(engine_pdf) == len(oracle_pdf), (
        f"row count {len(engine_pdf)} != oracle {len(oracle_pdf)}"
    )
    cols = list(oracle_pdf.columns)
    e = engine_pdf[cols].reset_index(drop=True)
    o = oracle_pdf.reset_index(drop=True)
    for c in cols:
        ev, ov = e[c], o[c]
        if ev.dtype != object and ov.dtype != object:
            pd.testing.assert_series_equal(ev, ov.astype(ev.dtype), check_names=False)
        else:
            assert ev.fillna("∅").tolist() == ov.fillna("∅").tolist(), f"column {c}"


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_fuzz_crash_resume_duplicate_delivery(spark, tmp_path, seed):
    rng = random.Random(seed)
    n = rng.choice([1500, 2500])
    ev = change_events(
        spark,
        n,
        n_repos=rng.choice([5, 20]),
        paths_per_repo=rng.choice([5, 12]),
        zipf_s=rng.choice([0.0, 1.4]),
        op_mix=rng.choice([(0.6, 0.3, 0.1), (0.3, 0.2, 0.5)]),  # delete-heavy too
        seed=seed,
    )
    cfg = dict(
        num_buckets=rng.choice([4, 8]),
        bloom=rng.random() < 0.5,
    )
    if rng.random() < 0.34:
        cfg["audit_fn"] = lambda br, res: True  # WAP mode, audit passes
    maintenance = (
        {"compact_every": rng.choice([2, 3])} if rng.random() < 0.5 else {}
    )
    root = str(tmp_path / "t")
    epoch_size = rng.choice([197, 333, 512])

    # phase 1: crash mid-replay at a random watermark
    stop1 = rng.randint(n // 4, 3 * n // 4)
    CdcEngine(spark, root, **cfg).replay(
        ev, max_lsn=stop1, epoch_size=epoch_size, **maintenance
    )
    # phase 2: duplicate delivery of the already-applied range by a fresh
    # engine (a restarted / competing replayer) — must be a no-op
    dup = CdcEngine(spark, root, **cfg).replay(
        ev, max_lsn=stop1, epoch_size=epoch_size
    )
    assert all(r.skipped for r in dup)
    # phase 3: resume to the end with DIFFERENT epoch boundaries
    eng = CdcEngine(spark, root, **cfg)
    eng.replay(ev, epoch_size=rng.choice([251, 470, 10**9]), **maintenance)

    oracle = (
        replay_oracle(ev.toPandas())
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    _assert_equal(_state(eng), oracle)
    # a final full re-replay over the converged table changes nothing
    again = CdcEngine(spark, root, **cfg).replay(ev, epoch_size=epoch_size)
    assert all(r.skipped for r in again)
    _assert_equal(_state(eng), oracle)
