"""Fuzz soak: run the randomized differential replay scenario from
tests/test_fuzz_replay.py over many fresh seeds.

Usage: python scripts/fuzz_soak.py START COUNT
Prints one line per seed (ok/FAIL) and a summary; exit 1 on any failure.
"""

import random
import shutil
import sys
import tempfile

sys.path.insert(0, "tests")
sys.path.insert(0, ".")

from oracle import replay_oracle  # noqa: E402

from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine  # noqa: E402
from techtalk_data_pipeline_snowpark_spark.fixtures.generators import change_events  # noqa: E402
from techtalk_data_pipeline_snowpark_spark.session import get_spark  # noqa: E402

from test_fuzz_replay import _assert_equal, _state  # noqa: E402


def run_seed(spark, seed: int) -> None:
    rng = random.Random(seed)
    n = rng.choice([1500, 2500])
    ev = change_events(
        spark, n,
        n_repos=rng.choice([5, 20]),
        paths_per_repo=rng.choice([5, 12]),
        zipf_s=rng.choice([0.0, 1.4]),
        op_mix=rng.choice([(0.6, 0.3, 0.1), (0.3, 0.2, 0.5)]),
        seed=seed,
    )
    cfg = dict(
        num_buckets=rng.choice([4, 8]),
        bloom=rng.random() < 0.5,
    )
    if rng.random() < 0.34:
        cfg["audit_fn"] = lambda br, res: True
    maintenance = {"compact_every": rng.choice([2, 3])} if rng.random() < 0.5 else {}
    root = tempfile.mkdtemp(prefix=f"fuzz_soak_{seed}_")
    try:
        epoch_size = rng.choice([197, 333, 512])
        stop1 = rng.randint(n // 4, 3 * n // 4)
        CdcEngine(spark, root, **cfg).replay(
            ev, max_lsn=stop1, epoch_size=epoch_size, **maintenance
        )
        dup = CdcEngine(spark, root, **cfg).replay(ev, max_lsn=stop1, epoch_size=epoch_size)
        assert all(r.skipped for r in dup), "duplicate delivery applied something"
        eng = CdcEngine(spark, root, **cfg)
        eng.replay(ev, epoch_size=rng.choice([251, 470, 10**9]), **maintenance)
        oracle = replay_oracle(ev.toPandas()).sort_values(["repo", "path"]).reset_index(drop=True)
        _assert_equal(_state(eng), oracle)
        again = CdcEngine(spark, root, **cfg).replay(ev, epoch_size=epoch_size)
        assert all(r.skipped for r in again), "re-replay applied something"
        _assert_equal(_state(eng), oracle)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> int:
    start, count = int(sys.argv[1]), int(sys.argv[2])
    spark = get_spark("fuzz-soak", cores=8, extra_conf={"spark.driver.memory": "8g"})
    failures = []
    for seed in range(start, start + count):
        try:
            run_seed(spark, seed)
            print(f"seed {seed}: ok", flush=True)
        except Exception as exc:  # noqa: BLE001 — report and continue the soak
            failures.append(seed)
            print(f"seed {seed}: FAIL {type(exc).__name__}: {exc}", flush=True)
    print(f"soak done: {count - len(failures)}/{count} ok, failures={failures}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
