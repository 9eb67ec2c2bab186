"""Fuzz soak: run one randomized differential crash/resume scenario of the
test suite over many fresh seeds.

Usage: python scripts/fuzz_soak.py {replay|multitable} START COUNT

  replay      tests/test_fuzz_replay.py::test_fuzz_crash_resume_duplicate_delivery
  multitable  tests/test_fuzz_multitable.py::test_fuzz_multitable_crash_resume

Each seed calls the test function with a fresh ``tmp_path``. Prints one line
per seed (ok/FAIL) and a summary; exit 1 on any failure.
"""

import pathlib
import shutil
import sys
import tempfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tests"))
sys.path.insert(0, str(ROOT))

from techtalk_data_pipeline_snowpark_spark.session import get_spark  # noqa: E402

import test_fuzz_multitable  # noqa: E402
import test_fuzz_replay  # noqa: E402

SCENARIOS = {
    "replay": test_fuzz_replay.test_fuzz_crash_resume_duplicate_delivery,
    "multitable": test_fuzz_multitable.test_fuzz_multitable_crash_resume,
}


def main() -> int:
    if len(sys.argv) != 4 or sys.argv[1] not in SCENARIOS:
        print(__doc__, file=sys.stderr)
        return 2
    scenario = SCENARIOS[sys.argv[1]]
    start, count = int(sys.argv[2]), int(sys.argv[3])
    spark = get_spark("fuzz-soak", cores=8, extra_conf={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for seed in range(start, start + count):
        root = tempfile.mkdtemp(prefix=f"fuzz_soak_{seed}_")
        try:
            scenario(spark, pathlib.Path(root), seed)
            print(f"seed {seed}: ok", flush=True)
        except Exception as exc:  # noqa: BLE001 — report and continue the soak
            failures.append(seed)
            print(f"seed {seed}: FAIL {type(exc).__name__}: {exc}", flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print(f"soak done: {count - len(failures)}/{count} ok, failures={failures}", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
