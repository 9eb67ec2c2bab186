"""Toy-size smoke test of the benchmark: every metric named in BENCHMARK.json
is printed with its unit, and the oracle gate fails on a corrupted table.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import argparse
import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ.pop("SPARK_GRAFT_TIMING", None)

import run as bench  # noqa: E402
import workloads  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine  # noqa: E402
from techtalk_data_pipeline_snowpark_spark.lake import update  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SECONDS = 2  # toy sizes: 2 closed-loop epochs, 4 tail epochs


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = bench.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    bench.stop_spark(s)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_every_metric_printed_with_its_unit(spark, tmp_path, workload, trace):
    args = argparse.Namespace(workload=workload, seed=3, seconds=SECONDS, trace=trace)
    result, report = bench.measure(spark, args, str(tmp_path), workloads.TOY[workload])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert report["error_rate"] == {"value": 0.0, "unit": "fraction"}
    if trace:
        assert report["spans_nest"]
        assert report["traced_epochs"] > 0 and report["untraced_epochs"] > 0
        assert result["metrics"]["cdc.apply_calls_per_epoch"]["value"] == 1.0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        for k in ("lag", "point_read"):
            assert set(report[k]) == {"p50", "tail_pct", "tail", "n", "unit"}
        assert set(report["raw_metrics"]) == set(want)


def test_oracle_gate_fails_on_a_corrupted_table(spark, tmp_path):
    run = workloads.Run(spark, "backfill", 5, SECONDS, str(tmp_path), time.perf_counter(),
                        workloads.TOY["backfill"])
    run.setup()
    run.timed()
    table = CdcEngine(spark, run.tables["backfill"]).table()
    row = table.read().select("repo", "path").first()
    update(table, {"content_sha256": F.lit("0" * 64)},
           condition=(F.col("repo") == row.repo) & (F.col("path") == row.path))
    assert run.check() == {"backfill": 1}
    assert run.failed == 1
