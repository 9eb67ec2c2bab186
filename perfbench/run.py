"""CDC engine benchmark: one workload per run, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (and writes its spans and UDF profile under
``.perfbench-out/``). The line before the result is a report with every
metric, its unit, tail percentiles with their sample counts, and the
error rate. See perfbench/README.md.
"""

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "tail", "fanout")
CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
PROBES_UNCOUNTED = 3  # host-speed probes before the timed section
PROBES = 5  # and after it
PROBE_REF_S = 0.25  # probe time on an unloaded host: see README "Host drift"


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str):
    """local[N] with N <= the usable cores, pinned partitions and driver
    memory; every scratch file of the JVM and Spark lands under ``work``."""
    from techtalk_data_pipeline_snowpark_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    cores = min(CORES, len(os.sched_getaffinity(0)))
    spark = get_spark(
        "perfbench", cores=cores, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def measure(spark, args, work, sizes):
    """Run one workload; returns (result line, report)."""
    import tracing
    import workloads
    from tracing import median

    run = workloads.Run(spark, args.workload, args.seed, args.seconds, work, T_PROCESS,
                        sizes)
    run.setup()
    for _ in range(PROBES_UNCOUNTED):  # its first runs are still warming
        run.probe(count=False)
    tracer = None
    if args.trace:
        tracer = run.tracer = tracing.Tracer(spark, run.traced)
        tracer.install()
    try:
        run.timed()
    finally:
        if tracer is not None:
            tracer.uninstall()
            tracer.harvest(final=True)
    for _ in range(PROBES):
        run.probe()
    host = median(run.probes) / PROBE_REF_S  # > 1: the host runs slower than the reference
    mism = run.check()

    reads = [r["latency"] for r in run.reads if "error" not in r]
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "epochs": run.n_epochs, "tables": len(run.tables), "events": run.events,
        "setup_parts_s": run.setup_parts, "probe_s": run.probes, "host_factor": host,
        "state_mismatches": mism, "errors": run.errors[:5],
        "error_rate": {"value": run.failed / max(run.attempted, 1), "unit": "fraction"},
    }
    if not args.trace:
        fig = run.commit_figures()
        lags = fig["lags"]
        raw = {
            "setup_s": (run.setup_s, "s"),
            "events_per_s": (run.events / run.busy, "events/s"),
            "lag_p50_s": (median(lags), "s"),
            "point_read_p50_s": (median(reads), "s"),
            "bytes_written_per_event": (fig["bytes"] / max(run.events, 1), "B/event"),
        }
        report["raw_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in raw.items()}
        # times at the reference host speed (rates scale the other way)
        scale = {"events_per_s": host, "bytes_written_per_event": 1.0}
        metrics = {k: (v * scale.get(k, 1 / host), u) for k, (v, u) in raw.items()}
        report["lag"] = workloads.summary(lags, "s")
        report["lag_each_s"] = lags
        report["point_read"] = workloads.summary(reads, "s")
        if args.workload == "tail":
            late = [ep["start"] - ep["due"] for ep in run.epochs]
            report["generator_late_s"] = {"p50": median(late), "max": max(late), "unit": "s"}
    else:
        traced = {(a["table"], a["lsn_to"]) for a in tracer.applies if a["traced"]}
        events = sum(run.events_in(root, lsn_to) for root, lsn_to in traced)
        fig = run.commit_figures(traced=traced)
        metrics = tracer.layer_metrics(events, fig["counts"], reads)
        report["spans_nest"] = tracer.nesting_ok()
        report["traced_epochs"] = sum(1 for a in tracer.applies if a["traced"])
        report["untraced_epochs"] = sum(1 for a in tracer.applies if not a["traced"])
        out = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}"
        with open(os.path.join(out, f"spans-{stem}.json"), "w") as f:
            json.dump(tracer.spans_out(), f)
        if spark._profiler_collector._perf_profile_results:
            spark.profile.dump(os.path.join(out, f"udf-{stem}"), type="perf")
        report["spans_file"] = os.path.relpath(os.path.join(out, f"spans-{stem}.json"), ROOT)
    as_json = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    report["metrics"] = as_json
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
              "metrics": as_json}
    return result, report


def main(argv=None) -> int:
    args = parse(argv)
    os.environ.pop("SPARK_GRAFT_TIMING", None)  # read by cdc.engine at import
    sys.path.insert(0, ROOT)
    import workloads  # fails here, before any output, without the engine sources

    sizes = workloads.SIZES[args.workload]
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work)
        result, report = measure(spark, args, work, sizes)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(report), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
