"""Traced runs: spans, Spark job groups, status-store counters, UDF profile.

Everything here wraps the program from outside. Each wrapper is installed
where callers look the name up (``merge_into`` is bound into
``cdc.engine`` at import, so it is patched there) and removed afterwards.

A traced run alternates traced and untraced epochs in one process (the
workload decides which), so ``trace.overhead_frac`` compares epochs on the
same warm JVM. Untraced epochs pass through the wrappers with a clock read.
"""

from __future__ import annotations

import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

from techtalk_data_pipeline_snowpark_spark.cdc import engine as cdc_engine
from techtalk_data_pipeline_snowpark_spark.cdc.engine import CdcEngine
from techtalk_data_pipeline_snowpark_spark.lake.store import PosixStore
from techtalk_data_pipeline_snowpark_spark.lake.table import LakeTable

UDF_NAME = "normalize_and_canonicalize"
PROFILER_CONF = "spark.sql.pyspark.udf.profiler"
STORE_OPS = (
    "put_if_absent", "read_bytes", "exists", "size", "list_dir", "walk_files",
    "finalize", "delete", "delete_dir", "ensure_dir", "is_dir", "newest_mtime",
)
GROUPS = ("cdc", "lake.merge", "lake.read")
STAGE_FIELDS = (
    "executorRunTime", "shuffleWriteBytes", "inputBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Span recorder and counter harvester for one process.

    ``decide(table_root, lsn_to)`` picks whether a top-level ``apply_epoch``
    call is traced; the workload supplies it."""

    def __init__(self, spark, decide):
        self.spark = spark
        self.sc = spark.sparkContext
        self.decide = decide
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.applies: list[dict] = []  # every top-level apply, traced or not
        self.counters = {g: Counter() for g in GROUPS}
        self._seen_jobs: set[int] = set()
        self._pending_stages: dict[int, str] = {}
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @property
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def active(self) -> bool:
        return bool(self._stack)

    @contextmanager
    def span(self, name: str, epoch=None):
        stack = self._stack
        parent = stack[-1] if stack else None
        s = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "epoch": epoch if epoch is not None else (parent or {}).get("epoch"),
            "start": time.perf_counter() - self.t0,
        }
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s["end"] = time.perf_counter() - self.t0

    @contextmanager
    def job_group(self, group: str):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # --------------------------------------------------------- wrappers
    def _patch(self, owner, name, make):
        orig = getattr(owner, name)
        self._patches.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def _spanned(self, name, group=None):
        tracer = self

        def make(orig):
            def wrapper(*a, **kw):
                if not tracer.active:
                    return orig(*a, **kw)
                with tracer.span(name):
                    if group is None:
                        return orig(*a, **kw)
                    with tracer.job_group(group):
                        return orig(*a, **kw)

            return wrapper

        return make

    def install(self):
        tracer = self

        def make_apply(orig):
            def apply_epoch(eng, events, lsn_from, lsn_to, *a, **kw):
                if getattr(tracer._local, "in_apply", False):
                    # OCC retry: apply_epoch calls itself
                    if not tracer.active:
                        return orig(eng, events, lsn_from, lsn_to, *a, **kw)
                    with tracer.span("cdc.apply_epoch"):
                        return orig(eng, events, lsn_from, lsn_to, *a, **kw)
                tracer._local.in_apply = True
                traced = tracer.decide(eng.table_root, lsn_to)
                rec = {"traced": traced, "lsn_to": lsn_to, "table": eng.table_root}
                rec["start"] = time.perf_counter() - tracer.t0
                try:
                    if not traced:
                        return orig(eng, events, lsn_from, lsn_to, *a, **kw)
                    tracer.spark.conf.set(PROFILER_CONF, "perf")
                    epoch = f"{eng.table_root}@{lsn_to}"
                    with tracer.span("cdc.apply_epoch", epoch=epoch):
                        with tracer.job_group("cdc"):
                            return orig(eng, events, lsn_from, lsn_to, *a, **kw)
                finally:
                    tracer._local.in_apply = False
                    rec["end"] = time.perf_counter() - tracer.t0
                    tracer.applies.append(rec)
                    if traced:
                        tracer.spark.conf.unset(PROFILER_CONF)
                        tracer.harvest()

            return apply_epoch

        self._patch(CdcEngine, "apply_epoch", make_apply)
        self._patch(cdc_engine, "merge_into", self._spanned("lake.merge_into", "lake.merge"))
        self._patch(LakeTable, "commit_rewrite", self._spanned("lake.commit_rewrite"))
        self._patch(LakeTable, "snapshot", self._spanned("lake.snapshot"))
        self._patch(LakeTable, "read_where", self._spanned("lake.read_where"))
        for op in STORE_OPS:
            self._patch(PosixStore, op, self._spanned(f"lake.store.{op}"))

    def uninstall(self):
        while self._patches:
            owner, name, orig = self._patches.pop()
            setattr(owner, name, orig)
        self.spark.conf.unset(PROFILER_CONF)

    @contextmanager
    def point_read(self):
        """A benchmark point read (read_where + collect) in group lake.read."""
        with self.span("bench.point_read"), self.job_group("lake.read"):
            yield

    # ------------------------------------------------- spark counters
    def harvest(self, final: bool = False):
        """Attribute finished stages to job groups. The listener bus is
        asynchronous, so stages not yet complete wait for the next call;
        ``final`` drains the bus first."""
        jsc = self.sc._jsc.sc()
        if final:
            jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for g in GROUPS:
            for j in tracker.getJobIdsForGroup(g):
                if j in self._seen_jobs:
                    continue
                info = tracker.getJobInfo(j)
                if info is None or info.status not in ("SUCCEEDED", "FAILED"):
                    continue
                self._seen_jobs.add(j)
                self.counters[g]["jobs"] += 1
                for sid in info.stageIds:
                    self._pending_stages.setdefault(sid, g)
        store = jsc.statusStore()
        for sid, g in list(self._pending_stages.items()):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j surfaces the JVM's
                # NoSuchElementException for a stage not yet posted
                if final:
                    del self._pending_stages[sid]
                continue
            status = sd.status().toString()
            if status in ("ACTIVE", "PENDING") and not final:
                continue
            del self._pending_stages[sid]
            for f in STAGE_FIELDS:
                self.counters[g][f] += int(getattr(sd, f)())

    def udf_seconds(self) -> float:
        """Cumulative profiled time of the fused Arrow transform."""
        total = 0.0
        for stats in self.spark._profiler_collector._perf_profile_results.values():
            for (_, _, fn), (_, _, _, ct, _) in stats.stats.items():
                if fn == UDF_NAME:
                    total += ct
        return total

    # ---------------------------------------------------------- derived
    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def nesting_ok(self) -> bool:
        by_id = {s["id"]: s for s in self.spans}
        selfs = self.self_times()
        for s in self.spans:
            p = by_id.get(s["parent"])
            if p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
                return False
            if selfs[s["id"]] < -1e-9:
                return False
        return True

    def spans_out(self) -> list[dict]:
        selfs = self.self_times()
        return [{**s, "self_s": selfs[s["id"]]} for s in self.spans]

    def layer_metrics(self, events: int, log_counts: dict, reads: list[float]) -> dict:
        """Per-layer metrics over the traced epochs.

        ``events``: events applied in traced epochs; ``log_counts``: file and
        row counts from the commit log of those epochs; ``reads``: point-read
        latencies (read_where plus collect)."""
        spans, by_id = self.spans, {s["id"]: s for s in self.spans}
        dur = lambda s: s["end"] - s["start"]  # noqa: E731
        top = [s for s in spans if s["name"] == "cdc.apply_epoch" and s["parent"] is None]
        n_ep = max(len(top), 1)
        ev = max(events, 1)
        in_epoch = [s for s in spans if s["epoch"] is not None]
        lake_top = [
            s for s in in_epoch
            if s["name"].startswith("lake.")
            and not by_id[s["parent"]]["name"].startswith("lake.")
        ]
        c, m, r = self.counters["cdc"], self.counters["lake.merge"], self.counters["lake.read"]
        merge_ms = m["executorRunTime"]
        udf_s = self.udf_seconds()
        # fan-out overlap: per grid step, summed table applies over the step's wall
        steps: dict[int, list] = {}
        for a in self.applies:
            steps.setdefault(a["lsn_to"], []).append(a)
        overlap = [
            sum(x["end"] - x["start"] for x in g)
            / (max(x["end"] for x in g) - min(x["start"] for x in g))
            for g in steps.values()
        ]
        traced_w = [a["end"] - a["start"] for a in self.applies if a["traced"]]
        plain_w = [a["end"] - a["start"] for a in self.applies if not a["traced"]]
        overhead = (median(traced_w) / median(plain_w) - 1.0) if plain_w else 0.0
        return {
            "cdc.apply_epoch_p50_s": (median([dur(s) for s in top]), "s"),
            "cdc.self_s_per_epoch": (
                (sum(dur(s) for s in top) - sum(dur(s) for s in lake_top)) / n_ep, "s"),
            "cdc.apply_calls_per_epoch": (
                sum(1 for s in spans if s["name"] == "cdc.apply_epoch") / n_ep, "count"),
            "cdc.spark_jobs_per_epoch": (c["jobs"] / n_ep, "count"),
            "cdc.exec_ms_per_event": (c["executorRunTime"] / ev, "ms/event"),
            "cdc.shuffle_bytes_per_event": (c["shuffleWriteBytes"] / ev, "B/event"),
            "cdc.fanout_overlap": (median(overlap), "ratio"),
            "cdc.route_input_bytes_per_event": (c["inputBytes"] / ev, "B/event"),
            "lake.merge_into_p50_s": (
                median([dur(s) for s in spans if s["name"] == "lake.merge_into"]), "s"),
            "lake.merge_exec_ms_per_event": (merge_ms / ev, "ms/event"),
            "lake.merge_shuffle_bytes_per_event": (m["shuffleWriteBytes"] / ev, "B/event"),
            "lake.merge_spill_bytes": (
                (m["memoryBytesSpilled"] + m["diskBytesSpilled"]) / n_ep, "B/epoch"),
            "lake.commit_rewrite_p50_s": (
                median([dur(s) for s in in_epoch if s["name"] == "lake.commit_rewrite"]), "s"),
            "lake.snapshot_calls_per_epoch": (
                sum(1 for s in in_epoch if s["name"] == "lake.snapshot") / n_ep, "count"),
            "lake.snapshot_s_per_epoch": (
                sum(dur(s) for s in in_epoch if s["name"] == "lake.snapshot") / n_ep, "s"),
            "lake.store_ops_per_epoch": (
                sum(1 for s in in_epoch if s["name"].startswith("lake.store.")) / n_ep,
                "count"),
            "lake.files_added_per_epoch": (log_counts["added"] / n_ep, "count"),
            "lake.files_removed_per_epoch": (log_counts["removed"] / n_ep, "count"),
            "lake.rows_rewritten_per_event": (log_counts["rows"] / ev, "rows/event"),
            "lake.live_files_end": (log_counts["live_files"], "count"),
            "lake.read_where_p50_s": (median(reads), "s"),
            "lake.read_input_bytes_per_read": (r["inputBytes"] / max(len(reads), 1), "B/read"),
            "functions.udf_s_per_event": (udf_s / ev, "s/event"),
            "functions.udf_share_of_merge_exec": (
                udf_s * 1000.0 / merge_ms if merge_ms else 0.0, "ratio"),
            "trace.overhead_frac": (overhead, "ratio"),
        }
