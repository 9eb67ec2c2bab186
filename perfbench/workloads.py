"""The benchmark's three workloads, driven through the public API.

Every workload: generate its log from the seed, warm the JVM with a replay
through the same path on a separate table, run the timed section over a
fixed epoch grid, then, outside the timed section, read the figures from
the commit log and check every point read and the final state against the
oracle.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
import traceback
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine, MultiTableCdcEngine, TableRoute
from techtalk_data_pipeline_snowpark_spark.fixtures.generators import change_events

import oracle

TABLES = ("t0", "t1", "t2", "t3")
NUM_BUCKETS = 8
PROBE_SLACK_S = 1.5  # the tail probes only when this much idle time is left
PAYLOAD = ["repo", "path", "commit", "lang", "content", "ts"]


@dataclass(frozen=True)
class Sizes:
    """Event counts; the epoch grid is fixed by these and ``--seconds``."""

    keys: int  # n_repos * paths_per_repo of the generator
    warm_events: int  # warm-up replay, two epochs
    epoch_events: int  # backfill / fanout epoch, tail epoch
    epoch_s: float  # closed loops: expected seconds per epoch; tail: period
    preload_events: int = 0  # tail only
    reads: int = 24  # point reads (tail: per epoch)


SIZES = {
    "backfill": Sizes(keys=24_000, warm_events=1_000, epoch_events=16_000, epoch_s=3.0),
    "tail": Sizes(keys=8_000, warm_events=1_000, epoch_events=100, epoch_s=5.0,
                  preload_events=3_000, reads=3),
    "fanout": Sizes(keys=24_000, warm_events=1_000, epoch_events=10_000, epoch_s=7.5),
}
TOY = {
    "backfill": Sizes(keys=400, warm_events=400, epoch_events=300, epoch_s=1.0, reads=4),
    "tail": Sizes(keys=400, warm_events=400, epoch_events=50, epoch_s=1.0,
                  preload_events=400, reads=2),
    "fanout": Sizes(keys=400, warm_events=400, epoch_events=400, epoch_s=1.0, reads=4),
}


def write_log(spark, path: str, n: int, seed: int, keys: int, fanout: bool):
    """Zipf-skewed 60/30/10 log with a 1% duplicate-delivery rate; the
    fan-out log routes each repo (so each key) to one of four tables."""
    df = change_events(
        spark, n, n_repos=max(keys // 400, 1), paths_per_repo=min(keys, 400),
        zipf_s=1.2, dup_delivery_rate=0.01, seed=seed,
    )
    if fanout:
        tbl = F.concat(F.lit("t"), F.pmod(F.xxhash64("repo"), F.lit(len(TABLES))).cast("string"))
        df = df.withColumn("tbl", tbl)
    df.write.parquet(path)
    return spark.read.parquet(path)


def probe(spark, work: str, i: int) -> float:
    """Seconds for a fixed small Spark job that runs no engine code (write,
    read back, join, aggregate): how fast the host runs at this moment."""
    t = time.perf_counter()
    df = spark.range(40_000).select(
        F.col("id"), (F.col("id") % 97).alias("k"),
        F.sha2(F.concat_ws("|", F.col("id"), F.lit("probe")), 256).alias("h"))
    path = os.path.join(work, f"probe-{i}")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    back.join(df.select("id", F.col("h").alias("h2")), "id").groupBy("k").agg(
        F.max("h"), F.count(F.lit(1))).collect()
    return time.perf_counter() - t


def routes() -> dict:
    return {t: TableRoute(key_cols=("repo", "path"), columns=PAYLOAD, num_buckets=NUM_BUCKETS)
            for t in TABLES}


class Run:
    """One workload run: setup, timed section, and the checks after it."""

    def __init__(self, spark, name, seed, seconds, work, t_process, sizes):
        self.spark, self.name, self.seed, self.seconds = spark, name, seed, seconds
        self.work, self.t_process, self.sz = work, t_process, sizes
        self.tracer = None  # set for a traced run
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.epochs: list[dict] = []  # tail: {lsn_to, due, start, end}
        self.reads: list[dict] = []  # {table, key, after, latency, rows | error}
        self.tables: dict[str, str] = {}  # table name -> root of the timed tables
        self.v0: dict[str, int] = {}  # table name -> last version before timing
        self.probes: list[float] = []  # host-speed probe times, see probe()

    # ------------------------------------------------------------ helpers
    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str):
        self.failed += 1
        self.errors.append(what)

    def engine(self, root: str) -> CdcEngine:
        return CdcEngine(self.spark, root, num_buckets=NUM_BUCKETS)

    def traced(self, root: str, lsn_to: int) -> bool:
        """Which applies a traced run traces: untraced-traced-traced-untraced
        over the epoch grid, and on fanout a checkerboard over (epoch, table)
        so every epoch has traced and untraced tables alike."""
        k = (lsn_to - self.first_lsn) // self.sz.epoch_events - 1
        if self.name == "fanout":
            return (k + TABLES.index(os.path.basename(root))) % 2 == 1
        return k % 4 in (1, 2)

    def events_in(self, root: str, lsn_to: int) -> int:
        """Log events one table received in the epoch ending at ``lsn_to``."""
        ev = self.log_df
        m = (ev.lsn > lsn_to - self.sz.epoch_events) & (ev.lsn <= lsn_to)
        if self.name == "fanout":
            m &= ev.tbl == os.path.basename(root)
        return int(m.sum())

    def probe(self, count: bool = True):
        self._n_probe = getattr(self, "_n_probe", 0) + 1
        t = probe(self.spark, self.work, self._n_probe)
        if count:
            self.probes.append(t)

    def point_read(self, table_name: str, root: str, key: tuple, after: int):
        self.attempted += 1
        cond = (F.col("repo") == key[0]) & (F.col("path") == key[1])
        rec = {"table": table_name, "key": key, "after": after}
        t = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.point_read():
                    rows = self._read(root, cond)
            else:
                rows = self._read(root, cond)
            rec["rows"] = [tuple(r) for r in rows]
        except Exception:  # noqa: BLE001 — a failed read is counted, not fatal
            rec["error"] = traceback.format_exc()
        rec["latency"] = time.perf_counter() - t
        self.reads.append(rec)

    def _read(self, root, cond):
        t = CdcEngine(self.spark, root).table()
        return t.read_where(cond).select("lsn", "lang", "content_sha256").collect()

    def warm_up(self, fanout: bool):
        """Replay the log's first events into a separate table through the
        workload's own path (fused transform, merge, and fan-out when it
        applies), then point-read it. Excluded from every timed metric."""
        n = self.sz.warm_events
        root = self.path("warm")
        if fanout:
            # two of the four routes: the same code path at half the cost
            warm_routes = {t: r for t, r in routes().items() if t in TABLES[:2]}
            MultiTableCdcEngine(self.spark, root, warm_routes).replay(
                self.log, max_lsn=n, epoch_size=n // 2)
            roots = [os.path.join(root, t) for t in TABLES[:2]]
        else:
            self.engine(root).replay(self.log, max_lsn=n, epoch_size=n // 2)
            roots = [root]
        for r in roots:
            for _ in range(2):
                CdcEngine(self.spark, r).table().read_where(
                    (F.col("repo") == "org0/repo0") & (F.col("path") == "x")).collect()

    # -------------------------------------------------------------- phases
    def _mark(self, phase: str):
        now = time.perf_counter()
        self.setup_parts[phase] = now - self._t_mark
        self._t_mark = now

    def setup(self):
        sz = self.sz
        fan = self.name == "fanout"
        self.setup_parts = {"session": time.perf_counter() - self.t_process}
        self._t_mark = time.perf_counter()
        if self.name == "tail":
            self.n_epochs = max(3, int(self.seconds / sz.epoch_s))
            n = sz.preload_events + self.n_epochs * sz.epoch_events
            self.first_lsn = sz.preload_events
        else:
            self.n_epochs = max(2, round(self.seconds / sz.epoch_s))
            n = self.n_epochs * sz.epoch_events
            self.first_lsn = 0
        self.max_lsn = n
        self.log_path = self.path("log")
        self.log = write_log(self.spark, self.log_path, n, self.seed, sz.keys, fan)
        self._mark("log")
        self.warm_up(fan)
        self._mark("warm_up")
        if self.name == "tail":
            root = self.path("tail")
            self.engine(root).replay(self.log, max_lsn=self.first_lsn,
                                     epoch_size=self.first_lsn)
            self.tables = {"tail": root}
        elif fan:
            self.tables = {t: self.path("fanout", t) for t in TABLES}
        else:
            self.tables = {"backfill": self.path("backfill")}
        for t, root in self.tables.items():
            tbl = CdcEngine(self.spark, root).table()
            self.v0[t] = tbl.latest_version() if tbl.exists() else 0
        self._mark("preload")
        self.read_keys = self._plan_reads()
        self._mark("plan_reads")
        self.setup_s = time.perf_counter() - self.t_process

    def timed(self):
        getattr(self, f"_timed_{self.name}")()

    def _timed_backfill(self):
        self._closed_loop(lambda: self.engine(self.tables["backfill"]).replay(
            self.log, max_lsn=self.max_lsn, epoch_size=self.sz.epoch_events))

    def _timed_fanout(self):
        mt = MultiTableCdcEngine(self.spark, self.path("fanout"), routes())
        self._closed_loop(lambda: mt.replay(
            self.log, max_lsn=self.max_lsn, epoch_size=self.sz.epoch_events))

    def _closed_loop(self, replay):
        self.attempted += self.n_epochs * len(self.tables)
        self.t_start = time.time()
        t = time.perf_counter()
        try:
            replay()
        except Exception:  # noqa: BLE001 — counted below from the commit log
            self.errors.append(traceback.format_exc())
        self.busy = time.perf_counter() - t
        # point reads of keys the last epoch changed, per table
        for t_name, root in self.tables.items():
            for key in self.read_keys[t_name]:
                self.point_read(t_name, root, key, self.max_lsn)

    def _timed_tail(self):
        sz, root = self.sz, self.tables["tail"]
        eng = self.engine(root)
        t0 = time.perf_counter()
        self.t_start = time.time()
        for i in range(self.n_epochs):
            lo = self.first_lsn + i * sz.epoch_events
            hi = lo + sz.epoch_events
            due = t0 + (i + 1) * sz.epoch_s  # the epoch's last event is due
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            start = time.perf_counter()
            self.attempted += 1
            try:
                eng.apply_epoch(self.log, lo, hi)
            except Exception:  # noqa: BLE001
                self.fail(traceback.format_exc())
            end = time.perf_counter()
            self.epochs.append({"lsn_to": hi, "due": due - t0, "start": start - t0,
                                "end": end - t0})
            for key in self.read_keys[i]:
                self.point_read("tail", root, key, hi)
            if due + sz.epoch_s - time.perf_counter() > PROBE_SLACK_S:
                self.probe()
        # busy time: the rate this epoch shape sustains, not the offered rate
        self.busy = sum(e["end"] - e["start"] for e in self.epochs)

    # --------------------------------------------------------------- oracle
    def _plan_reads(self):
        """Pick, before timing, the keys each point read will fetch: a
        seeded sample of the keys the epoch changed (per table)."""
        cols = ["lsn", "repo", "path"] + (["tbl"] if self.name == "fanout" else [])
        df = pq.read_table(self.log_path, columns=cols).to_pandas()

        def sample(lo, hi, t_name, k):
            ev = df[(df.lsn > lo) & (df.lsn <= hi)]
            if self.name == "fanout":
                ev = ev[ev.tbl == t_name]
            keys = sorted(set(zip(ev.repo, ev.path)))
            return self.rng.sample(keys, min(len(keys), k))

        e = self.sz.epoch_events
        if self.name == "tail":
            return [sample(self.first_lsn + i * e, self.first_lsn + (i + 1) * e, "tail",
                           self.sz.reads) for i in range(self.n_epochs)]
        k = max(self.sz.reads // len(self.tables), 1)
        return {t: sample(self.max_lsn - e, self.max_lsn, t, k) for t in self.tables}

    def check(self) -> dict:
        """Point reads and final state against the oracle; returns the
        number of mismatched keys per table."""
        log = pq.read_table(self.log_path)
        content = log["content"]  # stays in Arrow; taken for winners only
        df = log.drop_columns(["content", "commit", "ts"]).to_pandas()
        df["row"] = range(len(df))

        def live(w):
            w = w[w.op != "delete"].copy()
            w["content"] = content.take(pa.array(w.row.values, pa.int64())).to_pylist()
            return w

        def events_of(t_name):
            return df[df.tbl == t_name] if self.name == "fanout" else df

        # point reads: the value as of the read's epoch
        for rd in self.reads:
            if "error" in rd:
                self.fail(f"read {rd['key']} raised:\n{rd['error']}")
                continue
            ev = events_of(rd["table"])
            ev = ev[(ev.lsn <= rd["after"]) & (ev.repo == rd["key"][0]) & (ev.path == rd["key"][1])]
            w = live(oracle.winners(ev))
            want = [oracle.expected_row(r) for r in w.itertuples(index=False)]
            if rd["rows"] != want:
                self.fail(f"read {rd['key']} after lsn {rd['after']}: {rd['rows']} != {want}")
        # final state per table
        mism = {}
        for t_name, root in self.tables.items():
            self.attempted += 1
            ev = events_of(t_name)
            expected = oracle.final_state(live(oracle.winners(ev[ev.lsn <= self.max_lsn])))
            try:
                rows = CdcEngine(self.spark, root).table().read().select(
                    "repo", "path", "lsn", "lang", "content_sha256").collect()
                mism[t_name] = oracle.mismatches(expected, oracle.state_of(rows))
            except Exception:  # noqa: BLE001
                mism[t_name] = -1
                self.errors.append(traceback.format_exc())
            if mism[t_name]:
                self.fail(f"final state of {t_name}: {mism[t_name]} keys differ from the oracle")
        if self.name != "tail":
            # epochs that never committed (replay raised part-way)
            committed = sum(len(self._epoch_commits(t)) for t in self.tables)
            for _ in range(self.n_epochs * len(self.tables) - committed):
                self.fail("epoch did not commit")
        self.events = int(((df.lsn > self.first_lsn) & (df.lsn <= self.max_lsn)).sum())
        self.log_df = df
        return mism

    # --------------------------------------------------------- commit log
    def _epoch_commits(self, t_name) -> list[dict]:
        tbl = CdcEngine(self.spark, self.tables[t_name]).table()
        if not tbl.exists():
            return []
        return [e for e in tbl.log_entries(self.v0[t_name] + 1)
                if "cdc.last_lsn" in e.get("properties", {})]

    def commit_figures(self, traced=None) -> dict:
        """Lag (closed loops), bytes, and file counts from the commit log;
        the counts cover the (table root, lsn_to) pairs in ``traced``, or
        every timed commit."""
        lags, bytes_added = [], 0
        counts = {"added": 0, "removed": 0, "rows": 0, "live_files": 0}
        by_epoch: dict[int, dict[str, float]] = {}
        for t_name, root in self.tables.items():
            for e in self._epoch_commits(t_name):
                lsn_to = int(e["properties"]["cdc.last_lsn"])
                by_epoch.setdefault(lsn_to, {})[t_name] = e["timestamp"]
                for a in e.get("add", []):
                    bytes_added += os.path.getsize(os.path.join(root, a["path"]))
                if traced is None or (root, lsn_to) in traced:
                    counts["added"] += len(e.get("add", []))
                    counts["removed"] += len(e.get("remove", []))
                    counts["rows"] += sum(a.get("rows") or 0 for a in e.get("add", []))
            tbl = CdcEngine(self.spark, root).table()
            if tbl.exists():
                counts["live_files"] += len(tbl.snapshot().files)
        if self.name == "tail":
            lags = [e["end"] - e["due"] for e in self.epochs]
        else:
            # closed loop: epoch k is due when epoch k-1's last commit returns
            due = self.t_start
            for lsn_to in sorted(by_epoch):
                ts = by_epoch[lsn_to]
                lags += [v - due for v in ts.values()]
                due = max(ts.values())
        return {"lags": lags, "bytes": bytes_added, "counts": counts}


def tail_pct(xs):
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), or (None, None) when there are too few samples."""
    xs = sorted(xs)
    n = len(xs)
    for p in range(99, 49, -1):
        idx = max(math.ceil(p * n / 100) - 1, 0)
        if n - idx - 1 >= 10:
            return p, xs[idx]
    return None, None


def summary(xs, unit):
    """Median and tail with the sample count, for the report line."""
    p, v = tail_pct(xs)
    return {"p50": statistics.median(xs) if xs else None, "tail_pct": p, "tail": v,
            "n": len(xs), "unit": unit}
