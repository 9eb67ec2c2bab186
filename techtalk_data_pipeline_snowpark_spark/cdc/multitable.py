"""Multi-table CDC fan-out — one LSN-ordered change log, many lake tables.

Real binlog/WAL streams (MySQL binlog, Postgres logical replication, a
Debezium server topic) interleave change events for MANY tables in one
totally-ordered stream. The reference sidesteps routing by running one
stream per table (each Ingest* pipeline creates its own Snowflake stream
over its own raw table and consumes it in its own DAG node —
tt-dps-pipeline-rest IngestOrdersFromRawToFlat.scala:63-98 and
IngestRatingsFromRawToFlat.scala:63-98 are separate nodes over separate
streams); a true binlog tail gets ONE stream and must route. This module
replays such a stream into one :class:`~..lake.LakeTable` per logical
table, each with its own key columns, bucket layout, and exactly-once
watermark.

Design, and why it scales:

- **Routing is declarative.** Each routed sub-frame is
  ``events.where(col(table_col) == name).select(lsn, op, payload...)`` —
  the discriminator predicate composes with the epoch's LSN-slice
  predicate, so every sub-engine's scan pushes BOTH filters into the log
  scan (``PushedFilters`` — asserted in tests). A log directory
  physically partitioned by the table column (the usual layout when each
  capture topic lands separately) turns the filter into partition
  pruning: per table, per epoch, only that table's files are opened.
- **Per-table watermarks, one global epoch grid.** Each target table
  records its own ``cdc.last_lsn``; :meth:`replay` drives all tables over
  the epoch scheduler's shared grid from the MINIMUM watermark, so tables
  left at different watermarks by a crash, or a route added later, resume
  exactly-once (cdc/epochs.py). The slice predicate is checked against
  the watermark before any scan, so a table skipping applied ranges
  touches no payload data.
- **No cross-table transaction — deliberately.** Like Iceberg/Delta, a
  commit is atomic per table. The global invariant is per-table
  prefix-consistency over one shared log: each table's state always
  equals a replay of the log's prefix up to its own watermark, and all
  watermarks land on shared epoch boundaries. Readers needing a
  cross-table-consistent view pick an epoch boundary LSN and time-travel
  each table to its manifest for that epoch (`manifests()` records the
  LSN range per table per epoch).
- **Cost.** With T routed tables an epoch plans T scans of the same
  slice; each is column-pruned to its own payload and predicate-pruned
  to its own rows, so total bytes read ≈ one full-slice scan when the
  log is table-partitioned (and at worst T metadata-cheap passes over
  the slice otherwise). Dedup/merge work is per-table and identical to
  T independent engines — hot-repo salting, winner broadcast, bucket/
  bloom pruning all apply unchanged.
- **Parallel fan-out.** Each table is one route of the epoch scheduler
  (cdc/epochs.py), which applies an epoch's T tables concurrently on
  min(T, ``defaultParallelism``) threads; its docstring gives the
  measurement behind that width. Callables passed in a route's
  ``engine_kwargs`` (``audit_fn``) run on the scheduler's worker threads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import CdcEngine, EpochResult
from .epochs import walk


@dataclass
class TableRoute:
    """How one logical table in the stream maps to a lake table.

    ``key_cols``: the table's primary key (merge/dedup key).
    ``columns``: payload columns to route (beyond ``lsn``/``op``); None
    routes every non-engine column of the log — only safe when the log's
    schema IS this table's schema (single-schema logs). Union-schema
    logs (the normal multi-table shape) must name their columns so other
    tables' all-null columns don't leak into this table's schema.
    ``num_buckets`` / ``engine_kwargs``: per-table layout and any
    :class:`CdcEngine` keyword (bloom, quarantine_dir, ...).
    """

    key_cols: tuple[str, ...]
    columns: list[str] | None = None
    num_buckets: int = 32
    engine_kwargs: dict = field(default_factory=dict)


class MultiTableCdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        routes: dict[str, TableRoute],
        table_col: str = "tbl",
        **shared_engine_kwargs,
    ):
        if not routes:
            raise ValueError("routes must name at least one table")
        bad = [n for n in routes if not n or "/" in n or n in (".", "..")]
        if bad:
            raise ValueError(f"route names must be path-safe, got {bad!r}")
        self.spark = spark
        self.root = root
        self.table_col = table_col
        self.routes = dict(routes)
        self.engines: dict[str, CdcEngine] = {}
        for name, spec in self.routes.items():
            kwargs = {**shared_engine_kwargs, **spec.engine_kwargs}
            self.engines[name] = CdcEngine(
                spark,
                os.path.join(root, name),
                key_cols=tuple(spec.key_cols),
                num_buckets=spec.num_buckets,
                **kwargs,
            )

    # ------------------------------------------------------------- state
    def engine(self, name: str) -> CdcEngine:
        return self.engines[name]

    def last_lsns(self) -> dict[str, int]:
        return {n: e.last_lsn() for n, e in self.engines.items()}

    def read_state(self, name: str) -> DataFrame:
        return self.engines[name].read_state()

    # ------------------------------------------------------------ routing
    def _require_table_col(self, events: DataFrame) -> None:
        if self.table_col not in set(events.columns):
            raise ValueError(
                f"event frame has no discriminator column "
                f"{self.table_col!r} (has {sorted(events.columns)})"
            )

    def routed(self, events: DataFrame, name: str) -> DataFrame:
        """The sub-log for one table: discriminator filter + payload
        projection, both pushable into the log scan."""
        spec = self.routes[name]
        cols = set(events.columns)
        self._require_table_col(events)
        sub = events.where(F.col(self.table_col) == name)
        if spec.columns is None:
            return sub.drop(self.table_col)
        missing = [c for c in ("lsn", "op", *spec.columns) if c not in cols]
        if missing:
            raise ValueError(
                f"route {name!r} expects log columns {missing} which the "
                f"event frame does not carry (has {sorted(cols)})"
            )
        return sub.select("lsn", "op", *spec.columns)

    def unrouted_tables(self, events: DataFrame) -> list[tuple[str, int]]:
        """Distinct discriminator values in the log that no route claims,
        with event counts — one partial-aggregated pass, on demand (not
        per epoch: the replay path never pays for this)."""
        self._require_table_col(events)
        unclaimed = ~F.col(self.table_col).isin(*self.routes.keys())
        # a NULL discriminator is unrouted too — a bare NOT-IN would drop
        # it from the report (three-valued logic), hiding malformed events
        rows = (
            events.where(unclaimed | F.col(self.table_col).isNull())
            .groupBy(self.table_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return sorted(
            ((r[self.table_col], r["n"]) for r in rows),
            key=lambda t: (t[0] is None, t[0] or ""),
        )

    # ------------------------------------------------------------- replay
    def _routes(self, events: DataFrame, lineage: dict | None) -> dict:
        """One epoch-scheduler route per table (cdc/epochs.py): its
        routed sub-log, with the lineage tagged by the table's name."""
        return {
            name: (eng, self.routed(events, name), {**(lineage or {}), "table": name})
            for name, eng in self.engines.items()
        }

    def replay(
        self,
        events: DataFrame,
        max_lsn: int | None = None,
        epoch_size: int = 1_000_000,
        lineage: dict | None = None,
    ) -> dict[str, list[EpochResult]]:
        """Replay the shared log into every routed table, resuming each
        from its own watermark. Returns per-table epoch results (skips
        included, so a resumed run shows exactly which table re-applied
        which epoch).

        The epochs run through the epoch scheduler (cdc/epochs.py): one
        shared grid from the lowest watermark, an epoch's tables applied
        concurrently, epochs one after another. If an apply raises, the
        error propagates once that epoch's in-flight applies finish, and
        tables that committed keep their commit — a resumed replay skips
        them."""
        results: dict[str, list[EpochResult]] = {n: [] for n in self.engines}
        routes = self._routes(events, lineage)
        for epoch in walk(self.spark, events, routes, epoch_size, max_lsn):
            for name, res in epoch.items():
                results[name].append(res)
        return results
