"""Structured-Streaming front-end for the CDC engine.

Parity with the reference's continuous micro-batch consumption
(Pipeline.asContinuous — Pipeline.scala:9-19 — polling stream-consume +
MERGE per tick): here the change-event log directory is a Structured
Streaming file source; each micro-batch is applied through
``CdcEngine.apply_epoch`` with the batch's actual LSN range.

Exactly-once composition: the file-source checkpoint gives at-least-once
micro-batches; the engine's commit-epoch manifest makes re-application of
an already-committed LSN range a no-op — so crash/restart anywhere yields
exactly-once *effects* (same argument as SURVEY.md §2.11, now with the
streaming runtime driving the loop instead of the replay driver).

``trigger(availableNow=True)`` drains the backlog then stops (the
reference's per-tick semantics); ``processingTime`` keeps tailing.

Ordering contract: the log producer appends files in LSN order (a WAL/
binlog tail is ordered by construction) and the file source lists in
arrival order, so each micro-batch's LSN range is ≥ all previously
committed ranges. A batch whose whole range is already recorded in the
manifest is skipped (idempotent re-delivery); out-of-order *production*
is outside the WAL contract.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.engine import CdcEngine

class OrderingViolationError(RuntimeError):
    """A micro-batch's LSN range is at or below the engine watermark but no
    committed epoch manifest covers it — the producer broke the
    files-land-in-LSN-order contract (e.g. mtime ties on a coarse-grained
    filesystem listed a later range first) and the events would otherwise
    be dropped SILENTLY as 'already applied'."""


def _range_covered(engine: CdcEngine, lo_excl: int, hi: int) -> bool:
    """True iff the union of committed epoch manifests' (lsn_from, lsn_to]
    intervals covers (lo_excl, hi]. Driver-side over the commit log — only
    consulted for the rare skipped/straddling batch, never per healthy
    batch.

    ``vacuum_metadata`` prunes old log entries, so retained manifests may
    start mid-stream. Everything at or below the oldest RETAINED
    manifest's ``lsn_from`` was covered by construction (the watermark
    advances only through contiguously-committed epochs, and those
    manifests existed before pruning) — treat it as covered, else a
    legitimate redelivery of an ancient range would raise falsely."""
    ivals = sorted(
        (int(m["lsn_from"]), int(m["lsn_to"])) for m in engine.manifests()
    )
    if engine.table().oldest_version() > 1:
        ivals.insert(0, (0, ivals[0][0] if ivals else engine.last_lsn()))
    cur = lo_excl
    for a, b in ivals:
        if a > cur:
            break  # gap below cur stays a gap (intervals are sorted)
        cur = max(cur, b)
        if cur >= hi:
            return True
    return cur >= hi


def _check_batch_ordering(engine: CdcEngine, lo: int, hi: int, batch_id: int) -> None:
    """RUNTIME DETECTION of a broken producer ordering contract (review
    finding: the contract was documented but a violation dropped events
    with no error). A batch at/under the watermark is legitimate ONLY if
    committed manifests actually cover its range (crash redelivery); if a
    later range was listed first (coarse mtime ties), the skipped range
    has a coverage gap — fail loudly instead."""
    last = engine.last_lsn()
    if hi <= last and not _range_covered(engine, lo - 1, hi):
        raise OrderingViolationError(
            f"batch {batch_id} range ({lo},{hi}] is below the engine "
            f"watermark {last} but no committed epoch covers it — the "
            "producer landed files out of LSN order (see the ordering "
            "contract in stream_replay's docstring); events would be "
            "silently dropped"
        )
    if lo <= last < hi and not _range_covered(engine, lo - 1, last):
        raise OrderingViolationError(
            f"batch {batch_id} range ({lo},{hi}] straddles the engine "
            f"watermark {last} but the prefix ({lo},{last}] was never "
            "committed — out-of-order production; the prefix would be "
            "silently dropped by watermark narrowing"
        )


CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def land_lsn_ordered(log, events_dir: str, waves: int = 4) -> int:
    """Land ``log`` into ``events_dir`` as ``waves`` sequential LSN-range
    parquet appends — the mtime-ordered landing a real WAL tail produces
    and the file source's ordering contract requires (a parallel bulk
    write gets part-file mtimes in task-COMPLETION order; a later range
    listed first would advance the watermark past an earlier one).
    Returns the log's max LSN. Shared by the streaming entry twins and
    their tests — the boundary arithmetic lives here or nowhere."""
    max_lsn = int(log.agg(F.max("lsn")).first()[0])
    step = (max_lsn + waves - 1) // waves + 1
    for i in range(waves):
        log.where(
            (F.col("lsn") > i * step) & (F.col("lsn") <= (i + 1) * step)
        ).coalesce(1).write.mode("append").parquet(events_dir)
    return max_lsn


def stream_replay(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    engine: CdcEngine,
    schema: T.StructType = CHANGE_EVENT_SCHEMA,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
):
    """Tail ``events_dir`` (parquet files of change events) and merge each
    micro-batch through the engine. Returns the StreamingQuery.

    ``max_files_per_trigger`` bounds each micro-batch's file count.

    ORDERING CONTRACT (binding on the producer): the file source orders
    files by MODIFICATION TIME (path breaks ties), so files must land with
    mtimes in LSN order — which is what a real WAL tail does (sequential
    appends). A parallel bulk write of pre-split ranges does NOT satisfy
    this (part files get mtimes in task-completion order): a later range
    listed first would advance the engine watermark past an earlier range,
    and the earlier batch would be skipped as already-applied. Land ranges
    with sequential writes, or drain the whole backlog in one batch
    (``max_files_per_trigger=None``), where order inside the batch is
    irrelevant (the max-LSN dedup arbitrates)."""

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(events_dir)

    def apply_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        lo, hi = batch_df.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).first()
        lo, hi = int(lo), int(hi)
        _check_batch_ordering(engine, lo, hi, batch_id)
        # epoch = this batch's LSN range; the manifest makes replays no-ops.
        engine.apply_epoch(
            batch_df, lo - 1, hi,
            lineage={"streaming_batch_id": batch_id, "source_dir": events_dir},
        )

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_replay_multitable(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    mt,
    schema: T.StructType,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
):
    """Tail ONE binlog-shaped event directory and route each micro-batch
    into every table of a :class:`~..cdc.multitable.MultiTableCdcEngine` —
    the streaming spelling of ``MultiTableCdcEngine.replay``. Returns the
    StreamingQuery.

    Semantics compose exactly as in the batch path: the batch's LSN range
    is one epoch for EVERY route; each sub-engine applies its routed
    slice idempotently against its own watermark, so a crash between
    tables mid-batch (table A committed, B not) resumes on the
    file-source checkpoint's redelivery with A skipping and B applying.
    The producer ordering contract (see :func:`stream_replay`) is checked
    per table against that table's own watermark — a violation on ANY
    route fails the batch before any table applies it (all watermarks
    still agree on epoch boundaries, so no partial ordering damage).

    The tables apply the batch concurrently through the same fan-out as
    the batch path (``MultiTableCdcEngine._apply_routes``): min(T,
    defaultParallelism) worker threads, so a batch takes about ⌈T/P⌉
    waves of applies rather than the sum of T, and every apply returns
    before the next batch. The workers inherit the ``foreachBatch``
    thread's JVM local properties (the query's job group and SQL
    execution); callables in a route's ``engine_kwargs`` (``audit_fn``)
    run on them. A failing apply fails the batch after the batch's other
    in-flight applies finish; the checkpoint redelivers it and the tables
    that committed skip.

    Scale note: the routed frames are filters over the micro-batch's file
    list — each table's epoch reads the batch predicate- and
    column-pruned, the same posture as the batch fan-out (no persist of
    the raw batch; batches are bounded by ``maxFilesPerTrigger``).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(events_dir)

    def apply_batch(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        lo, hi = batch_df.agg(
            F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).first()
        lo, hi = int(lo), int(hi)
        for eng in mt.engines.values():
            _check_batch_ordering(eng, lo, hi, batch_id)
        mt._apply_routes(
            batch_df, lo - 1, hi,
            {"streaming_batch_id": batch_id, "source_dir": events_dir},
        )

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
