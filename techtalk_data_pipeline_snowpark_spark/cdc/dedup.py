"""Max-LSN per-key reduction — the engine's core dedup (north_star:
"deduplicate per (repo, path) key via max-LSN window reduction").

Spark-first physical strategy: the default is **not** a window —
``groupBy(key).agg(max_by(struct(payload), struct(lsn, ...)))`` gets
Catalyst's two-phase hash aggregation (partial map-side combine before the
shuffle), which a `Window.partitionBy(key)` + row_number never gets. At
10^10 events with hot repos, partial aggregation collapses each hot key to
one row per map task *before* the shuffle — the single most important
scale property of this stage. The window variant is kept for parity tests.

The CDC epoch runs one payload path: ``winner_keys`` reduces a
column-pruned (key, lsn, op) scan, and ``dedup_latest_via_winners``
semi-joins the full payload against those winners before the one max_by
pass, so losing rows' content never enters an aggregation buffer.

Tie-break: LSNs are unique by contract; if a tie ever appears (duplicate
delivery of the same LSN) the ordering key struct(lsn, ts, op) makes the
winner deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _order_key(columns=None):
    """Deterministic winner ordering: lsn, then ts/op tie-breakers when the
    log carries them (a minimal log may have only lsn+op)."""
    cols = ["lsn"] + [c for c in ("ts", "op") if columns is None or c in columns]
    return F.struct(*[F.col(c) for c in cols])


def dedup_latest(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Last-writer-wins per key via max_by (partial-agg friendly)."""
    payload_cols = [c for c in events.columns if c not in key_cols]
    agg = events.groupBy(*key_cols).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload_cols]), _order_key(events.columns)
        ).alias("_w")
    )
    return agg.select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload_cols])


def winner_keys(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """(key..., lsn, op) of the last writer per key — the late-
    materialization half of the dedup.

    Only key/lsn/op columns are selected, so the parquet scan is
    column-pruned (no content strings move at all); the groupBy gets
    partial map-side aggregation over ~60-byte rows. At 10^10 events this
    frame is ~2% the bytes of the full payload — cheap enough to persist
    and reuse for offsets, merge metrics, and the payload semi-join."""
    return (
        events.select(*key_cols, "lsn", "op")
        .groupBy(*key_cols)
        .agg(F.max("lsn").alias("lsn"), F.max_by("op", F.col("lsn")).alias("op"))
    )


def dedup_latest_via_winners(
    events: DataFrame,
    key_cols: list[str],
    winners: DataFrame,
    broadcast: bool = True,
) -> DataFrame:
    """Late-materialization dedup: semi-join the full-payload slice against
    the winner (key, lsn) set map-side (broadcast), then a max_by pass for
    exact-duplicate delivery defense.

    broadcast=True makes the semi-join a map-side filter, so losing rows'
    content never enters an aggregation buffer or a shuffle; the payload
    then crosses one shuffle here (the max_by groupBy). The downstream
    MERGE join shuffles it again: its ``eqNullSafe`` keys hash on
    ``coalesce``/``isnull`` expressions rather than the bare key columns,
    and the Arrow transform between the two (``ArrowEvalPython``) does not
    pass on its child's partitioning.

    broadcast=False keeps the dedup to one payload shuffle by joining on
    the KEY COLUMNS ONLY (winners are key-unique, so an inner join +
    post-filter ``lsn == winner_lsn`` is the same semi-join) — joining on (keys…, lsn)
    would make the planner shuffle by all three columns
    (requireAllClusterKeysForCoPartition), which the following
    groupBy(keys) could not reuse: content would cross TWO shuffles
    (measured r2). The shuffle-hash hint makes the winner side build the
    hash map while payload rows stream through unsorted (a sort-merge join
    would sort content strings; a max_by-everything aggregation would hold
    content in agg hash buffers — both measured slower under memory-
    bandwidth pressure)."""
    w = winners.select(*key_cols, "lsn")
    if broadcast:
        rows = events.join(F.broadcast(w), on=[*key_cols, "lsn"], how="leftsemi")
        return dedup_latest(rows, key_cols)
    wr = w.withColumnRenamed("lsn", "_w_lsn")
    rows = (
        events.join(wr.hint("shuffle_hash"), on=list(key_cols), how="inner")
        # winner lsn is the per-key MAX, so >= selects exactly the winner
        # row(s); an == here would be inferred back into the join keys and
        # re-introduce the (keys, lsn) shuffle. Duplicate delivery of the
        # winner lsn is collapsed by the max_by pass below.
        .where(F.col("lsn") >= F.col("_w_lsn"))
        .drop("_w_lsn")
    )
    return dedup_latest(rows, key_cols)


def dedup_latest_window(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Window row_number variant (parity check; not the hot path — no
    map-side partial aggregation)."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("lsn").desc(), F.col("ts").desc(), F.col("op").desc()
    )
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
