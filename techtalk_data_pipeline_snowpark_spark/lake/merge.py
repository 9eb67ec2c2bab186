"""MERGE / UPDATE / DELETE over LakeTable — copy-on-write, bucket-pruned.

Re-expresses the reference's mutation surface (SURVEY.md §2.9):
- insert-only MERGE      IngestOrdersFromRawToFlat.scala:74-89
- upsert MERGE           IngestRatingsFromRawToFlat.scala:75-103, SampleCrud.scala:46-65
- generic merge builder  SnowflakeUtilsOld.scala:84-109
- UPDATE with condition  SampleCrud.scala:28-36
- DELETE with condition  SampleCrud.scala:71-75
- merge metrics          MergeResult → IngestOrdersFromRawToFlat.scala:89-92

Spark-first design, not a port: Snowflake executes MERGE server-side; here
the physical strategy is an explicit copy-on-write plan that Catalyst then
optimizes —

1. bucket-prune: source keys → touched buckets (≤ num_buckets driver-side
   ints); untouched buckets' files are carried over untouched. A small epoch
   against a 100 TB table rewrites only its own buckets.
2. full-outer join target(touched buckets) ⋈ source on keys — Catalyst
   picks the join (AQE may broadcast a small source side); both sides
   shuffle on the same keys.
3. row arbitration with WHEN MATCHED / NOT MATCHED semantics.
4. rewrite touched buckets (one shuffle keyed by bucket), atomic commit of
   add+remove+metrics+properties in one log entry (the transaction).

Metrics ride the arbitration job itself (Dataset.observe), not a cached
copy of the joined plan.

Deletes have a second, merge-on-read form (``delete(mode="mor")``,
``mor_delete_keys``): a scan records the doomed (file, row-position) pairs
as positional deletion vectors and the commit is metadata-only. DVs are
the table's only merge-on-read delete format; readers anti-join them at
scan time and ``compact()`` absorbs them.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .table import CommitResult, LakeTable, bucket_expr, bucket_layout_trusted


def _touched_buckets(source: DataFrame, key_cols: list[str], n: int) -> list[int]:
    rows = (
        source.select(bucket_expr(key_cols, n, source.schema).alias("_b"))
        .distinct()
        .collect()
    )
    return sorted(r["_b"] for r in rows)


def _bucket_prunable(snap, keys: list[str]) -> bool:
    """Bucket pruning is sound ONLY when ``keys`` are exactly the table's
    bucketing keys (same columns, same order — F.hash is order-sensitive)
    on a trusted layout: a file's bucket is pmod(hash(snap.key_cols), N),
    so matches for any other key set may live in any bucket."""
    return (
        bool(snap.num_buckets)
        and list(keys) == list(snap.key_cols)
        and bucket_layout_trusted(snap)
    )


def _key_targeted_files(
    table: LakeTable,
    snap,
    source: DataFrame,
    keys: list[str],
    touched_buckets: list[int] | None,
) -> tuple[list[str], list[int] | None, int]:
    """Files a key-targeted mutation must read: those of the buckets the
    source keys hash to, then the ones whose per-file key blooms may hold a
    source key. Returns ``(files, buckets, bloom_skipped)``; ``buckets`` is
    None — and every file is returned — when bucket pruning is unsound
    (:func:`_bucket_prunable`). Callers that already aggregated per-bucket
    stats (the CDC engine's offsets pass) hand ``touched_buckets`` in,
    saving one source scan.

    Blooms (lake/bloom.py, opt-in via table property) bound the work from
    touched buckets to touched FILES — the difference between rewriting a
    10 GB bucket and rewriting the one file a changed key lives in. False
    positives cost a needless read; false negatives are impossible (shared
    hash pipeline)."""
    if not _bucket_prunable(snap, keys):
        return list(snap.files), None, 0
    buckets = (
        sorted(touched_buckets)
        if touched_buckets is not None
        else _touched_buckets(source, keys, snap.num_buckets)
    )
    files = snap.files_in_buckets(set(buckets))
    bloom_skipped = 0
    if files:
        from .bloom import bloom_cols_of, surviving_files_by_bloom

        if set(bloom_cols_of(snap)) & set(keys):
            files, bloom_skipped = surviving_files_by_bloom(
                table, snap, source, keys, files
            )
    return files, buckets, bloom_skipped


def _commit_dv(
    table: LakeTable,
    snap,
    hits: DataFrame,
    files: list[str],
    properties: dict | None,
    summary: dict,
    pin_empty: bool = True,
) -> CommitResult:
    """Stage the (fname, pos) ``hits`` of a position scan of ``snap``'s
    ``files`` as one deletion-vector set and commit it metadata-only,
    pinned to ``snap.version + 1``. Every affected file references the
    whole DV set of the commit; the read-side anti-join keys on (fname,
    pos), so rows of other files in a shared DV file can never mis-apply.
    No hits commits an empty delete — unpinned when ``pin_empty`` is
    False."""
    dv_rels, per_file = table._stage_dv(hits)
    fname_to_rel = {os.path.basename(p): p for p in files}
    return table.commit_rewrite(
        adds=[],
        removes=[],
        operation="delete",
        properties=properties,
        summary={
            "rows_affected": int(sum(per_file.values())),
            "files_with_dv": len(per_file),
            "dv_files": len(dv_rels),
            **summary,
            "mode": "mor",
        },
        expected_version=snap.version + 1 if per_file or pin_empty else None,
        dv={fname_to_rel[fn]: list(dv_rels) for fn in per_file} or None,
    )


def _observed_metrics(obs, adds: list[dict], pre_observe: DataFrame, exprs) -> dict:
    """Metrics from Dataset.observe, with a recompute fallback.

    Spark 4.1.2 quirk: a dynamic-partition (`partitionBy`) write of an
    EMPTY DataFrame never delivers observed metrics — `Observation.get`
    dies in `getRow()` on an empty schema-less row (plain empty writes and
    non-empty partitionBy writes both deliver fine; only the combination
    fails). The lost metrics are NOT zero (a merge that deletes the last
    row has deleted=1), so when the staged output produced no files we
    recompute them with one direct aggregation over the pre-observe plan —
    a rare path (the mutation emptied every touched bucket) and a cheap
    job relative to the rewrite that just ran.
    """
    if adds:
        try:
            return dict(obs.get)
        except Exception:
            pass  # fall through to recompute — never trust a dead Observation
    return pre_observe.agg(*exprs).first().asDict()


def merge_into(
    table: LakeTable,
    source: DataFrame,
    on: list[str] | Column | None = None,
    when_matched_update: dict[str, Column] | str | None = "all",
    when_matched_delete: Column | None = None,
    when_not_matched_insert: bool | Column = True,
    matched_condition: Column | None = None,
    properties: dict | None = None,
    validate_unique_keys: bool = False,
    touched_buckets: list[int] | None = None,
    snap=None,
    rebase: bool = False,
) -> CommitResult:
    """MERGE INTO table USING source ON keys.

    ``on``: either a list of key column NAMES (equi-merge; bucket pruning
    applies when they are the table's bucketing keys), or an arbitrary
    boolean join ``Column`` over aliases ``t`` (target) and ``s`` (source)
    — expression ON, parity with the reference's computed-key merges
    (SampleCrud.scala:38-65 ``substring(code,0,4)`` of BOTH sides;
    SnowflakeUtilsOld.scala:84-109 arbitrary ``joinCriteria``). Expression
    ON cannot bucket-prune (matches may live in any bucket), so the whole
    table is rewritten — same caveat Snowflake has for non-clustered merge
    keys. As in Snowflake's default (ERROR_ON_NONDETERMINISTIC_MERGE), the
    caller must ensure at most one source row matches any target row.

    ``when_matched_update``: "all" replaces the full row with source values;
    a dict maps target column → expression over aliases ``t`` (target) and
    ``s`` (source); None disables updates (insert-only merge, M1).
    ``when_matched_delete``: boolean Column over t/s — matching rows where it
    holds are deleted (CDC delete ops; SampleCrud join-delete).
    ``matched_condition``: extra predicate ANDed into the matched branch
    (SnowflakeUtilsOld.scala:95-100 extra-condition parity).

    Source must be key-unique (Snowflake MERGE raises on duplicate source
    keys too); the CDC engine guarantees it via max-LSN dedup.

    ``snap``: pass a pre-read Snapshot to avoid re-replaying the table log
    (the CDC engine reads the snapshot once per epoch and shares it).
    Optimistic concurrency still holds — the commit pins
    ``expected_version = snap.version + 1`` and fails on a racing writer.
    With ``rebase=True`` a lost race retries metadata-only when the
    bucket layout proves the racing commits touched disjoint keys
    (:meth:`LakeTable._validate_rebase`); the rewrite is never redone.
    """
    snap = snap if snap is not None else table.snapshot()
    on_expr: Column | None = None
    if isinstance(on, Column):
        on_expr, keys = on, []
    else:
        keys = on or snap.key_cols
        if not keys:
            raise ValueError("merge requires key columns or an ON expression")
    schema = snap.schema
    tcols = [f.name for f in schema.fields]

    if validate_unique_keys and on_expr is not None:
        raise ValueError("validate_unique_keys requires named key columns")
    if validate_unique_keys:
        total, distinct = source.select(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("d"),
        ).first()
        if total != distinct:
            raise ValueError(f"merge source keys not unique: {total} rows, {distinct} keys")

    matched = F.lit(True) if matched_condition is None else matched_condition
    # Insert branch condition. A delete op arriving for an absent key is a
    # no-op (never an insert), so the delete condition (source-side, e.g.
    # s.op='delete') negates into the default insert guard.
    if isinstance(when_not_matched_insert, Column):
        insert_cond = when_not_matched_insert
        do_insert = True
    else:
        do_insert = bool(when_not_matched_insert)
        insert_cond = F.lit(do_insert)
        if do_insert and when_matched_delete is not None:
            insert_cond = ~F.coalesce(when_matched_delete, F.lit(False))

    if rebase and (on_expr is not None or not _bucket_prunable(snap, keys)):
        # rebase safety is PROVEN by bucket disjointness — when pruning is
        # unsound (expression ON, non-bucket keys, unbucketed/untrusted
        # layout) a racing row anywhere could match this merge, so there
        # is no metadata-only proof. Fail fast at the call, not at a race.
        raise ValueError(
            "merge rebase=True requires bucket-pruned merges (named keys "
            "equal to the table's bucketing keys on a trusted layout)"
        )
    if on_expr is None:
        touched_files, buckets, bloom_skipped = _key_targeted_files(
            table, snap, source, keys, touched_buckets
        )
    else:
        # expression ON cannot bucket-prune: matches may live anywhere
        touched_files, buckets, bloom_skipped = list(snap.files), None, 0

    tgt = table._read_files(touched_files, schema, files_meta=snap.files)

    # ---- arbitration
    if on_expr is not None:
        # expression ON: key columns can't signal row existence after the
        # full outer join (the merge keys may be computed), so each side
        # carries an explicit marker column instead.
        tgt = tgt.withColumn("__t_exists", F.lit(1)).alias("t")
        src = source.withColumn("__s_exists", F.lit(1)).alias("s")
        joined = tgt.join(src, on=on_expr, how="full_outer")
        t_exists = F.col("t.__t_exists").isNotNull()
        s_exists = F.col("s.__s_exists").isNotNull()
    else:
        # Existence detection via explicit marker columns (two lit-1 ints
        # through the shuffle — negligible vs the payload), NOT key
        # null-ness: the eqNullSafe join is total even for null keys, but
        # ``t.keys[0] IS NOT NULL`` would misclassify a null-first-key row
        # as absent and corrupt its arbitration (r5: the IVM join view keys
        # its rows off source keys that CAN be null-first when a left-join
        # null-extension's a-side key is null-keyed upstream).
        tgt = tgt.withColumn("__t_exists", F.lit(1)).alias("t")
        src = source.withColumn("__s_exists", F.lit(1)).alias("s")
        # Join strategy deliberately left to Catalyst (sort-merge under
        # AQE): a full-outer shuffle_hash hint was measured (r2, 8M×2
        # epochs, 4×2 executors, 2 runs each) at parity within JVM noise —
        # and SMJ's graceful spill beats SHJ's in-memory build side when an
        # epoch partition is skew-heavy.
        joined = tgt.join(
            src,
            on=[F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys],
            how="full_outer",
        )
        t_exists = F.col("t.__t_exists").isNotNull()
        s_exists = F.col("s.__s_exists").isNotNull()

    # ---- merge metrics ride the arbitration job itself (Dataset.observe):
    # no separate probe job/scan — at epoch cadence the extra Spark job per
    # epoch was a measurable serial cost (MergeResult parity: M6,
    # IngestOrdersFromRawToFlat.scala:89-92).
    from uuid import uuid4

    from pyspark.sql import Observation

    del_flag = (
        F.lit(False)
        if when_matched_delete is None
        else F.coalesce(when_matched_delete, F.lit(False))
    )
    obs = Observation(f"merge-{uuid4().hex}")
    metric_exprs = [
        F.sum(
            F.when(t_exists & s_exists & matched & del_flag, 1).otherwise(0)
        ).alias("deleted"),
        F.sum(
            F.when(
                t_exists & s_exists & matched & ~del_flag
                & F.lit(when_matched_update is not None),
                1,
            ).otherwise(0)
        ).alias("updated"),
        F.sum(
            F.when(~t_exists & s_exists & F.coalesce(insert_cond, F.lit(False)), 1)
            .otherwise(0)
        ).alias("inserted"),
    ]
    pre_observe = joined
    joined = joined.observe(obs, *metric_exprs)

    def target_row():
        return [F.col(f"t.{c}").alias(c) for c in tcols]

    def source_row():
        # case-insensitive source-column resolution, matching the session's
        # spark.sql.caseSensitive=false: a source arriving as REPO/PATH must
        # feed target repo/path, not silently insert nulls
        scols = {c.lower(): c for c in source.columns}
        return [
            (
                F.col(f"s.{scols[c.lower()]}") if c.lower() in scols else F.lit(None)
            ).cast(schema[c].dataType).alias(c)
            for c in tcols
        ]

    def updated_row():
        if when_matched_update == "all":
            return source_row()
        out = []
        for c in tcols:
            if when_matched_update and c in when_matched_update:
                out.append(when_matched_update[c].cast(schema[c].dataType).alias(c))
            else:
                out.append(F.col(f"t.{c}").alias(c))
        return out

    branches = []
    # matched + delete
    if when_matched_delete is not None:
        branches.append((t_exists & s_exists & matched & when_matched_delete, None))
    # matched + update
    if when_matched_update is not None:
        upd = updated_row()
        branches.append((t_exists & s_exists & matched, upd))
    # not matched + insert
    if do_insert:
        branches.append((~t_exists & s_exists & insert_cond, source_row()))

    keep = target_row()
    result_cols = []
    for i, c in enumerate(tcols):
        expr = keep[i]
        for cond, row in reversed(branches):
            expr = F.when(cond, F.lit(None).cast(schema[c].dataType) if row is None else row[i]).otherwise(expr)
        result_cols.append(expr.alias(c))

    drop = F.lit(False)
    for cond, row in branches:
        if row is None:
            drop = drop | cond
    # source-only rows that don't qualify for insert → drop
    drop = drop | (
        ~t_exists & s_exists & ~F.coalesce(insert_cond, F.lit(False))
    )
    # matched rows when no matched branch applies → keep target (default)

    result = joined.where(~drop).select(*result_cols)

    from .bloom import bloom_cols_of

    adds = table._stage_dataframe(
        result, schema, snap.num_buckets, snap.key_cols,
        bloom_cols=bloom_cols_of(snap),
        # persisted-clustering stamp: touched buckets rewrite SORTED so the
        # compact's zone-map layout survives DML (no-op without the stamp)
        **table.cluster_write_args(snap, removes=touched_files, schema=schema),
    )
    m = _observed_metrics(obs, adds, pre_observe, metric_exprs)
    summary = {
        "rows_inserted": int(m.get("inserted") or 0),
        "rows_updated": int(m.get("updated") or 0),
        "rows_deleted": int(m.get("deleted") or 0),
        "buckets_rewritten": len(buckets) if buckets is not None else None,
        "files_carried": len(snap.files) - len(touched_files),
        "files_skipped_by_bloom": bloom_skipped,
    }
    return table.commit_rewrite(
        adds=adds,
        removes=touched_files,
        operation="merge",
        properties=properties,
        summary=summary,
        expected_version=snap.version + 1,
        rebase_from=snap if rebase else None,
        claim_buckets=buckets if rebase else None,
    )


def update(
    table: LakeTable,
    assignments: dict[str, Column],
    condition: Column | None = None,
    properties: dict | None = None,
) -> CommitResult:
    """UPDATE table SET ... WHERE ... (SampleCrud.scala:28-36).

    File-pruned copy-on-write: only files that contain ≥1 matching row are
    rewritten (located via input_file_name), the rest carry over.
    """
    return _rewrite_matching_files(table, condition, "update", properties, assignments)


def delete(
    table: LakeTable,
    condition: Column,
    properties: dict | None = None,
    mode: str = "cow",
) -> CommitResult:
    """DELETE FROM table WHERE ... (SampleCrud.scala:71-75).

    ``mode="cow"`` (default) rewrites every file containing a matching row
    — right when deletes are dense in the hit files. ``mode="mor"``
    (merge-on-read, Iceberg v2 positional-delete shape) records the doomed
    (file, row-position) pairs in a deletion-vector parquet and commits
    METADATA ONLY: no surviving row is rewritten, so a delete-heavy epoch
    (or an all-delete one) costs one scan + a tiny DV write instead of
    full-bucket write amplification. Readers anti-join the DV at scan time;
    ``compact()`` absorbs accumulated DVs back into clean files.
    """
    if mode == "mor":
        return _delete_mor(table, condition, properties)
    if mode != "cow":
        raise ValueError(f"unknown delete mode {mode!r} (cow|mor)")
    return _rewrite_matching_files(table, condition, "delete", properties, None)


def _delete_mor(
    table: LakeTable,
    condition: Column,
    properties: dict | None,
) -> CommitResult:
    from .bloom import prune_files_by_point_blooms
    from .stats import prune_files

    snap = table.snapshot()
    candidates = prune_files(snap.files, condition)
    # point-predicate blooms after zone maps (see _rewrite_matching_files)
    candidates = prune_files_by_point_blooms(table, snap, candidates, condition)
    df = table._read_files(
        candidates, snap.schema, files_meta=snap.files, keep_position=True
    )
    hits = df.where(F.coalesce(condition, F.lit(False))).select(
        F.col("__fname").alias("fname"), F.col("__pos").alias("pos")
    )
    # a delete that matches nothing commits unpinned, like the CoW path
    return _commit_dv(
        table, snap, hits, candidates, properties,
        summary={"files_candidates": len(candidates), "files_total": len(snap.files)},
        pin_empty=False,
    )


def mor_delete_keys(
    table: LakeTable,
    source_keys: DataFrame,
    keys: list[str],
    snap=None,
    properties: dict | None = None,
    touched_buckets: list[int] | None = None,
    broadcast: bool = True,
) -> CommitResult:
    """Delete every target row whose key appears in ``source_keys``, as
    deletion vectors (merge-on-read). This is the all-delete CDC epoch fast
    path: a 100%-delete epoch costs one bucket-pruned key-semi-join scan +
    a tiny DV write — NO surviving row is rewritten (copy-on-write MERGE
    would rewrite every touched bucket to drop a few rows). ``compact``
    absorbs the DVs later, off the ingest latency path. Files added after
    the commit never carry its DVs, so a re-inserted key survives.
    """
    snap = snap if snap is not None else table.snapshot()
    files, _, bloom_skipped = _key_targeted_files(
        table, snap, source_keys, keys, touched_buckets
    )
    tgt = table._read_files(files, snap.schema, files_meta=snap.files, keep_position=True)
    sk = source_keys.select(*keys).distinct()
    if broadcast:
        sk = F.broadcast(sk)
    hits = tgt.join(sk, on=list(keys), how="left_semi").select(
        F.col("__fname").alias("fname"), F.col("__pos").alias("pos")
    )
    return _commit_dv(
        table, snap, hits, files, properties,
        summary={"files_scanned": len(files), "files_skipped_by_bloom": bloom_skipped},
    )


def _rewrite_matching_files(
    table: LakeTable,
    condition: Column | None,
    operation: str,
    properties: dict | None,
    assignments: dict[str, Column] | None,
) -> CommitResult:
    """Two jobs per mutation: (1) a predicate-pushed file-discovery scan,
    (2) the rewrite of hit files with the affected-row count riding it via
    Dataset.observe — no separate count probes (same trick MERGE uses;
    r1 did 3-4 jobs here)."""
    from uuid import uuid4

    from pyspark.sql import Observation

    from .stats import prune_files

    snap = table.snapshot()
    schema = snap.schema
    cond = F.lit(True) if condition is None else condition
    # zone-map prune FIRST: only files whose min/max stats overlap the
    # predicate enter the discovery scan (at 100 TB a selective mutation
    # opens a handful of files, not the table)
    candidates = prune_files(snap.files, condition)
    # bloom prune SECOND: zone maps don't bite on uniformly-distributed
    # (hash/uuid/path) columns — equality/IN conjuncts test driver-side
    # against per-file blooms, so a point mutation on a random key opens
    # ~1 file instead of every file of its bucket (lake/bloom.py)
    from .bloom import prune_files_by_point_blooms

    n_zone = len(candidates)
    candidates = prune_files_by_point_blooms(table, snap, candidates, condition)
    bloom_pruned = n_zone - len(candidates)
    # DV-aware discovery: already-deleted rows can't re-match; file identity
    # comes from the scan's own __fname (basename, uuid-unique) rather than
    # input_file_name(), which goes ambiguous once the DV scan joins in.
    df = table._read_files(
        candidates, schema, files_meta=snap.files, keep_position=True
    )
    hit_fnames = [
        r["__fname"]
        for r in df.where(cond).select("__fname").distinct().collect()
    ]
    fname_to_rel = {os.path.basename(p): p for p in candidates}
    rel_hits = sorted(fname_to_rel[f] for f in hit_fnames)
    if not rel_hits:
        return table.commit_rewrite(
            [], [], operation, properties=properties,
            summary={
                "rows_affected": 0,
                "files_candidates": len(candidates),
                "files_total": len(snap.files),
            },
        )
    sub = table._read_files(rel_hits, schema, files_meta=snap.files)
    # SQL semantics: a NULL condition neither updates nor deletes the row.
    pre_observe = sub.withColumn("__hit", F.coalesce(cond, F.lit(False)))
    obs = Observation(f"{operation}-{uuid4().hex}")
    metric_exprs = [F.sum(F.when(F.col("__hit"), 1).otherwise(0)).alias("matched")]
    # CollectMetrics is a pushdown barrier, so the observe sees every row of
    # the hit files — which the rewrite must read anyway.
    flagged = pre_observe.observe(obs, *metric_exprs)
    if operation == "delete":
        out = flagged.where(~F.col("__hit")).select(
            *[F.col(f.name) for f in schema.fields]
        )
    else:
        out_cols = []
        for f in schema.fields:
            if assignments and f.name in assignments:
                out_cols.append(
                    F.when(F.col("__hit"), assignments[f.name].cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                out_cols.append(F.col(f.name))
        out = flagged.select(*out_cols)
    from .bloom import bloom_cols_of

    adds = table._stage_dataframe(
        out, schema, snap.num_buckets, snap.key_cols,
        bloom_cols=bloom_cols_of(snap),
        **table.cluster_write_args(snap, removes=rel_hits, schema=schema),
    )
    m = _observed_metrics(obs, adds, pre_observe, metric_exprs)
    summary = {
        "rows_affected": int(m.get("matched") or 0),
        "files_candidates": len(candidates),
        "files_bloom_pruned": bloom_pruned,
        "files_total": len(snap.files),
    }
    return table.commit_rewrite(
        adds=adds,
        removes=rel_hits,
        operation=operation,
        properties=properties,
        summary=summary,
        expected_version=snap.version + 1,
    )
