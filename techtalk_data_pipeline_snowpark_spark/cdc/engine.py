"""CdcEngine — change-event replay with exactly-once epochs.

The Spark-native re-expression of the reference's stream-consume +
MERGE-in-transaction pattern (IngestOrdersFromRawToFlat.scala:63-98 via
executeInTransaction, SnowflakeUtils.scala:68-81): an *epoch* is a half-open
LSN range ``(last_applied, last_applied + step]``; its events are

    sliced → schema-reconciled → vectorized-transformed (pandas/Arrow UDFs)
    → max-LSN deduped → MERGE'd into the lake table

and the epoch manifest (epoch id, LSN range, per-bucket offsets, lineage,
merge metrics) is committed **in the same atomic log entry as the data** —
that single commit is the transaction. Replaying an epoch that is already
recorded is a no-op (the LSN slice filter returns nothing), so duplicate
delivery and crash-resume are both safe: exactly-once *effects*.

Scale notes:
- the epoch slice filter (`lsn > a AND lsn <= b`) is a plain predicate →
  pushed into the parquet/lake scan of the event log (PushedFilters).
- dedup uses max_by partial aggregation (see cdc/dedup.py) — hot repos are
  collapsed map-side; `salted=True` adds an explicit two-phase reduction.
- MERGE rewrites only the buckets the epoch touches (lake/merge.py).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import (
    canonicalize_content,
    canonicalize_content_sql,
    normalize_and_canonicalize,
    normalize_lang,
    normalize_lang_sql,
    sha256_hex,
)
from ..lake import ConcurrentCommitError, LakeTable, bucket_expr, merge_into
from .dedup import (
    dedup_latest,
    dedup_latest_salted,
    dedup_latest_via_winners,
    winner_keys,
)
from .schema_evolution import reconcile

ENGINE_COLS = {"op"}
PROP_LAST_LSN = "cdc.last_lsn"
PROP_EPOCH_ID = "cdc.epoch_id"

@dataclass
class EpochResult:
    epoch_id: int
    lsn_from: int
    lsn_to: int
    events: int
    rows_inserted: int
    rows_updated: int
    rows_deleted: int
    skipped: bool = False


class EpochAuditError(RuntimeError):
    """An audited (WAP-mode) epoch failed its audit: the branch was
    dropped, main never saw a row, and the watermark did not advance —
    the replay stops here instead of publishing bad data. Repair upstream
    (or relax the audit) and re-run; the epoch recomputes from scratch."""

    def __init__(self, result: EpochResult, message: str):
        super().__init__(message)
        self.result = result


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        key_cols: tuple[str, ...] = ("repo", "path"),
        num_buckets: int = 32,
        salted: bool = False,
        num_salts: int = 16,
        use_pandas_udfs: bool = True,
        broadcast_key_limit: int = 2_000_000,
        all_delete_mode: str = "mor",
        quarantine_dir: str | None = None,
        audit_fn=None,
        bloom: bool = False,
    ):
        self.spark = spark
        self.table_root = table_root
        self.key_cols = list(key_cols)
        self.num_buckets = num_buckets
        self.salted = salted
        self.num_salts = num_salts
        self.use_pandas_udfs = use_pandas_udfs
        # winner sets up to this many keys are broadcast for the payload
        # semi-join (map-side, zero payload shuffle); larger epochs fall
        # back to a shuffled semi-join whose key partitioning the merge
        # join then reuses.
        self.broadcast_key_limit = broadcast_key_limit
        # opt-in per-file key blooms on the lake table (lake/bloom.py):
        # MERGE/DELETE rewrite only files that may contain an epoch key —
        # write amplification drops from bucket-grain to file-grain on
        # selective epochs (hot-subset CDC), at the cost of building
        # blooms for each staged file. Set at table CREATE; a pre-existing
        # table keeps whatever bloom property it already carries.
        self.bloom = bloom
        # How a 100%-delete epoch commits (compact() absorbs either MOR
        # form off the ingest path):
        #   "mor"      — positional deletion vectors: key-semi-join scan of
        #                the touched buckets records doomed (file, pos)
        #                pairs; exact rows_deleted metric (default).
        #   "equality" — equality deletes: the KEY SET itself is committed,
        #                ZERO table scan (O(keys) regardless of table
        #                size); rows_deleted then reports the number of
        #                winner keys targeted, not rows proven live —
        #                final state is still exact (readers anti-join).
        #   "merge"    — copy-on-write MERGE (rewrites touched buckets).
        if all_delete_mode not in ("mor", "equality", "merge"):
            raise ValueError(f"unknown all_delete_mode {all_delete_mode!r}")
        self.all_delete_mode = all_delete_mode
        # dead-letter channel: events whose key columns contain nulls (the
        # WAL contract requires a full key) are counted in every epoch's
        # manifest (null_key_winners, from the same stats pass — free) and,
        # when quarantine_dir is set, the raw offending EVENTS are appended
        # there for inspection / replay-after-fix.
        self.quarantine_dir = quarantine_dir
        # Write-audit-publish: with audit_fn set, every epoch applies on a
        # BRANCH of the lake table (lake/table.py branch refs); the audit
        # reads the branch while main still serves the pre-epoch snapshot,
        # and only a passing audit publishes (one atomic squash commit,
        # watermark included). Signature: audit_fn(branch_table: LakeTable,
        # result: EpochResult) -> bool. A failing audit drops the branch
        # and raises EpochAuditError — bad upstream data can never become
        # visible, and the watermark never advances past it.
        self.audit_fn = audit_fn
        # background-maintenance observability: CUMULATIVE across replay()
        # calls on this engine (a resume re-replay with bg off must not
        # zero the counts the first replay earned)
        self.background_compactions = 0
        self.background_compact_conflicts = 0
        self.background_compact_errors = 0

    def _create_properties(self) -> dict | None:
        if not self.bloom:
            return None
        from ..lake.bloom import PROP_BLOOM_COLS

        return {PROP_BLOOM_COLS: json.dumps(list(self.key_cols))}

    # ------------------------------------------------------------- state
    def table(self) -> LakeTable:
        return LakeTable(self.spark, self.table_root)

    def table_exists(self) -> bool:
        return self.table().exists()

    def _mark(self) -> tuple[int, int]:
        """(watermark, last epoch id), both from one snapshot load."""
        table = self.table()
        if not table.exists():
            return 0, 0
        props = table.snapshot().properties
        return int(props.get(PROP_LAST_LSN, 0)), int(props.get(PROP_EPOCH_ID, 0))

    def last_lsn(self) -> int:
        return self._mark()[0]

    def last_epoch_id(self) -> int:
        return self._mark()[1]

    def _routes(self, events: DataFrame, lineage: dict | None) -> dict:
        """This table as the only route of the epoch scheduler
        (cdc/epochs.py): a single table is a one-route fan-out."""
        return {self.table_root: (self, events, lineage)}

    # --------------------------------------------------------- transforms
    def _target_schema(self, events_schema: T.StructType) -> T.StructType:
        payload = [f for f in events_schema.fields if f.name not in ENGINE_COLS]
        fields = [T.StructField(f.name, f.dataType, True) for f in payload]
        if "content" in {f.name for f in payload}:
            fields.append(T.StructField("content_sha256", T.StringType(), True))
        return T.StructType(fields)

    def _transform(self, events: DataFrame) -> DataFrame:
        """Vectorized row transforms (north_star): lang normalization,
        content canonicalization, sha256 — pandas/Arrow UDFs by default,
        JVM expressions when use_pandas_udfs=False (bit-identical output,
        tested).

        The two pandas transforms are FUSED into one struct-returning UDF
        (one Arrow exchange instead of two — content strings dominate the
        traffic). sha256 is always JVM-side (F.sha2, whole-stage codegen):
        hashlib has no vectorized form, so a pandas sha UDF would be
        per-row Python — exactly what the north_star forbids. Parity with
        sha256_hex_pandas is unit-tested (test_functions.py)."""
        is_del = F.col("op") == "delete"
        cols = set(events.columns)
        out = events
        if self.use_pandas_udfs and "lang" in cols and "content" in cols:
            packed = normalize_and_canonicalize(F.col("lang"), F.col("content"))
            out = out.withColumn("_t", packed)
            out = out.withColumn(
                "lang", F.when(is_del, F.lit(None)).otherwise(F.col("_t.lang"))
            ).withColumn(
                "content", F.when(is_del, F.lit(None)).otherwise(F.col("_t.content"))
            ).drop("_t")
        else:
            if "lang" in cols:
                lang = (
                    normalize_lang(F.col("lang"))
                    if self.use_pandas_udfs
                    else normalize_lang_sql(F.col("lang"))
                )
                out = out.withColumn("lang", F.when(is_del, F.lit(None)).otherwise(lang))
            if "content" in cols:
                content = (
                    canonicalize_content(F.col("content"))
                    if self.use_pandas_udfs
                    else canonicalize_content_sql(F.col("content"))
                )
                out = out.withColumn(
                    "content", F.when(is_del, F.lit(None)).otherwise(content)
                )
        if "content" in cols:
            out = out.withColumn(
                "content_sha256",
                F.when(is_del, F.lit(None)).otherwise(sha256_hex(F.col("content"))),
            )
        return out

    # ------------------------------------------------------------- epochs
    def apply_epoch(
        self,
        events: DataFrame,
        lsn_from: int,
        lsn_to: int,
        lineage: dict | None = None,
        _retries: int = 3,
    ) -> EpochResult:
        """Apply the epoch ``(lsn_from, lsn_to]``. Idempotent: if the table
        already recorded lsn >= lsn_to, the epoch is skipped outright.

        Safe under COMPETING replayers: every data commit pins its expected
        version (optimistic concurrency), so a racing writer cannot corrupt
        state — the loser's commit raises, and this wrapper re-checks the
        table: if the rival applied the same epoch, the result is a skip
        (exactly-once effects across processes); if the rival's commit was
        unrelated, the epoch recomputes against the fresh snapshot. Staged
        files of a lost race are unreferenced orphans (vacuum cleans them).
        """
        try:
            if self.audit_fn is not None:
                return self._apply_epoch_wap(events, lsn_from, lsn_to, lineage)
            return self._apply_epoch_once(events, lsn_from, lsn_to, lineage)
        except ConcurrentCommitError:
            applied, epoch_id = self._mark()
            if applied >= lsn_to:
                return EpochResult(epoch_id, lsn_from, lsn_to, 0, 0, 0, 0, skipped=True)
            if _retries <= 0:
                raise
            return self.apply_epoch(events, lsn_from, lsn_to, lineage, _retries - 1)

    def _apply_epoch_wap(
        self,
        events: DataFrame,
        lsn_from: int,
        lsn_to: int,
        lineage: dict | None = None,
    ) -> EpochResult:
        """Write-audit-publish epoch: the whole epoch (schema evolution,
        merge or MOR delete, manifest, watermark) applies on a BRANCH of
        the lake table; ``audit_fn(branch, result)`` inspects it while
        main still serves the pre-epoch snapshot; a pass publishes the
        branch's net delta as ONE atomic commit on main, a fail drops the
        branch and raises :class:`EpochAuditError`.

        Crash/exactly-once posture: the branch name is derived from
        ``lsn_to``, so a crashed attempt's stale branch is dropped and
        re-forked on retry (main's watermark didn't move), and a crash
        AFTER publish is caught by the watermark check (the stale branch
        is dropped without re-applying). A competing replayer publishing
        the same epoch first surfaces as the publish's both-sides property
        conflict → ConcurrentCommitError → apply_epoch's skip/retry.

        Caveat: WAP assumes ONE live replayer per table (the audit gate is
        a pipeline-control point). Two replayers attempting the SAME epoch
        simultaneously share a branch name, and the stale-branch drop
        below could yank a live rival's branch mid-merge (its next write
        errors and its retry re-checks the watermark — converges, but
        noisily). Non-WAP mode keeps the lock-free competing-replayer
        guarantee."""
        main = self.table()
        if not main.exists():
            # WAP needs a main lineage to fork: create the EMPTY table
            # (schema metadata only — no rows visible until a publish).
            sliced = events.where(
                (F.col("lsn") > lsn_from) & (F.col("lsn") <= lsn_to)
            )
            try:
                LakeTable.create(
                    self.spark,
                    self.table_root,
                    self._target_schema(sliced.schema),
                    key_cols=self.key_cols,
                    num_buckets=self.num_buckets,
                    properties=self._create_properties(),
                )
            except (FileExistsError, ConcurrentCommitError):
                pass  # competing replayer created it — adopt
        name = f"wap-epoch-{lsn_to}"
        applied, epoch_id = self._mark()
        if applied >= lsn_to:
            main.drop_branch(name)  # crash between publish and drop
            return EpochResult(epoch_id, lsn_from, lsn_to, 0, 0, 0, 0, skipped=True)
        main.drop_branch(name)  # crash before publish: re-fork fresh
        br = main.create_branch(name)
        res = self._apply_epoch_once(events, lsn_from, lsn_to, lineage, table=br)
        if res.skipped:
            main.drop_branch(name)
            return res
        if not self.audit_fn(br, res):
            main.drop_branch(name)
            raise EpochAuditError(
                res,
                f"epoch {res.epoch_id} (lsn {lsn_from}..{lsn_to}] failed its "
                "audit; branch dropped, main untouched, watermark unchanged",
            )
        main.publish_branch(name)
        return res

    def _apply_epoch_once(
        self,
        events: DataFrame,
        lsn_from: int,
        lsn_to: int,
        lineage: dict | None = None,
        table: LakeTable | None = None,
    ) -> EpochResult:
        """One optimistic attempt — see apply_epoch for the retry contract.

        The table snapshot is read ONCE per epoch (shared with offsets,
        reconciliation, and the merge) — a long replay stays O(epochs)
        driver work, not O(epochs × log replays). ``table`` overrides the
        commit target (WAP mode passes a branch handle; everything else
        is lineage-agnostic)."""
        table = table if table is not None else self.table()
        snap0 = table.snapshot() if table.exists() else None
        epoch_id = (int(snap0.properties.get(PROP_EPOCH_ID, 0)) if snap0 else 0) + 1
        applied = int(snap0.properties.get(PROP_LAST_LSN, 0)) if snap0 else 0
        if applied >= lsn_to:
            return EpochResult(epoch_id - 1, lsn_from, lsn_to, 0, 0, 0, 0, skipped=True)
        lsn_from = max(lsn_from, applied)

        sliced = events.where((F.col("lsn") > lsn_from) & (F.col("lsn") <= lsn_to))

        # schema reconciliation BEFORE transforms (hard part c)
        batch_target_schema = self._target_schema(sliced.schema)
        if snap0 is not None:
            evolved, added, widened = reconcile(snap0.schema, batch_target_schema, key_cols=list(self.key_cols))
        else:
            try:
                table = LakeTable.create(
                    self.spark,
                    self.table_root,
                    batch_target_schema,
                    key_cols=self.key_cols,
                    num_buckets=self.num_buckets,
                    properties=self._create_properties(),
                )
                snap0 = table.snapshot()
                evolved, added, widened = batch_target_schema, [], []
            except (FileExistsError, ConcurrentCommitError):
                # a competing replayer created the table between our
                # existence check and the create — adopt its table. Its v1
                # commit may still be in flight (we can see the rival's
                # tmp file before the atomic link lands): wait it out.
                for _ in range(100):
                    try:
                        snap0 = table.snapshot()
                        break
                    except FileNotFoundError:
                        time.sleep(0.05)
                else:
                    raise
                evolved, added, widened = reconcile(snap0.schema, batch_target_schema, key_cols=list(self.key_cols))
        # The engine's bucket ids (offsets manifest + merge pruning hints)
        # are only meaningful if they agree with how the table's files were
        # actually bucketed. On mismatch (engine constructed with different
        # num_buckets/key order than an existing table) fall back to letting
        # merge_into derive pruning from the snapshot itself.
        from ..lake.table import bucket_layout_trusted

        buckets_trusted = (
            snap0.num_buckets == self.num_buckets
            and list(snap0.key_cols) == list(self.key_cols)
            and bucket_layout_trusted(snap0)
        )

        # Late materialization: winner (key, lsn, op) from a column-pruned
        # scan — content bytes don't move for losing rows at all. This tiny
        # frame drives offsets, merge metrics, AND the payload semi-join,
        # so the full-payload slice is executed exactly once per epoch
        # (inside the merge) with at most ONE payload shuffle. Replaces a
        # localCheckpoint of the full payload that cost ~20s/epoch at 6M
        # events and hammered the block store.
        winners = winner_keys(sliced, self.key_cols)
        from pyspark import StorageLevel

        winners = winners.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return self._epoch_body(
                table, snap0, winners, sliced, evolved, added, widened,
                buckets_trusted, epoch_id, lsn_from, lsn_to, lineage,
            )
        finally:
            winners.unpersist()

    def _epoch_body(
        self, table, snap0, winners, sliced, evolved, added, widened,
        buckets_trusted, epoch_id, lsn_from, lsn_to, lineage,
    ) -> EpochResult:
        # Null-key events violate the WAL contract (a change event without a
        # full key addresses nothing) — every equi-join in the pipeline
        # would drop them SILENTLY. Count them in the same stats pass (free)
        # and surface the count in the manifest; quarantine_dir additionally
        # lands the offending raw events for inspection/replay-after-fix.
        null_key = None
        for k in self.key_cols:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        stats = winners.groupBy(
            bucket_expr(self.key_cols, self.num_buckets, winners.schema).alias("_b")
        ).agg(
            F.max("lsn").alias("max_lsn"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_del"),
            F.sum(F.when(null_key, 1).otherwise(0)).alias("n_null"),
            F.sum(
                F.when(null_key & (F.col("op") == "delete"), 1).otherwise(0)
            ).alias("n_null_del"),
        )
        stat_rows = stats.collect()
        n_null_winners = int(sum(r["n_null"] for r in stat_rows))
        # null-key winners never reach the merge (equi-joins can't match
        # them) — exclude them from the applied-event and delete counts so
        # metrics reflect what actually landed.
        n_events = int(sum(r["n"] for r in stat_rows)) - n_null_winners
        n_delete_winners = int(sum(r["n_del"] for r in stat_rows)) - int(
            sum(r["n_null_del"] for r in stat_rows)
        )
        partition_offsets = {str(r["_b"]): int(r["max_lsn"]) for r in stat_rows}
        if n_null_winners and self.quarantine_dir:
            import os as _os

            # one OVERWRITTEN subdir per epoch, named by lsn_to ONLY:
            # _apply_epoch_once narrows lsn_from to max(lsn_from, applied),
            # so a name that included lsn_from would differ across an
            # overlapping redelivery of the same producer range (streaming
            # restart, competing replayer) and dead letters would duplicate
            # across dirs (review finding). lsn_to is stable across
            # narrowing and retries of the same epoch boundary.
            sliced.where(null_key).write.mode("overwrite").parquet(
                _os.path.join(self.quarantine_dir, f"epoch-{lsn_to}")
            )

        # Payload path: salted two-phase reduction for adversarial skew, or
        # the default winners semi-join (broadcast while the winner set is
        # driver-manageable, shuffled semi-join beyond that). Dedup runs
        # BEFORE the row transforms either way: canonicalization of losing
        # rows would be wasted Arrow traffic.
        if self.salted:
            deduped_raw = dedup_latest_salted(sliced, self.key_cols, self.num_salts)
        else:
            deduped_raw = dedup_latest_via_winners(
                sliced, self.key_cols, winners,
                broadcast=n_events <= self.broadcast_key_limit,
            )
        # explicit null-key drop: the winners SEMI-JOIN drops them as a side
        # effect, but the salted path (a pure groupBy) would carry them into
        # the merge where the full-outer join can't match them — they'd
        # materialize as garbage all-null rows. Uniform in both modes.
        deduped_raw = deduped_raw.where(~null_key)
        dedup = self._transform(deduped_raw)

        if n_events == 0:
            res = table.commit_rewrite(
                [], [], "cdc-epoch",
                properties={
                    PROP_LAST_LSN: lsn_to, PROP_EPOCH_ID: epoch_id,
                    "cdc.manifest": json.dumps(
                        {"epoch_id": epoch_id, "lsn_from": lsn_from, "lsn_to": lsn_to,
                         "partition_offsets": {}, "lineage": lineage or {},
                         # a 100%-malformed epoch must still report its
                         # dead letters — this branch IS that epoch
                         "null_key_winners": n_null_winners,
                         "quarantined_to": (
                             self.quarantine_dir if n_null_winners else None
                         ),
                         "committed_at": time.time()}
                    ),
                },
                summary={"rows_inserted": 0, "rows_updated": 0, "rows_deleted": 0},
                expected_version=snap0.version + 1,
            )
            return EpochResult(epoch_id, lsn_from, lsn_to, 0, 0, 0, 0)

        snap_for_merge = snap0
        if added or widened:
            # version-pinned like every other epoch commit: without the pin,
            # a rival's interleaved commit would be silently absorbed here
            # and the epoch double-applied (review finding r2) — with it,
            # the race raises and the apply_epoch wrapper re-checks/retries.
            table.commit_rewrite(
                [], [], "evolve-schema", schema=evolved,
                properties={"cdc.schema_added": json.dumps(added),
                            "cdc.schema_widened": json.dumps(widened)},
                expected_version=snap0.version + 1,
            )
            snap_for_merge = table.snapshot()

        manifest = {
            "epoch_id": epoch_id,
            "lsn_from": lsn_from,
            "lsn_to": lsn_to,
            "partition_offsets": partition_offsets,
            # the bucketing function the offset keys were computed under —
            # consumers must NOT assume they match the table's file layout
            # (they differ exactly when buckets_trusted is false)
            "bucket_config": {
                "num_buckets": self.num_buckets,
                "key_cols": self.key_cols,
                "matches_table_layout": buckets_trusted,
            },
            "lineage": lineage or {},
            "null_key_winners": n_null_winners,
            "quarantined_to": self.quarantine_dir if n_null_winners else None,
            "committed_at": time.time(),
        }
        if (
            self.all_delete_mode != "merge"
            and n_delete_winners == n_events
            and snap_for_merge.files
        ):
            # every winner is a delete → merge-on-read. "mor": key-semi-join
            # scan of the touched buckets records doomed (file, pos) pairs
            # as deletion vectors; zero surviving rows rewritten.
            # "equality": the key set itself is the commit — no scan at all.
            # Either way the commit still carries the epoch manifest + LSN
            # watermark atomically.
            props = {
                PROP_LAST_LSN: lsn_to,
                PROP_EPOCH_ID: epoch_id,
                "cdc.manifest": json.dumps(manifest),
            }
            tb = [int(b) for b in partition_offsets] if buckets_trusted else None
            # null-key winners can't address a row — keep them out of the
            # committed key set / position scan (and out of keys_deleted)
            winners_ok = winners.where(~null_key)
            if self.all_delete_mode == "equality":
                from ..lake.merge import equality_delete_keys

                res = equality_delete_keys(
                    table,
                    winners_ok,
                    self.key_cols,
                    snap=snap_for_merge,
                    properties=props,
                    touched_buckets=tb,
                )
                deleted = res.summary["keys_deleted"]
            else:
                from ..lake.merge import mor_delete_keys

                res = mor_delete_keys(
                    table,
                    winners_ok,
                    self.key_cols,
                    snap=snap_for_merge,
                    properties=props,
                    touched_buckets=tb,
                    broadcast=n_events <= self.broadcast_key_limit,
                )
                deleted = res.summary["rows_affected"]
            return EpochResult(
                epoch_id, lsn_from, lsn_to, n_events, 0, 0, deleted,
            )

        res = merge_into(
            table,
            dedup,
            on=self.key_cols,
            when_matched_update="all",
            when_matched_delete=F.col("s.op") == "delete",
            when_not_matched_insert=True,
            properties={
                PROP_LAST_LSN: lsn_to,
                PROP_EPOCH_ID: epoch_id,
                "cdc.manifest": json.dumps(manifest),
            },
            touched_buckets=(
                [int(b) for b in partition_offsets] if buckets_trusted else None
            ),
            snap=snap_for_merge,
        )
        return EpochResult(
            epoch_id, lsn_from, lsn_to, n_events,
            res.summary["rows_inserted"], res.summary["rows_updated"],
            res.summary["rows_deleted"],
        )

    def replay(
        self,
        events: DataFrame,
        max_lsn: int | None = None,
        epoch_size: int = 1_000_000,
        lineage: dict | None = None,
        compact_every: int | None = None,
        compact_max_files_per_bucket: int = 1,
        compact_sort_by: list[str] | None = None,
        compact_zorder: bool = False,
        compact_bin_pack_rows: int | None = None,
        background_compact_interval: float | None = None,
    ) -> list[EpochResult]:
        """Replay the whole event log in epochs; resumes from the last
        committed epoch automatically (reads the manifest — SURVEY.md §4
        item 4). The epochs run through the epoch scheduler
        (cdc/epochs.py) as a one-route fan-out, on its worker thread.

        ``compact_every=K`` runs table maintenance (``LakeTable.compact``:
        small-file consolidation + deletion-vector absorption) after every
        K applied epochs — the long-tail hygiene a continuous ingest needs
        so per-epoch files and MOR tombstones can't accumulate unboundedly.
        ``compact_bin_pack_rows=N`` switches maintenance to the size-based
        bin-packing policy (only sub-target files rewrite — constant write
        amplification per row over the table's lifetime, vs whole-bucket
        rewrites growing with the bucket).
        ``compact_sort_by``/``compact_zorder`` additionally cluster the
        rewritten buckets (1-D range or multi-column Z-order —
        lake/zorder.py) so the ingest loop keeps the table laid out for
        the read workload's zone-map pruning, not just small-file-free.
        Compaction is row-invariant and changelog-invisible, so resumed
        replays, competing replayers, and stream consumers are unaffected
        (the optimistic version pin simply retries if a compact lands
        between an epoch's snapshot and its commit).

        ``background_compact_interval=SECONDS`` moves maintenance OFF the
        ingest path entirely: a daemon thread compacts concurrently with
        the epoch loop using the optimistic rebase
        (``compact(rebase=True)`` — a lost race re-commits metadata-only,
        so the compactor keeps up with the stream instead of redoing
        rewrites; BENCH.md "optimistic commit rebase under contention"),
        and the epoch loop's own conflict handling (apply_epoch's
        skip/retry) absorbs the races it loses to the compactor. The
        thread stops, and is joined, before replay returns. Mutually
        exclusive with ``compact_every`` (pick inline or background) and
        with WAP (``audit_fn``): a main-table compact landing between a
        WAP fork and its publish would invalidate the publish rebase."""
        if background_compact_interval is not None:
            if background_compact_interval <= 0:
                raise ValueError(
                    "background_compact_interval must be > 0 seconds "
                    "(omit it to disable background maintenance) — 0 "
                    "would busy-loop snapshot reads against the store"
                )
            if compact_every:
                raise ValueError(
                    "background_compact_interval and compact_every are "
                    "mutually exclusive — maintenance runs inline OR in "
                    "the background, not both"
                )
            if self.audit_fn is not None:
                raise ValueError(
                    "background compaction cannot run under WAP: a main "
                    "compact between fork and publish invalidates the "
                    "publish rebase — use compact_every (inline) instead"
                )
        from .epochs import walk  # imports this module

        epochs = walk(
            self.spark, events, self._routes(events, lineage), epoch_size, max_lsn
        )

        def _compact_once(rebase: bool) -> int:
            """One maintenance pass with the replay's compact knobs —
            shared by the inline (compact_every) and background paths so
            a future knob cannot silently diverge between them. Returns
            files compacted (0 = no-op, no commit)."""
            res = self.table().compact(
                max_files_per_bucket=compact_max_files_per_bucket,
                sort_by=compact_sort_by,
                zorder=compact_zorder,
                bin_pack_rows=compact_bin_pack_rows,
                rebase=rebase,
            )
            return res.summary.get("files_compacted", 0)

        bg_stop = bg_thread = None
        if background_compact_interval is not None:
            import threading

            bg_stop = threading.Event()

            def _bg_compact():
                while not bg_stop.wait(background_compact_interval):
                    try:
                        if not self.table().exists():
                            continue  # first epoch hasn't created it yet
                        if _compact_once(rebase=True):
                            self.background_compactions += 1
                    except ConcurrentCommitError:
                        # rebase refused (a merge rewrote a victim under
                        # us) — next tick recomputes against fresh state
                        self.background_compact_conflicts += 1
                    except Exception:  # noqa: BLE001 — maintenance is
                        # best-effort by design: a transient read racing a
                        # commit (missing staging file, torn snapshot) must
                        # not kill the daemon; the next tick re-reads fresh
                        # state. The replay's own correctness never depends
                        # on this thread.
                        self.background_compact_errors += 1

            bg_thread = threading.Thread(target=_bg_compact, daemon=True)
            bg_thread.start()

        try:
            results = []
            for epoch in epochs:
                results.extend(epoch.values())
                if compact_every and len(results) % compact_every == 0:
                    try:
                        _compact_once(rebase=False)
                    except ConcurrentCommitError:
                        # a rival committed between our snapshot and the
                        # compact commit — maintenance is best-effort, the
                        # next cycle (or the rival's own) compacts; never
                        # abort the replay
                        pass
        finally:
            if bg_stop is not None:
                bg_stop.set()
                # unconditional join: the loop exits after at most one
                # in-flight compact (every tick's exceptions are caught,
                # wait() returns immediately once set). Returning with the
                # thread alive would be worse than waiting — a caller's
                # vacuum could reclaim files the straggler is about to
                # commit a reference to.
                bg_thread.join()
        return results

    # ------------------------------------------------------------- source
    def read_state(self) -> DataFrame:
        return self.table().read()

    def manifests(self) -> list[dict]:
        """All RETAINED epoch manifests, oldest first. ``vacuum_metadata``
        may have pruned log entries below the newest checkpoint horizon —
        start from ``oldest_version()`` (the unguarded default start=1
        crashed on the pruned reads; review finding). Manifests for pruned
        epochs are gone with their log entries: consumers that reason about
        LSN coverage (stream ordering detection, quarantine replay) must
        treat the pre-horizon range as applied — the watermark only ever
        advanced through committed epochs."""
        t = self.table()
        out = []
        for e in t.log_entries(t.oldest_version()):
            m = e.get("properties", {}).get("cdc.manifest")
            if m:
                d = json.loads(m)
                d["summary"] = e.get("summary", {})
                out.append(d)
        return out

    # --------------------------------------------------- quarantine lifecycle
    def quarantined_epochs(self) -> list[str]:
        """Dead-letter subdirs (``epoch-<lsn_to>``) awaiting repair, oldest
        first (by the lsn_to embedded in the name)."""
        import os as _os

        if not self.quarantine_dir or not _os.path.isdir(self.quarantine_dir):
            return []
        dirs = [
            d for d in _os.listdir(self.quarantine_dir)
            if d.startswith("epoch-")
            and _os.path.isdir(_os.path.join(self.quarantine_dir, d))
        ]
        return sorted(dirs, key=lambda d: int(d.rsplit("-", 1)[-1]))

    def replay_quarantined(self, fix_fn, prune: bool = True) -> list[EpochResult]:
        """Re-ingest repaired dead letters through the NORMAL epoch path.

        ``fix_fn(df) -> df`` repairs the quarantined raw events (same schema
        as the source stream — typically filling the null key columns).
        Repaired events are assigned fresh LSNs above the current watermark
        (relative order preserved, so a later fix of the same key still
        wins dedup) and applied as ordinary epochs: same dedup, transforms,
        MERGE, manifest, and exactly-once machinery.

        Exactly-once across crashes: each replayed dir is stamped into its
        epoch manifest's lineage (``quarantine_replay``); a re-run that
        finds the stamp already committed only prunes the dir. Rows the fix
        leaves still null-keyed simply re-quarantine under the new epoch's
        name — nothing is lost, nothing double-applies.

        Scale note: the LSN remap is a row_number over a single-partition
        window — bounded by the dead-letter set, which is tiny by
        definition (it is the MALFORMED tail, not the stream).
        """
        import os as _os
        import shutil as _shutil

        from pyspark.sql import Window

        results: list[EpochResult] = []
        done = {
            m.get("lineage", {}).get("quarantine_replay")
            for m in self.manifests()
        }
        for d in self.quarantined_epochs():
            path = _os.path.join(self.quarantine_dir, d)
            if d in done:
                if prune:
                    _shutil.rmtree(path, ignore_errors=True)
                continue
            raw = self.spark.read.parquet(path)
            fixed = fix_fn(raw)
            watermark = self.last_lsn()
            w = Window.orderBy("lsn", *self.key_cols)
            ev = fixed.withColumn(
                "lsn", (F.lit(watermark) + F.row_number().over(w)).cast("long")
            )
            n = ev.count()
            if n == 0:
                if prune:
                    _shutil.rmtree(path, ignore_errors=True)
                continue
            res = self.apply_epoch(
                ev, watermark, watermark + n,
                lineage={"quarantine_replay": d, "quarantine_path": path},
            )
            results.append(res)
            if prune:
                _shutil.rmtree(path, ignore_errors=True)
        return results

    def vacuum_quarantine(self, older_than_sec: float) -> list[str]:
        """Retention pruning for the dead-letter channel: remove quarantine
        subdirs whose newest file is older than ``older_than_sec`` — the
        long-tail bound for upstreams with persistent corruption nobody
        repairs. Returns the removed dir names."""
        import os as _os
        import shutil as _shutil

        removed = []
        now = time.time()
        for d in self.quarantined_epochs():
            path = _os.path.join(self.quarantine_dir, d)
            newest = max(
                (
                    _os.path.getmtime(_os.path.join(r, f))
                    for r, _, fs in _os.walk(path)
                    for f in fs
                ),
                default=_os.path.getmtime(path),
            )
            if now - newest > older_than_sec:
                _shutil.rmtree(path, ignore_errors=True)
                removed.append(d)
        return removed


def merge_projected_update_row(schema: T.StructType, source_cols: set[str]):
    """Columns absent from a batch keep their target value on update —
    used when schema evolution adds columns mid-stream."""
    return {
        f.name: F.coalesce(F.col(f"s.{f.name}"), F.col(f"t.{f.name}"))
        for f in schema.fields
        if f.name in source_cols
    }
