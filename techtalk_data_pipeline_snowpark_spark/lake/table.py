"""LakeTable — a minimal versioned-parquet table format with atomic commits.

Plays the role that Snowflake tables + multi-statement transactions play in
the reference (SnowflakeUtils.scala:36-45,68-81 `executeInTransaction`;
stream offsets advance atomically with the DML at commit). Here a *single
atomic commit* carries data-file adds/removes, the current schema, arbitrary
properties (the CDC commit-epoch manifest lives here), and merge metrics —
so "stream consume + MERGE commit together" becomes "one log-entry link".

Layout (local FS or any FS with atomic same-dir rename/link)::

    <root>/
      _log/00000000000000000001.json     # one JSON entry per version
      data/b=<bucket>/<uuid>.parquet     # bucketed tables
      data/<uuid>.parquet                # unbucketed tables

Commit protocol: one **conditional put** of the version-numbered log entry
— exactly one writer wins version N (optimistic concurrency). Data files
written before a failed commit are unreferenced orphans (cleaned by
``vacuum``), never visible — readers only see files listed in the log.

All driver-side storage I/O (conditional puts, staged-file finalize,
listing, deletes) goes through a pluggable :class:`~.store.TableStore`:
the default :class:`~.store.PosixStore` implements conditional put as
write-temp + ``os.link``; tests also run the full commit/rewrite/vacuum
suite against :class:`~.store.FakeObjectStore` (S3-style semantics: no
rename/link, conditional create, COPY+DELETE finalize) to prove the table
deploys on object stores — see lake/store.py for the S3/ADLS/GCS mapping.
Bulk data moves (Spark writing staged parquet, executors reading) use file
URIs the engine resolves natively and are NOT proxied through the store.

Scale posture:
- Buckets = hash(key) % N assigned with Spark's Murmur3 ``F.hash`` (stable,
  JVM-side). MERGE rewrites only buckets containing source keys
  (copy-on-write at bucket granularity), so a small epoch over a huge table
  touches a bounded file set. N is chosen at create time for the target
  table size (100 TB / N buckets ≈ executor-digestible units).
- The log is O(versions) small JSON; snapshot reconstruction replays from
  the newest *checkpoint* (written every CHECKPOINT_EVERY commits, same
  atomic link protocol), so ``snapshot()`` is O(CHECKPOINT_EVERY) log reads
  regardless of table age — a long-running CDC tail (10^2–10^4 epochs) has
  flat per-epoch driver cost instead of O(versions²) replay. This mirrors
  Iceberg/Delta metadata checkpointing.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bloom import PROP_BLOOM_COLS
from .bloom import bloom_cols_of as _bloom_cols_of
from .store import PosixStore, TableStore
from .zorder import zorder_cuts, zorder_expr_from_cuts, zorder_slice_expr

LOG_DIR = "_log"
DATA_DIR = "data"
# Branch logs live beside the main log, one directory per branch; data
# files are SHARED with main (uuid-named under data/), so creating,
# writing, and publishing a branch never copies data — publish is one
# metadata commit, Iceberg's write-audit-publish shape.
BRANCHES_DIR = "_branches"
TAGS_DIR = "_tags"
# Snapshot checkpoint cadence: every K commits the full table state is
# written alongside the log. K bounds both the replay work per snapshot()
# and the wasted work when a checkpoint write loses a race (it's an
# optimization — losing it never loses data).
CHECKPOINT_EVERY = 16


PROP_BUCKET_HASH = "lake.bucket_hash"
# Persisted clustering stamp (set by a clustered compact): JSON
# {"cols": [...], "zorder": bool, "bits": int, "cuts": [[...], ...],
#  "target_files": int}. Writers that rewrite whole buckets (MERGE /
# UPDATE / DELETE) consult it via cluster_write_args() so the layout the
# reads depend on SURVIVES the ingest loop instead of decaying until the
# next compact. An explicit compact(sort_by=...) builds the same spec
# before staging, so explicit and persisted layouts go through one
# planner (_layout_kwargs).
PROP_CLUSTER_BY = "lake.cluster_by"
# Branch lineage stamp, set by create_branch on the branch's seed commit:
# the main-table version the branch forked from. publish_branch diffs the
# branch head against THIS snapshot (read from the branch's own seeded
# checkpoint, so it survives main-side metadata vacuum).
PROP_BRANCH_BASE = "lake.branch.base"
BUCKET_HASH_V2 = "long-normalized"

_NUMERIC_KEY_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)


def bucket_layout_trusted(snap) -> bool:
    """True iff the snapshot's recorded per-file bucket ids agree with what
    ``bucket_expr`` computes TODAY. Tables created since hash normalization
    carry the layout stamp; unstamped (older) tables are only trusted when
    no key column is numeric (string/date keys hash identically under both
    layouts). Untrusted layout ⇒ callers must skip bucket pruning (full
    file set — correct, just slower); ``rebucket()`` rewrites and stamps,
    which is the migration path."""
    if snap.properties.get(PROP_BUCKET_HASH) == BUCKET_HASH_V2:
        return True
    by = {f.name.lower(): f.dataType for f in snap.schema.fields}
    return not any(
        isinstance(by.get(k.lower()), _NUMERIC_KEY_TYPES) for k in snap.key_cols
    )


def bucket_expr(key_cols: list[str], num_buckets: int, schema: T.StructType | None = None):
    """Deterministic bucket id: pmod(murmur3(keys), N) — matches what any
    executor computes, so bucket pruning in MERGE is exact.

    With ``schema``, integral key columns hash AS LONG and float as double
    (the Iceberg bucket-transform spec decision, spec §Appendix B): Spark's
    murmur3 hashes int(5) and long(5) to DIFFERENT values, so without the
    normalization a key column widened int→long by schema evolution would
    silently re-map every bucket id — pruned merges would look in the wrong
    buckets and duplicate existing keys. Normalized, the bucket function is
    invariant under the widenings `reconcile` permits on keys."""
    cols = []
    for c in key_cols:
        col = F.col(c)
        if schema is not None:
            dt = next(
                (f.dataType for f in schema.fields if f.name.lower() == c.lower()),
                None,
            )
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
                col = col.cast("long")
            elif isinstance(dt, (T.FloatType, T.DoubleType)):
                col = col.cast("double")
        cols.append(col)
    return F.pmod(F.hash(*cols), F.lit(num_buckets))


def _cluster_spec(snap, schema: T.StructType) -> dict | None:
    """The persisted ``lake.cluster_by`` spec, or None when the table has
    none or the schema drifted past it (a cluster column dropped) — writes
    then fall back to unclustered rather than fail."""
    raw = snap.properties.get(PROP_CLUSTER_BY)
    if not raw:
        return None
    try:
        spec = json.loads(raw)
    except (TypeError, ValueError):
        return None
    cols = spec.get("cols") or []
    names = {f.name.lower() for f in schema.fields}
    if not cols or not all(c.lower() in names for c in cols):
        return None
    return spec


def _layout_kwargs(spec: dict, schema: T.StructType, snap, removes) -> dict:
    """Staging kwargs for one clustering spec — the one planner behind an
    explicit ``compact(sort_by=...)`` and the persisted stamp.

    Z-order rebuilds the curve from the spec's cut points (no quantile
    rescan) and slices it at aligned prefixes into ``target_files``
    subcubes. 1-D sorts in-task on the columns; a bucket sorts in ONE
    task, so ``maxRecordsPerFile`` slices its run into range-disjoint
    files, sized off the LARGEST rewritten bucket so skewed buckets still
    respect the file target. An unbucketed write is range-partitioned
    straight into ``target_files`` files instead."""
    cols = spec["cols"]
    tf = max(1, int(spec.get("target_files") or 1))
    if spec.get("zorder"):
        bits = int(spec["bits"])
        z = zorder_expr_from_cuts(schema, cols, spec["cuts"], bits)
        return {"sort_by": [z], "subpartition": zorder_slice_expr(z, len(cols), bits, tf)}
    out: dict = {"sort_by": list(cols), "files_per_bucket": tf}
    if tf > 1 and snap.num_buckets and removes:
        rows_by_bucket: dict = {}
        for p in removes:
            m = snap.files.get(p) or {}
            b = m.get("bucket")
            rows_by_bucket[b] = rows_by_bucket.get(b, 0) + (m.get("rows") or 0)
        biggest = max(rows_by_bucket.values(), default=0)
        if biggest > 0:
            out["max_records_per_file"] = -(-biggest // tf)
    return out


@dataclass
class Snapshot:
    version: int
    schema: T.StructType
    files: dict[str, dict]  # rel_path -> {"rows": int, "bucket": int|None}
    key_cols: list[str]
    num_buckets: int | None
    properties: dict

    def files_in_buckets(self, buckets: set[int]) -> list[str]:
        return [p for p, m in self.files.items() if m.get("bucket") in buckets]


@dataclass
class CommitResult:
    version: int
    summary: dict = field(default_factory=dict)


class ConcurrentCommitError(RuntimeError):
    pass


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        store: TableStore | None = None,
        log_dir: str = LOG_DIR,
    ):
        self.spark = spark
        self.root = root
        # Driver-side metadata/finalize I/O seam — PosixStore by default;
        # FakeObjectStore (tests) proves the S3/ADLS deployment story.
        self.store = store if store is not None else PosixStore(root)
        # Which log lineage this handle reads/commits — LOG_DIR for main,
        # a _branches/<name> dir for a branch handle. Data paths are
        # lineage-independent.
        self.log_dir = log_dir

    # ---------------------------------------------------------------- DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str] | None = None,
        num_buckets: int | None = None,
        if_not_exists: bool = False,
        properties: dict | None = None,
        store: TableStore | None = None,
    ) -> "LakeTable":
        t = cls(spark, root, store=store)
        if t.exists():
            if if_not_exists:
                return t
            raise FileExistsError(f"lake table already exists at {root}")
        t.store.ensure_dir(LOG_DIR)
        t.store.ensure_dir(DATA_DIR)
        t._commit(
            {
                "operation": "create",
                "schema": schema.json(),
                "key_cols": key_cols or [],
                "num_buckets": num_buckets,
                "add": [],
                "remove": [],
                # layout stamp: this table's file bucket ids were computed
                # under the normalized hash (integral keys AS LONG) — see
                # bucket_layout_trusted
                "properties": {**(properties or {}), PROP_BUCKET_HASH: BUCKET_HASH_V2},
                "summary": {},
            },
            expected_version=1,
        )
        return t

    def exists(self) -> bool:
        """True iff at least one COMMITTED log entry exists — in-flight
        ``.tmp-*`` files from a concurrent creator don't count (they made
        exists() true while snapshot() still raised, crashing racers
        outside their creation-race handler)."""
        return any(
            e.endswith(".json") and not e.startswith(".") and ".checkpoint." not in e
            for e in self.store.list_dir(self.log_dir)
        )

    # ---------------------------------------------------------------- log
    def _log_path(self, version: int) -> str:
        """Root-relative log-entry path (a store key)."""
        return f"{self.log_dir}/{version:020d}.json"

    def _log_versions(self) -> list[int]:
        entries = self.store.list_dir(self.log_dir)
        return [
            int(e.split(".")[0])
            for e in entries
            if e.endswith(".json") and ".checkpoint." not in e and not e.startswith(".")
        ]

    def latest_version(self) -> int:
        versions = self._log_versions()
        if not versions:
            raise FileNotFoundError(f"no commits in {self.root}")
        return max(versions)

    def oldest_version(self) -> int:
        """Oldest log entry still on disk — after ``vacuum_metadata`` this
        is the time-travel/changelog horizon, not necessarily 1."""
        versions = self._log_versions()
        if not versions:
            raise FileNotFoundError(f"no commits in {self.root}")
        return min(versions)

    def log_entries(self, start: int = 1, end: int | None = None) -> list[dict]:
        end = end if end is not None else self.latest_version()
        out = []
        for v in range(start, end + 1):
            e = json.loads(self.store.read_bytes(self._log_path(v)))
            e["version"] = v
            out.append(e)
        return out

    def _commit(self, entry: dict, expected_version: int | None = None) -> CommitResult:
        version = expected_version or self.latest_version() + 1
        entry = dict(entry)
        entry["version"] = version
        entry["timestamp"] = time.time()
        # one conditional put — exactly one writer wins this version
        if not self.store.put_if_absent(
            self._log_path(version), json.dumps(entry).encode()
        ):
            raise ConcurrentCommitError(
                f"version {version} already committed at {self.root}"
            )
        if version % CHECKPOINT_EVERY == 0:
            try:
                self._write_checkpoint(version)
            except Exception:
                # a checkpoint is a pure optimization — never fail or roll
                # back an already-durable commit because of it.
                pass
        return CommitResult(version=version, summary=entry.get("summary", {}))

    # ------------------------------------------------- optimistic rebase
    # Iceberg-style retryable commits: a writer that loses the conditional
    # put does NOT redo its data work — its files are already staged under
    # the table root — it re-validates the commit entry against the new
    # latest snapshot and retries the metadata put. Opt-in (rebase=True on
    # append / rebase_from on commit_rewrite): the CDC engine's
    # competing-replayer exactly-once deliberately RELIES on the conflict
    # surfacing, and its epoch commits carry the LSN-watermark property,
    # which the property-key-conflict rule below refuses to rebase anyway.
    def _commit_or_rebase(
        self,
        entry: dict,
        base: Snapshot,
        max_rebase_retries: int = 5,
        key_disjoint: bool = True,
        claim_buckets: list[int] | None = None,
    ) -> CommitResult:
        entry = dict(entry)
        expected = base.version + 1
        validated_to = base.version  # entries ≤ this already passed per-
        # entry checks — each retry only fetches/validates the newly landed
        # tail (meta-identity re-runs in full: it is dict lookups, no I/O)
        for _ in range(max_rebase_retries + 1):
            try:
                return self._commit(entry, expected_version=expected)
            except ConcurrentCommitError:
                new = self.snapshot()
                if new.version < expected:
                    raise  # not a plain lost-race (log went backwards?)
                # always re-validate against the ORIGINAL base: the entry's
                # adds/removes were computed from that snapshot
                try:
                    self._validate_rebase(
                        entry,
                        base,
                        new,
                        key_disjoint,
                        from_version=validated_to,
                        claim_buckets=claim_buckets,
                    )
                except (FileNotFoundError, KeyError) as e:
                    # a racing vacuum_metadata pruned intervening log
                    # entries out from under a long-stalled writer —
                    # degrade to the ordinary conflict (caller redoes the
                    # work against fresh state) instead of crashing
                    raise ConcurrentCommitError(
                        f"cannot rebase at {self.root}: intervening log "
                        f"entries unreadable ({type(e).__name__}) — "
                        "metadata may have been vacuumed during the race"
                    ) from e
                validated_to = new.version
                entry["summary"] = {
                    **entry.get("summary", {}),
                    "rebased_over": new.version - base.version,
                }
                expected = new.version + 1
        raise ConcurrentCommitError(
            f"gave up after {max_rebase_retries} rebase retries at {self.root}"
        )

    def _validate_rebase(
        self,
        entry: dict,
        base: Snapshot,
        new: Snapshot,
        key_disjoint: bool = True,
        from_version: int | None = None,
        claim_buckets: list[int] | None = None,
    ) -> None:
        """Raise ConcurrentCommitError unless ``entry`` (computed against
        ``base``) is provably safe to commit on top of ``new``.

        Safe means: no DDL on either side (schema / bucket-layout changes),
        no property-key contention (two CDC replayers racing on the LSN
        watermark must keep conflicting loudly), every file the entry
        removes or attaches deletes to is byte-identical in ``new`` (a
        racing rewrite/DV there would be silently lost), and — for commits
        that claim key uniqueness (MERGE/DELETE, ``key_disjoint=True``) —
        the key-partitioned bucket layout proves disjointness: the buckets
        of the entry's adds AND removes must not intersect any intervening
        commit's. The adds matter even with zero removes: an insert-only
        merge into an empty bucket still claims its keys are absent, and a
        racing insert of the same key would silently duplicate it. Pure
        appends (``key_disjoint=False`` from :meth:`append`) commute, as
        do row-preserving rewrites (``compact(rebase=True)``): their adds
        hold exactly their removes' rows, so a same-bucket racing APPEND
        coexists safely — only a racing rewrite/DV of a victim (caught by
        the meta-identity check) invalidates them.

        ``from_version``: per-entry checks (DDL/properties/buckets) are
        validated only for intervening commits AFTER this version — the
        retry loop passes its high-water mark so sustained contention does
        not re-read the whole intervening log every retry."""

        def _refuse(why: str):
            raise ConcurrentCommitError(
                f"cannot rebase {entry.get('operation')} from v{base.version} "
                f"onto v{new.version} at {self.root}: {why}"
            )

        if "schema" in entry or "num_buckets" in entry:
            _refuse("entry carries DDL (schema/bucket layout)")
        if (
            new.num_buckets != base.num_buckets
            or new.key_cols != base.key_cols
            or new.schema != base.schema
        ):
            _refuse("schema or bucket layout changed underneath")
        inter = self.log_entries(
            max(base.version, from_version or 0) + 1, new.version
        )
        ours = set((entry.get("properties") or {}).keys())
        for e in inter:
            if "schema" in e or "num_buckets" in e:
                _refuse(f"intervening v{e['version']} carries DDL")
            contended = ours & set((e.get("properties") or {}).keys())
            if contended:
                _refuse(
                    f"intervening v{e['version']} set the same properties "
                    f"{sorted(contended)}"
                )
        touched = set(entry.get("remove") or ())
        touched |= set(entry.get("dv") or ())
        for p in sorted(touched):
            if new.files.get(p) != base.files.get(p):
                _refuse(f"racing writer rewrote/deleted/DV'd {p}")
        if not key_disjoint:
            return  # append / row-preserving rewrite — commutes (see above)

        # path → bucket for files the intervening commits added AND later
        # removed (e.g. appended then compacted away): absent from both
        # snapshots, but their bucket is recorded in the adding entry
        inter_add_buckets = {
            a.get("path"): a.get("bucket")
            for e in inter
            for a in (e.get("add") or ())
        }

        def _bucket(path: str):
            m = base.files.get(path) or new.files.get(path)
            if m is not None:
                return m.get("bucket")
            return inter_add_buckets.get(path)

        # a MERGE's conflict set is its READ set: every bucket its source
        # keys hash to (claim_buckets) — a bloom-skipped file or a
        # suppressed insert is still a "key absent/unchanged" decision
        # made against the base snapshot. adds/removes alone under-claim.
        mine = set(claim_buckets or ())
        mine |= {a.get("bucket") for a in (entry.get("add") or ())}
        mine |= {_bucket(p) for p in touched}
        for e in inter:
            theirs = {a.get("bucket") for a in (e.get("add") or ())}
            theirs |= {_bucket(p) for p in (e.get("remove") or ())}
            theirs |= {_bucket(p) for p in (e.get("dv") or ())}
            if None in mine or None in theirs:
                _refuse("unbucketed files — cannot prove key disjointness")
            overlap = mine & theirs
            if overlap:
                _refuse(
                    f"bucket overlap {sorted(overlap)[:4]} with intervening "
                    f"v{e['version']} — keys may collide"
                )

    # ---------------------------------------------------------- checkpoints
    def _checkpoint_path(self, version: int) -> str:
        """Root-relative checkpoint path (a store key)."""
        return f"{self.log_dir}/{version:020d}.checkpoint.json"

    def _available_checkpoints(self) -> list[int]:
        return sorted(
            int(e.split(".")[0])
            for e in self.store.list_dir(self.log_dir)
            if e.endswith(".checkpoint.json") and not e.startswith(".")
        )

    def _write_checkpoint(self, version: int) -> None:
        snap = self.snapshot(version)  # itself replays from the prior checkpoint
        payload = {
            "version": version,
            "schema": snap.schema.json(),
            "key_cols": snap.key_cols,
            "num_buckets": snap.num_buckets,
            "files": snap.files,
            "properties": snap.properties,
        }
        # losing the conditional put is fine — a concurrent reader already
        # checkpointed this version (checkpoints are deterministic)
        self.store.put_if_absent(
            self._checkpoint_path(version), json.dumps(payload).encode()
        )

    # ------------------------------------------------------------ snapshot
    def snapshot(self, version: int | None = None) -> Snapshot:
        version = version if version is not None else self.latest_version()
        files: dict[str, dict] = {}
        schema_json = None
        key_cols: list[str] = []
        num_buckets = None
        props: dict = {}
        start = 1
        # live file -> version whose equality-delete ('edv') ref it carries
        # (a delete format of earlier releases, no longer applied on read)
        legacy_edv: dict[str, int] = {}
        cps = [v for v in self._available_checkpoints() if v <= version]
        if cps:
            cp = json.loads(self.store.read_bytes(self._checkpoint_path(max(cps))))
            files = {p: dict(m) for p, m in cp["files"].items()}
            schema_json = cp["schema"]
            key_cols = cp["key_cols"]
            num_buckets = cp["num_buckets"]
            props = dict(cp["properties"])
            start = cp["version"] + 1
            legacy_edv = {p: cp["version"] for p, m in files.items() if "edv" in m}
        for e in self.log_entries(start, version):
            if e.get("schema"):
                schema_json = e["schema"]
            if e.get("key_cols"):
                key_cols = e["key_cols"]
            if e.get("num_buckets") is not None:
                num_buckets = e["num_buckets"]
            for rm in e.get("remove", []):
                files.pop(rm, None)
                legacy_edv.pop(rm, None)
            for add in e.get("add", []):
                meta = {"rows": add.get("rows"), "bucket": add.get("bucket")}
                if add.get("stats"):
                    meta["stats"] = add["stats"]
                if add.get("bf"):
                    meta["bf"] = add["bf"]
                files[add["path"]] = meta
            # merge-on-read deletes: {data_rel_path: [dv_rel_path, ...]} —
            # DV refs accumulate on the file's meta until a rewrite removes
            # the file (the refs die with it; compact absorbs them).
            for p, dvs in (e.get("dv") or {}).items():
                if p in files:
                    files[p].setdefault("dv", []).extend(dvs)
            legacy_edv.update(
                (p, e["version"]) for p in (e.get("edv") or ()) if p in files
            )
            props.update(e.get("properties", {}))
        if legacy_edv:
            # reading such a file plain would bring its deleted rows back
            p, v = min(legacy_edv.items(), key=lambda kv: kv[1])
            raise ValueError(
                f"{self.root}: v{v} left an equality-delete ('edv') ref on "
                f"live file {p}; this release applies only positional "
                f"deletion vectors — compact the table with the earlier "
                f"release before reading it"
            )
        schema = T.StructType.fromJson(json.loads(schema_json))
        return Snapshot(version, schema, files, key_cols, num_buckets, props)

    # ---------------------------------------------------------------- read
    def version_as_of(self, timestamp: float, check_data: bool = True) -> int:
        """Greatest committed version whose commit time is <= ``timestamp``
        (epoch seconds) — Snowflake ``AT(TIMESTAMP => ...)`` / Iceberg
        snapshot-as-of-time semantics. Commit times are the log entries'
        own ``timestamp`` fields, so the mapping survives restarts. Raises
        ValueError if ``timestamp`` predates the oldest retained version
        (the horizon ``vacuum_metadata`` / ``expire_snapshots`` may have
        pruned) — OR if it resolves into the metadata-only tail: after
        ``vacuum`` with a checkpoint gap, log entries can survive back to
        the newest checkpoint ≤ the horizon while the DATA files of those
        versions were already reclaimed; without the check, ``read`` would
        fail later with raw missing-file errors instead of the documented
        retention ValueError. The check stats only files absent from the
        LATEST snapshot (those are trivially live), so a within-horizon
        resolve costs no more than the file-set diff; ``check_data=False``
        skips it for callers that need only the version arithmetic
        (``expire_snapshots``)."""
        # log_entries yields in version order starting at oldest_version();
        # entries don't embed their version, so index arithmetic names it
        oldest = self.oldest_version()
        best = None
        for i, e in enumerate(self.log_entries(oldest)):
            ts = e.get("timestamp")
            if ts is not None and ts <= timestamp:
                best = oldest + i
        if best is None:
            raise ValueError(
                f"no retained version at or before timestamp {timestamp} "
                f"(oldest retained: {oldest})"
            )
        if check_data:
            latest = self.latest_version()
            if best != latest:
                snap = self.snapshot(best)
                live = set(self.snapshot(latest).files)
                for p in snap.files:
                    if p not in live and not self.store.exists(p):
                        raise ValueError(
                            f"version {best} (as of timestamp {timestamp}) is "
                            f"beyond the data retention horizon: its data "
                            f"files were vacuumed (metadata-only tail)"
                        )
        return best

    def expire_snapshots(self, older_than: float) -> dict:
        """Time-based retention (Iceberg ``expireSnapshots(olderThan)``):
        keep every version committed at or after ``older_than`` (epoch
        seconds) plus the newest one before it (the as-of base, so
        ``version_as_of(older_than)`` keeps answering); reclaim data files
        and log entries beyond that horizon. Tagged / branch-referenced
        snapshots stay live regardless (vacuum's ref-awareness). Returns
        {"data_files_removed", "log_entries_removed", "retained_from"}."""
        latest = self.latest_version()
        base = self.version_as_of(older_than, check_data=False)
        retain = latest - base
        removed = self.vacuum(retain_versions=retain)
        pruned = self.vacuum_metadata(retain_versions=retain)
        return {
            "data_files_removed": removed,
            "log_entries_removed": pruned,
            "retained_from": base,
        }

    def read(
        self, version: int | None = None, timestamp: float | None = None
    ) -> DataFrame:
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version or timestamp, not both")
            version = self.version_as_of(timestamp)
        snap = self.snapshot(version)
        return self._read_files(list(snap.files), snap.schema, files_meta=snap.files)

    def _read_files(
        self,
        rel_paths: list[str],
        schema: T.StructType,
        files_meta: dict[str, dict] | None = None,
        keep_position: bool = False,
    ) -> DataFrame:
        """Scan a file set. With ``files_meta`` (a Snapshot.files dict), any
        deletion vectors referenced by the requested files are applied: rows
        at recorded (file, position) pairs are anti-joined out via the
        parquet ``_metadata.row_index`` column — merge-on-read, the Iceberg
        v2 positional-delete shape. ``keep_position=True`` additionally
        exposes ``__fname``/``__pos`` (file basename + row index) so
        mutation discovery can record positions without
        ``input_file_name()`` (which goes ambiguous once the DV side joins
        into the plan)."""
        if not rel_paths:
            df = self.spark.createDataFrame([], schema)
            if keep_position:
                df = df.withColumn("__fname", F.lit(None).cast("string")).withColumn(
                    "__pos", F.lit(None).cast("long")
                )
            return df
        paths = [os.path.join(self.root, p) for p in rel_paths]
        dv_rel: list[str] = []
        if files_meta is not None:
            dv_rel = sorted(
                {
                    d
                    for p in rel_paths
                    for d in (files_meta.get(p, {}) or {}).get("dv", [])
                }
            )
        # Explicit schema → old files missing newly-added columns read as
        # null; int32 files under a widened long column are upcast by the
        # parquet vectorized reader (verified in tests).
        base = self.spark.read.schema(schema).parquet(*paths)
        if not dv_rel and not keep_position:
            return base
        cols = [F.col(f.name) for f in schema.fields]
        with_pos = base.select(
            *cols,
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "__fname"
            ),
            F.col("_metadata.row_index").alias("__pos"),
        )
        if dv_rel:
            dv = self._read_dv(dv_rel)
            # anti-join on (file basename, row position); basenames are
            # uuid4-unique by construction. The DV side is tiny relative to
            # the data (it is compacted away on the next rewrite) — AQE
            # broadcasts it; correctness never depends on the strategy.
            with_pos = with_pos.join(
                dv,
                (F.col("__fname") == dv["fname"]) & (F.col("__pos") == dv["pos"]),
                "left_anti",
            )
        return with_pos if keep_position else with_pos.select(*cols)

    def _read_dv(self, dv_rel: list[str]) -> DataFrame:
        dv_schema = T.StructType(
            [
                T.StructField("fname", T.StringType()),
                T.StructField("pos", T.LongType()),
            ]
        )
        return self.spark.read.schema(dv_schema).parquet(
            *[os.path.join(self.root, d) for d in dv_rel]
        )

    def count_rows(self, version: int | None = None) -> int:
        """Exact row count, answered from snapshot metadata in O(live
        files) with zero data I/O when provable (`lake/metaquery.py` —
        the Snowflake micro-partition count path), else by scan. Pending
        merge-on-read deletes (DV refs) force the scan."""
        from techtalk_data_pipeline_snowpark_spark.lake.metaquery import (
            metadata_aggregate,
        )

        r = metadata_aggregate(self, version=version)
        if r is not None:
            return r["count"]
        return self.read(version=version).count()

    def read_where(self, condition, version: int | None = None) -> DataFrame:
        """Zone-map-pruned scan: files whose min/max stats cannot satisfy
        ``condition`` are dropped driver-side before the parquet read plan
        is even built; the predicate still filters every surviving row
        (pruning is a pure optimization). At 100 TB a selective predicate
        turns a full-table scan into a handful of file reads — the Spark
        equivalent of Snowflake micro-partition pruning."""
        from .bloom import prune_files_by_point_blooms
        from .stats import prune_files

        snap = self.snapshot(version)
        cand = prune_files(snap.files, condition)
        # equality/IN conjuncts additionally test per-file key blooms —
        # point lookups on hash-distributed columns, where zone maps are
        # blind, open ~1 file (lake/bloom.py; opt-in, conservative)
        cand = prune_files_by_point_blooms(self, snap, cand, condition)
        df = self._read_files(cand, snap.schema, files_meta=snap.files)
        return df if condition is None else df.where(condition)

    def read_incremental(
        self,
        start_version: int,
        end_version: int | None = None,
        on_rewrite: str = "error",
    ) -> DataFrame:
        """Changelog scan: new/changed rows in (start_version, end_version].

        This is the Spark-side equivalent of a Snowflake stream read
        (SnowflakeUtils.scala:46-66): only changes since the last consumed
        offset. Append commits contribute their added files directly (a
        file-list scan, no diff work). For merge/update/delete/overwrite
        commits, ``on_rewrite`` picks the behavior:

        - ``"error"`` (default): raise — the conservative contract for
          consumers that assume append-only upstreams.
        - ``"diff"``: snapshot-diff fallback — emit the commit's inserted +
          updated (post-image) rows via ``read_changelog``; deletes are not
          emitted (a row stream has nowhere to put them — consume
          ``read_changelog`` directly if delete visibility is needed).
        """
        end_version = end_version if end_version is not None else self.latest_version()
        snap = self.snapshot(end_version)
        added: list[str] = []
        rewrite_versions: list[int] = []
        for e in self.log_entries(start_version + 1, end_version):
            if e.get("operation") in ("append", "create"):
                added.extend(a["path"] for a in e.get("add", []))
            elif e.get("operation") in ("compact", "rebucket"):
                continue  # row-set-invariant by construction — no changes
            elif on_rewrite == "diff":
                rewrite_versions.append(e["version"])
            else:
                raise ValueError(
                    f"incremental scan over non-append commit v{e['version']} "
                    f"({e.get('operation')}); pass on_rewrite='diff' or use "
                    f"read_changelog"
                )
        out = self._read_files(added, snap.schema)
        for v in rewrite_versions:
            ch = self.read_changelog(v - 1, v).where(
                F.col("_change_type") != "delete"
            )
            out = out.unionByName(
                ch.drop("_change_type", "_commit_version"), allowMissingColumns=True
            )
        return out

    def read_changelog(
        self,
        start_version: int,
        end_version: int | None = None,
        emit_preimages: bool = False,
    ) -> DataFrame:
        """Row-level change feed for (start_version, end_version]: table
        columns + ``_change_type`` (insert | update_postimage | delete, plus
        update_preimage when ``emit_preimages=True`` — the Delta CDF
        four-type shape) + ``_commit_version``. Preimages are what make
        DELTA CONSUMERS (incremental view maintenance, sum/count rollups)
        possible: an update contributes -pre +post, and without the pre row
        a maintained SUM silently drifts.

        Append commits are insert rows straight from their added files. For
        rewrite commits (merge/update/delete/overwrite) the changes are
        recovered by a snapshot diff scoped to the commit's own add/remove
        file sets — at 100 TB that is the touched buckets only, never the
        whole table. ``exceptAll`` gives exact multiset semantics; when the
        table has key columns, changed rows are split into updates (key
        existed before) vs inserts, and pre-image rows whose key survives
        are suppressed so an update emits exactly one post-image row.
        """
        end_version = end_version if end_version is not None else self.latest_version()
        snap = self.snapshot(end_version)
        schema = snap.schema
        keys = snap.key_cols
        spark = self.spark
        pieces: list[DataFrame] = []

        def _tag(df: DataFrame, change: str, version: int) -> DataFrame:
            return df.select(
                *[F.col(f.name) for f in schema.fields],
                F.lit(change).alias("_change_type"),
                F.lit(version).cast("long").alias("_commit_version"),
            )

        entries = self.log_entries(start_version + 1, end_version)
        # DV bookkeeping is only worth per-entry prev-snapshot lookups when
        # deletion vectors can actually exist in the range: either carried
        # in from before start_version or added by an entry in range.
        dv_possible = any(e.get("dv") for e in entries)
        if not dv_possible and start_version >= 1:
            try:
                dv_possible = any(
                    (m or {}).get("dv")
                    for m in self.snapshot(start_version).files.values()
                )
            except Exception:
                dv_possible = True  # can't prove absence → stay correct
        for e in entries:
            v = e["version"]
            adds = [a["path"] for a in e.get("add", [])]
            removes = e.get("remove", [])
            op = e.get("operation")
            if op in ("append", "create"):
                if adds:
                    pieces.append(_tag(self._read_files(adds, schema), "insert", v))
                continue
            if e.get("dv"):
                # merge-on-read delete: the commit's own DV files name the
                # rows it killed — (file, pos) pairs. Read the affected
                # files with the PRE-commit DV state applied (rows already
                # dead can't be re-deleted; discovery scanned them out) and
                # semi-join the new positions. Touched-file-scoped, never
                # the whole table.
                prev = self.snapshot(v - 1)
                affected = sorted(e["dv"].keys())
                dv_new = sorted({d for ds in e["dv"].values() for d in ds})
                rows = self._read_files(
                    affected, schema, files_meta=prev.files, keep_position=True
                )
                dv = self._read_dv(dv_new)
                deleted = rows.join(
                    dv,
                    (F.col("__fname") == dv["fname"]) & (F.col("__pos") == dv["pos"]),
                    "left_semi",
                ).select(*[F.col(f.name) for f in schema.fields])
                pieces.append(_tag(deleted, "delete", v))
                continue
            if op in ("compact", "rebucket") or (not adds and not removes):
                # compact/rebucket are row-set-invariant (their diff is
                # empty by construction — don't pay the exceptAll to prove
                # it); evolve-schema / empty epochs are metadata-only
                continue
            new_rows = self._read_files(adds, schema)
            # pre-image must reflect DVs that existed BEFORE this commit —
            # a rewrite of a DV-carrying file would otherwise resurrect the
            # dead rows as spurious deletes in the diff.
            prev_meta = None
            if removes and dv_possible:
                prev_meta = self.snapshot(v - 1).files
                if not any((prev_meta.get(p, {}) or {}).get("dv") for p in removes):
                    prev_meta = None
            old_rows = self._read_files(removes, schema, files_meta=prev_meta)
            changed = new_rows.exceptAll(old_rows)
            removed = old_rows.exceptAll(new_rows)
            if keys:
                old_keys = old_rows.select(*keys).distinct()
                new_keys = new_rows.select(*keys).distinct()
                pieces.append(
                    _tag(changed.join(old_keys, on=keys, how="leftsemi"),
                         "update_postimage", v)
                )
                if emit_preimages:
                    pieces.append(
                        _tag(removed.join(new_keys, on=keys, how="leftsemi"),
                             "update_preimage", v)
                    )
                pieces.append(
                    _tag(changed.join(old_keys, on=keys, how="left_anti"), "insert", v)
                )
                pieces.append(
                    _tag(removed.join(new_keys, on=keys, how="left_anti"), "delete", v)
                )
            else:
                pieces.append(_tag(changed, "insert", v))
                pieces.append(_tag(removed, "delete", v))
        if not pieces:
            empty_schema = T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            )
            return spark.createDataFrame([], empty_schema)
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    # --------------------------------------------------------------- write
    def _stage_dataframe(
        self,
        df: DataFrame,
        schema: T.StructType,
        num_buckets: int | None,
        key_cols: list[str],
        files_per_bucket: int | None = None,
        sort_by: list | None = None,  # column names or Column exprs (zorder)
        max_records_per_file: int | None = None,
        subpartition: tuple | None = None,  # (slice Column, n_slices): aligned z-slicing
        bloom_cols: list[str] | None = None,  # per-file key blooms (lake/bloom.py)
    ) -> list[dict]:
        """Write df into data/ and return add-entries (not yet committed).

        ``sort_by`` clusters the rows inside each bucket (one sorted task
        per bucket; Spark's external sort spills, so a big bucket is fine)
        and lets ``max_records_per_file`` split the sorted run into
        range-DISJOINT files — the Delta ``OPTIMIZE ... ZORDER BY``
        one-dimensional shape. Disjoint ranges are what make the per-file
        zone maps (lake/stats.py) bite on non-key predicates: a selective
        scan then opens ~1 file per bucket instead of all of them.

        An unbucketed table is one bucket with no ``_b`` partition column:
        ``files_per_bucket`` is then its file count (range-partitioned when
        sorted, coalesced when not; None keeps the input's partitioning)."""
        staging_rel = f".staging-{uuid.uuid4().hex}"
        staging = os.path.join(self.root, staging_rel)
        adds: list[dict] = []
        # INT96 (Spark's legacy default) carries no parquet column stats, so
        # timestamp zone maps would be empty; TIMESTAMP_MICROS is the
        # deprecation-path encoding and every modern reader (incl. DuckDB,
        # pyarrow) reads it natively.
        self.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        ordered = [F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        part: list[str] = []
        if num_buckets:
            ordered.append(bucket_expr(key_cols, num_buckets, schema).alias("_b"))
            part = ["_b"]
        out = df.select(*ordered)
        if sort_by and subpartition is not None:
            # aligned multi-column clustering (zorder): shuffle by (bucket,
            # z-slice) — each slice is an exact subcube of the value grid
            # and lands in its own file (hash partitioning sends a (b, zs)
            # group to exactly one task; partitionBy splits tasks per group
            # → one file per slice)
            zs, n_slices = subpartition
            out = (
                out.withColumn("_zs", zs)
                .repartition((num_buckets or 1) * n_slices, *part, "_zs")
                .sortWithinPartitions(*part, "_zs", *sort_by)
            )
            part.append("_zs")
        elif sort_by and num_buckets:
            # one shuffle keyed by bucket, in-task sort on the cluster
            # columns; maxRecordsPerFile slices the SORTED run, so the
            # resulting files carry disjoint sort-key ranges
            out = out.repartition(num_buckets, "_b").sortWithinPartitions("_b", *sort_by)
        elif sort_by:
            # range shuffle to an explicit file target, in-task sort:
            # output files are range-disjoint on the cluster columns
            out = out.repartitionByRange(
                max(1, files_per_bucket or 1), *sort_by
            ).sortWithinPartitions(*sort_by)
        elif num_buckets:
            # One shuffle keyed by (bucket, salt). Write parallelism is NOT
            # capped at num_buckets: when the session has more task slots
            # than buckets, a per-key salt splits each bucket into
            # files_per_bucket files so every slot writes (r1 finding: the
            # staging write was the serial tail whenever cores > buckets).
            if files_per_bucket is None:
                # actual task slots, not spark.sql.shuffle.partitions: the
                # conf default (200) would fragment every bucket into
                # 200/N files on an untuned session. Cap the fan-out — the
                # point is busy write slots, not unbounded small files.
                slots = self.spark.sparkContext.defaultParallelism
                par = min(
                    int(
                        self.spark.conf.get(
                            "spark.sql.shuffle.partitions", str(slots)
                        )
                    ),
                    slots,
                )
                files_per_bucket = max(1, min(par // num_buckets, 8))
            if files_per_bucket > 1:
                salt = F.pmod(
                    F.xxhash64(*[F.col(c) for c in key_cols]),
                    F.lit(files_per_bucket),
                )
                out = out.repartition(num_buckets * files_per_bucket, F.col("_b"), salt)
            else:
                out = out.repartition(num_buckets, "_b")
        elif files_per_bucket:
            out = out.coalesce(files_per_bucket)
        writer = out.write
        if part:
            writer = writer.partitionBy(*part)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.mode("overwrite").parquet(staging)
        # recursive walk handles flat, `_b=X/` and the zorder write's
        # nested `[_b=X/]_zs=Y/` layouts
        moves: list[tuple[str, str]] = []
        for rel_f in self.store.walk_files(staging_rel):
            parts = rel_f.split("/")
            b = next((int(seg[3:]) for seg in parts if seg.startswith("_b=")), None)
            if not parts[-1].endswith(".parquet") or (num_buckets and b is None):
                continue
            sub = "" if b is None else f"b={b}/"
            rel = f"{DATA_DIR}/{sub}{uuid.uuid4().hex}.parquet"
            moves.append((rel_f, rel))
            adds.append({"path": rel, "bucket": b})
        self.store.finalize(moves)
        self.store.delete_dir(staging_rel)
        # zone maps + blooms ride the add-entries so every snapshot can prune
        # mutations/scans driver-side (lake/stats.py, lake/bloom.py). Big
        # commits run ONE distributed pass (executor tasks read footers + key
        # columns and write bloom sidecars through the store, returning only
        # meta — lake/diststats.py); small commits keep the latency-optimal
        # driver-threaded pool.
        from .diststats import enrich_adds_distributed, should_distribute

        enriched = should_distribute(self, adds) and enrich_adds_distributed(
            self, adds, schema, bloom_cols or []
        )
        if not enriched:
            from .stats import enrich_adds_with_stats

            enrich_adds_with_stats(self.root, adds, schema)
            if bloom_cols:
                from .bloom import enrich_adds_with_blooms

                enrich_adds_with_blooms(self, adds, schema, bloom_cols)
        return adds

    def _stage_dv(self, hits: DataFrame) -> tuple[list[str], dict[str, int]]:
        """Write a deletion-vector parquet set from a (fname, pos) DataFrame
        into ``data/_dv/`` (not yet committed). Returns (dv rel paths,
        per-file deleted-row counts) — the counts come from one aggregation
        over the just-written (tiny) DV files, giving the commit both its
        affected-file map and rows_affected without rescanning the table."""
        staging_rel = f".staging-dv-{uuid.uuid4().hex}"
        # DV files are re-read on every subsequent scan of their data files
        # — keep them few; 8 writers is plenty for a metadata-sized output.
        hits.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(self.root, staging_rel)
        )
        rels: list[str] = []
        moves: list[tuple[str, str]] = []
        for fn in self.store.list_dir(staging_rel):
            if fn.endswith(".parquet"):
                rel = f"{DATA_DIR}/_dv/{uuid.uuid4().hex}.parquet"
                moves.append((f"{staging_rel}/{fn}", rel))
                rels.append(rel)
        self.store.finalize(moves)
        self.store.delete_dir(staging_rel)
        if not rels:
            return [], {}
        per_file = {
            r["fname"]: r["n"]
            for r in self._read_dv(rels)
            .groupBy("fname")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if not per_file:  # scan matched nothing — drop the empty DV files
            for rel in rels:
                self.store.delete(rel)
            return [], {}
        return rels, per_file

    def enable_blooms(self, cols: list[str] | None = None) -> CommitResult:
        """Turn on per-file key bloom filters (lake/bloom.py) for every
        subsequent write. ``cols`` defaults to the table's key columns.
        Metadata-only commit; existing files stay bloom-less (they always
        survive pruning) until a compact/rebucket rewrites them."""
        snap = self.snapshot()
        cols = list(cols) if cols is not None else list(snap.key_cols)
        if not cols:
            raise ValueError("enable_blooms needs columns (or table key columns)")
        names = {f.name.lower() for f in snap.schema.fields}
        missing = [c for c in cols if c.lower() not in names]
        if missing:
            raise ValueError(f"bloom columns not in schema: {missing}")
        return self.commit_rewrite(
            adds=[],
            removes=[],
            operation="set-properties",
            properties={PROP_BLOOM_COLS: json.dumps(cols)},
            summary={"bloom_cols": cols},
            expected_version=snap.version + 1,
        )

    def append(
        self,
        df: DataFrame,
        properties: dict | None = None,
        rebase: bool = False,
    ) -> CommitResult:
        """Append ``df``. With ``rebase=True``, a lost commit race retries
        metadata-only against the new latest snapshot (appends commute) —
        the staged data files are reused, never rewritten. Refuses to
        rebase over DDL or a property-key conflict (see
        :meth:`_validate_rebase`)."""
        snap = self.snapshot()
        adds = self._stage_dataframe(
            df, snap.schema, snap.num_buckets, snap.key_cols,
            bloom_cols=_bloom_cols_of(snap),
        )
        entry = {
            "operation": "append",
            "add": adds,
            "remove": [],
            "properties": properties or {},
            "summary": {},
        }
        if rebase:
            # appends never claim key uniqueness — skip the bucket rule
            return self._commit_or_rebase(entry, snap, key_disjoint=False)
        return self._commit(entry, expected_version=snap.version + 1)

    def overwrite(
        self, df: DataFrame, schema: T.StructType | None = None, properties: dict | None = None
    ) -> CommitResult:
        snap = self.snapshot()
        schema = schema or df.schema
        adds = self._stage_dataframe(
            df, schema, snap.num_buckets, snap.key_cols,
            bloom_cols=_bloom_cols_of(snap),
        )
        return self._commit(
            {
                "operation": "overwrite",
                "schema": schema.json(),
                "add": adds,
                "remove": list(snap.files),
                "properties": properties or {},
                "summary": {},
            },
            expected_version=snap.version + 1,
        )

    def commit_rewrite(
        self,
        adds: list[dict],
        removes: list[str],
        operation: str,
        schema: T.StructType | None = None,
        properties: dict | None = None,
        summary: dict | None = None,
        expected_version: int | None = None,
        dv: dict[str, list[str]] | None = None,
        num_buckets: int | None = None,
        rebase_from: "Snapshot | None" = None,
        key_disjoint: bool = True,
        claim_buckets: list[int] | None = None,
    ) -> CommitResult:
        entry = {
            "operation": operation,
            "add": adds,
            "remove": removes,
            "properties": properties or {},
            "summary": summary or {},
        }
        if dv:
            entry["dv"] = dv
        if schema is not None:
            entry["schema"] = schema.json()
        if num_buckets is not None:
            entry["num_buckets"] = num_buckets
        if rebase_from is not None:
            # optimistic retryable commit: adds/removes were computed
            # against rebase_from — on a lost race, re-validate and retry
            # metadata-only instead of redoing the rewrite
            return self._commit_or_rebase(
                entry,
                rebase_from,
                key_disjoint=key_disjoint,
                claim_buckets=claim_buckets,
            )
        return self._commit(entry, expected_version=expected_version)

    # ------------------------------------------------------------- utility
    def compact(
        self,
        max_files_per_bucket: int = 1,
        sort_by: list[str] | None = None,
        zorder: bool = False,
        zorder_bits: int = 4,
        bin_pack_rows: int | None = None,
        persist_clustering: bool = True,
        rebase: bool = False,
    ) -> CommitResult:
        """OPTIMIZE: rewrite buckets whose file count exceeds the target
        into consolidated files (1 file per compacted bucket). The row set
        is unchanged — read_changelog emits NOTHING for a compact commit
        (the snapshot diff cancels exactly), so stream consumers are
        unaffected. A long CDC tail runs this periodically; at 100 TB it
        is the same touched-bucket-scoped rewrite a merge does, minus the
        join. An unbucketed table is planned the same way, as one bucket.

        ``sort_by`` turns this into ``OPTIMIZE ... ZORDER BY``'s
        one-dimensional cousin: EVERY file is rewritten with rows clustered
        on the given columns, sliced into up to ``max_files_per_bucket``
        range-disjoint files per bucket — so the zone maps (lake/stats.py)
        prune non-key predicates down to ~1 file per bucket. Run it off the
        ingest path when the read workload filters on a non-key column
        (e.g. a timestamp): without clustering, hash-bucketed writes give
        every file the full value range and min/max stats never skip.

        ``zorder=True`` upgrades 1-D clustering to TRUE multi-column
        clustering: rows sort by a bit-interleaved Morton curve over the
        ``sort_by`` columns (rank-normalized to a ``2**zorder_bits`` grid
        per column via one approxQuantile pass — see lake/zorder.py), so
        every output file covers a small hyper-rectangle of the value
        space and zone maps prune scans on ANY of the clustered columns.
        1-D sort makes the first column prune perfectly and the others not
        at all; z-order makes them ALL prune at ~sqrt rates — the right
        trade whenever the workload filters on more than one column.

        The explicit request is laid out as a ``lake.cluster_by`` spec
        built before staging, and a compact without ``sort_by`` keeps the
        table's persisted spec: both go through one planner
        (``_layout_kwargs``, which ``cluster_write_args`` also serves).

        ``bin_pack_rows=N`` switches the victim policy from file-COUNT to
        file-SIZE (Delta ``OPTIMIZE``'s bin-packing): only files smaller
        than N rows — plus any file carrying DV refs,
        whatever its size — are rewritten; files that already reached the
        target are left in place. This is the mode the long ingest tail
        wants: the count policy rewrites a whole victim bucket every pass,
        so a bucket that grows forever pays write amplification
        proportional to its SIZE per compaction (quadratic over the
        table's lifetime), while bin-packing caps each row's total
        rewrites at ~N/epoch_rows — a constant set by the target file
        size, independent of how big the table gets. File count per bucket
        is then bounded by bucket_rows/N, the floor any bounded-
        amplification layout must accept. Mutually exclusive with
        ``sort_by`` (clustering rewrites everything by design)."""
        if bin_pack_rows and sort_by:
            raise ValueError(
                "bin_pack_rows is a size-policy consolidation; clustering "
                "(sort_by/zorder) rewrites every file — use one or the other"
            )

        def _bin_victims(paths: list[str]) -> list[str]:
            """Files worth rewriting under the size policy: sub-target or
            tombstone-carrying (missing row stats count as sub-target —
            one rewrite gains them). Returns [] when merging wouldn't
            help: one plain small file and nothing to absorb."""
            smalls = [
                p
                for p in paths
                if ((snap.files[p] or {}).get("rows") or 0) < bin_pack_rows
                or (snap.files[p] or {}).get("dv")
            ]
            has_refs = any((snap.files[p] or {}).get("dv") for p in smalls)
            return smalls if (len(smalls) >= 2 or has_refs) else []

        snap = self.snapshot()
        by_bucket: dict = {}  # unbucketed: one group, keyed None
        for p, m in snap.files.items():
            by_bucket.setdefault(m.get("bucket"), []).append(p)
        # no explicit clustering asked: keep the PERSISTED layout instead of
        # un-sorting the victims — a maintenance pass must not undo what DML
        # preserves
        stamp = None if sort_by else _cluster_spec(snap, snap.schema)
        if sort_by:
            victims = list(snap.files)  # clustering rewrites everything
        elif bin_pack_rows:
            victims = [p for paths in by_bucket.values() for p in _bin_victims(paths)]
        else:
            # a bucket is a victim when over the file target OR any of its
            # files carries deletion vectors — compact absorbs DVs (the
            # DV-filtered read materializes live rows only; the refs die
            # with the removed files). The stamp's range-disjoint slices are
            # layout, not fragmentation: a freshly stamped bucket is no
            # victim (or every compact() rewrites the stamped table forever)
            target = max_files_per_bucket
            if stamp:
                target = max(target, int(stamp.get("target_files") or 1))
            victims = [
                p
                for paths in by_bucket.values()
                if len(paths) > target or any(snap.files[p].get("dv") for p in paths)
                for p in paths
            ]
        if not victims:
            return CommitResult(version=snap.version, summary={"files_compacted": 0})
        df = self._read_files(victims, snap.schema, files_meta=snap.files)
        spec = stamp
        if sort_by:
            spec = {
                "cols": list(sort_by),
                "zorder": bool(zorder),
                "target_files": int(max_files_per_bucket),
            }
            if zorder:
                spec["bits"] = int(zorder_bits)
                spec["cuts"] = zorder_cuts(df, sort_by, zorder_bits)
        layout = _layout_kwargs(spec, snap.schema, snap, victims) if spec else {}
        if bin_pack_rows:
            # merged smalls keep the stamp's sort order but split by the
            # row target, not by z-subcube
            layout = {"sort_by": layout.get("sort_by"), "max_records_per_file": bin_pack_rows}
        adds = self._stage_dataframe(
            df,
            snap.schema,
            snap.num_buckets,
            snap.key_cols,
            files_per_bucket=layout.pop("files_per_bucket", 1),
            bloom_cols=_bloom_cols_of(snap),
            **layout,
        )
        summary = {"files_compacted": len(victims), "files_written": len(adds)}
        if stamp:
            summary["clustering_preserved"] = True
        properties = None
        if sort_by:
            summary["clustered_by"] = list(sort_by)
            if zorder:
                summary["zorder"] = True
            if persist_clustering:
                # stamp the layout so bucket-rewriting writers (MERGE /
                # UPDATE / DELETE, via cluster_write_args) keep it — the
                # z-order grid travels as its cut points, so no writer
                # ever pays the quantile scan again
                properties = {PROP_CLUSTER_BY: json.dumps(spec)}
        if bin_pack_rows:
            summary["bin_pack_rows"] = int(bin_pack_rows)
        # rebase: background maintenance must not lose to the ingest
        # stream — compaction preserves rows, so a same-bucket racing
        # append coexists and key_disjoint=False skips the merge-only
        # bucket rule; a rewritten/DV'd victim still refuses
        return self.commit_rewrite(
            adds=adds,
            removes=victims,
            operation="compact",
            summary=summary,
            properties=properties,
            expected_version=snap.version + 1,
            rebase_from=snap if rebase else None,
            key_disjoint=False,
        )

    def cluster_write_args(
        self,
        snap: "Snapshot",
        removes: list[str] | None = None,
        schema: T.StructType | None = None,
    ) -> dict:
        """Staging kwargs that keep a bucket rewrite laid out per the
        persisted clustering stamp (``lake.cluster_by``) — ``{}`` when the
        table has none (every existing caller stays byte-identical).

        This is what lets clustering SURVIVE the ingest loop: without it,
        every MERGE/UPDATE/DELETE writes its touched buckets unsorted and
        zone-map pruning decays until the next full recluster (the
        Delta/Iceberg behavior — OPTIMIZE output degrades as DML lands).
        With the stamp, rewrites sort in-task on the cluster key (z-value
        for multi-column stamps, rebuilt from the PERSISTED cut points —
        no quantile rescan) and split at the same per-file target, so the
        files a rewrite produces prune exactly like the compact's did.
        The cost is one in-task external sort of data the rewrite was
        writing anyway. If the schema drifted past the stamp (a cluster
        column dropped), writes fall back to unclustered rather than fail."""
        schema = schema if schema is not None else snap.schema
        spec = _cluster_spec(snap, schema)
        return _layout_kwargs(spec, schema, snap, removes) if spec else {}

    def rebucket(self, num_buckets: int) -> CommitResult:
        """Bucket-count evolution (Iceberg partition-spec evolution, scoped
        to the bucket transform). A table sized for today's volume runs out
        of parallelism at 100× the data — MERGE touched-bucket pruning and
        the staging write fan-out are both bounded by the bucket count, so
        a growing table must be able to widen it WITHOUT unloading.

        One atomic rewrite commit: every data file is re-staged under the
        new bucket function and the commit entry carries the new
        ``num_buckets`` (snapshot replay tracks bucket config per version,
        so time-travel reads at older versions keep the OLD layout and
        every merge after this commit prunes against the new one). The row
        set is unchanged — like ``compact``, the changelog and incremental
        readers see NOTHING. Racing writers pinned to the old version lose
        the optimistic check and retry against the new layout."""
        snap = self.snapshot()
        if not snap.key_cols:
            raise ValueError("rebucket requires a table with key columns")
        if num_buckets is None or num_buckets < 1:
            raise ValueError("num_buckets must be a positive int")
        if num_buckets == snap.num_buckets:
            return CommitResult(
                version=snap.version, summary={"rebucketed": False}
            )
        df = self._read_files(list(snap.files), snap.schema, files_meta=snap.files)
        adds = self._stage_dataframe(
            df, snap.schema, num_buckets, snap.key_cols,
            bloom_cols=_bloom_cols_of(snap),
        )
        return self.commit_rewrite(
            adds=adds,
            removes=list(snap.files),
            operation="rebucket",
            # full rewrite under today's hash ⇒ the layout is now stamped
            # trusted (also the migration path for pre-normalization tables)
            properties={PROP_BUCKET_HASH: BUCKET_HASH_V2},
            summary={
                "rebucketed": True,
                "num_buckets_before": snap.num_buckets,
                "num_buckets": num_buckets,
                "files_rewritten": len(snap.files),
            },
            expected_version=snap.version + 1,
            num_buckets=num_buckets,
        )

    def vacuum(
        self, retain_versions: int = 0, staging_grace_sec: float = 86_400.0
    ) -> int:
        """Delete data files not referenced by the retained snapshots
        (orphans from failed commits / rewritten buckets), plus staging
        directories leaked by writers that died between stage and commit.

        ``retain_versions=K`` keeps files referenced by the last K+1
        snapshots, so time-travel reads within that horizon stay valid
        (Iceberg expire-snapshots semantics). Returns count removed.

        Staging reclamation: ``.staging-*`` dirs (data / dv stages)
        live under the table root but OUTSIDE data/, so the data walk never
        saw them — a crashed writer leaked its whole stage forever (review
        finding). A dir whose newest file is older than
        ``staging_grace_sec`` cannot belong to a live writer (stage →
        finalize is seconds-to-minutes; default grace 24 h) and is
        removed; younger dirs are left for their (possibly live) writer.

        Ref awareness: files referenced by any live BRANCH head or TAGGED
        snapshot stay live whatever the retention horizon — a branch owns
        data main's log never saw, and a tag pins a snapshot main's horizon
        may have passed. Drop the ref, then vacuum reclaims."""
        if self._is_branch_handle():
            raise ValueError(
                "vacuum runs on the main handle: data/ is shared across "
                "lineages, so a branch-scoped walk would reap main's files"
            )
        latest = self.latest_version()

        def _live_of(s: Snapshot) -> set[str]:
            out = set(s.files)
            out.update(
                d
                for m in s.files.values()
                for d in (m or {}).get("dv", [])
            )
            # bloom sidecar blobs are shared by every file of their commit —
            # live while any referencing file is
            out.update(
                m["bf"]["ref"]
                for m in s.files.values()
                if (m or {}).get("bf", {}).get("ref")
            )
            return out

        live: set[str] = set()
        pinned = [
            v for v in self.list_tags().values() if v <= latest - retain_versions - 1
        ]
        for v in [*range(max(1, latest - retain_versions), latest + 1), *pinned]:
            live |= _live_of(self.snapshot(v))
        for b in self.list_branches():
            br = self.branch(b)
            if br.exists():
                live |= _live_of(br.snapshot())
        removed = 0
        for rel in self.store.walk_files(DATA_DIR):
            if rel not in live:
                self.store.delete(rel)
                removed += 1
        now = time.time()
        for entry in self.store.list_dir(""):
            if not entry.startswith(".staging-") or not self.store.is_dir(entry):
                continue
            if now - self.store.newest_mtime(entry) > staging_grace_sec:
                self.store.delete_dir(entry)
                removed += 1
        return removed

    def vacuum_metadata(self, retain_versions: int = 0) -> int:
        """Prune log entries and checkpoints older than the retained
        horizon. Without this a long CDC tail accumulates one log entry per
        epoch and one checkpoint per CHECKPOINT_EVERY forever — after 10^4
        epochs every ``snapshot()`` directory listing pays for it.

        Keeps: the newest checkpoint at or below ``latest - retain_versions``
        (the replay base) and every log entry from that base forward. Every
        retained snapshot stays reconstructible; versions older than the
        base expire (Iceberg expire-snapshots semantics — same horizon
        ``vacuum(retain_versions)`` applies to data files). TAGGED versions
        pin the horizon: metadata needed to reconstruct a tagged snapshot
        is retained until the tag is dropped. Branch lineages are
        unaffected (each owns its log dir; run vacuum_metadata on the
        branch handle to prune it). Returns the number of metadata files
        removed."""
        latest = self.latest_version()
        horizon = max(1, latest - retain_versions)
        if not self._is_branch_handle():
            tags = self.list_tags().values()
            if tags:
                horizon = max(1, min(horizon, *tags))
        base = max(
            (v for v in self._available_checkpoints() if v <= horizon),
            default=None,
        )
        if base is None:
            return 0  # no checkpoint to replay from yet — keep everything
        removed = 0
        for e in self.store.list_dir(self.log_dir):
            if e.startswith(".") or not e.endswith(".json"):
                continue
            v = int(e.split(".")[0])
            if v < base:
                self.store.delete(f"{self.log_dir}/{e}")
                removed += 1
        return removed

    def history(self, limit: int | None = None) -> list[dict]:
        """Delta ``DESCRIBE HISTORY`` shape: newest-first commit records
        — version, operation, timestamp (epoch seconds), files added/
        removed, and the operation's summary (merge metrics, restore
        provenance, compaction counts, ``rebased_over`` for commits that
        won via optimistic rebase). Metadata-only: O(retained log)."""
        t = self.oldest_version()
        out = []
        for e in reversed(self.log_entries(t)):
            out.append(
                {
                    "version": e["version"],
                    "operation": e.get("operation"),
                    "timestamp": e.get("timestamp"),
                    "files_added": len(e.get("add") or ()),
                    "files_removed": len(e.get("remove") or ()),
                    "summary": e.get("summary") or {},
                    # caller-supplied commit properties (writer tags, the
                    # CDC manifest, audit markers) — the fields concurrency
                    # tests and provenance consumers key on. Until this
                    # shape replaced the raw-log history(), callers read
                    # them off the entries directly; keep them first-class.
                    "properties": e.get("properties") or {},
                }
            )
            if limit is not None and len(out) >= limit:
                break
        return out

    def restore_to_timestamp(self, timestamp: float) -> CommitResult:
        """RESTORE to the snapshot live at ``timestamp`` (epoch seconds)
        — ``version_as_of`` composed with :meth:`restore`; same
        metadata-only commit, same validations (vacuumed targets and
        layout-unsettable transitions refuse loudly)."""
        return self.restore(self.version_as_of(timestamp))

    def restore(self, version: int) -> CommitResult:
        """Iceberg/Delta-style RESTORE (rollback to a snapshot): ONE
        metadata-only commit that makes the live state equal ``version``'s
        snapshot — zero data movement, history preserved (the rolled-back
        versions stay time-travelable until vacuum reclaims them). The ops
        answer to "the last ingest epoch was bad": restore, then re-ingest.

        The commit is minimal: only files whose meta (rows/bucket/stats/
        blooms AND accumulated DV refs) differs between the two
        snapshots are removed/re-added — common undo-last-epoch restores
        touch just that epoch's files. Schema, bucket layout, and the
        target's properties are re-stamped wholesale (property keys
        introduced AFTER the target survive — log replay accumulates
        properties and cannot delete keys; layout-relevant keys are all
        overwritten by the target's values).

        Raises ValueError if the target version is the current one, is
        outside the retained log, or if any of its data/DV files was
        already reclaimed by vacuum (beyond the data retention horizon).
        Concurrency-safe: the commit conditionally puts the next version —
        a racing writer fails one of the two with ConcurrentCommitError."""
        latest = self.latest_version()
        if version == latest:
            raise ValueError(f"restore({version}): already the live version")
        if not self.oldest_version() <= version < latest:
            raise ValueError(
                f"restore({version}): version outside the retained log "
                f"[{self.oldest_version()}, {latest}]"
            )
        target = self.snapshot(version)
        current = self.snapshot(latest)
        if target.num_buckets is None and current.num_buckets is not None:
            # log replay accumulates num_buckets and cannot unset it — a
            # restore across a rebucket to an UNBUCKETED target would lie
            # about the layout. Loud refusal over silent wrong pruning.
            raise ValueError(
                f"restore({version}): target predates bucketing "
                f"(num_buckets None vs {current.num_buckets}) — restore "
                "cannot unset the bucket layout; rebucket after restoring "
                "to a bucketed version instead"
            )
        needed = set(target.files)
        for m in target.files.values():
            needed.update(m.get("dv") or [])
        missing = sorted(p for p in needed if not self.store.exists(p))
        if missing:
            raise ValueError(
                f"restore({version}): {len(missing)} of the target's files "
                f"were reclaimed by vacuum (e.g. {missing[0]}) — the target "
                "is beyond the data retention horizon"
            )
        removes = [
            p for p, m in current.files.items() if target.files.get(p) != m
        ]
        adds: list[dict] = []
        dv: dict[str, list[str]] = {}
        for p, m in target.files.items():
            if current.files.get(p) == m:
                continue  # byte-identical meta — carry over untouched
            a = {"path": p, "rows": m.get("rows"), "bucket": m.get("bucket")}
            if m.get("stats"):
                a["stats"] = m["stats"]
            if m.get("bf"):
                a["bf"] = m["bf"]
            adds.append(a)
            if m.get("dv"):
                dv[p] = list(m["dv"])
        return self.commit_rewrite(
            adds,
            removes,
            operation="restore",
            schema=target.schema,
            properties=dict(target.properties),
            num_buckets=target.num_buckets,
            dv=dv or None,
            summary={
                "restored_to": version,
                "files_readded": len(adds),
                "files_removed": len(removes),
            },
            expected_version=latest + 1,
        )

    # ------------------------------------------------------------- branches
    # Iceberg-style refs, reduced to the linear-log model: a BRANCH is a
    # fork of the main lineage (its own log dir seeded with a checkpoint of
    # the fork snapshot; data files shared with main, so branch writes move
    # zero data), and PUBLISH squashes the branch's net effect into ONE
    # conditional-put commit on main. This is the write-audit-publish
    # pattern: an ingest epoch lands on a branch, an audit reads the branch,
    # and main's readers never see a row until the (atomic) publish.
    # Reference parity note: the reference audits by reading Snowflake
    # stream contents before INSERT (DataLoader.scala); WAP is the lake-
    # format equivalent with the audit moved AFTER the merge but BEFORE
    # visibility.

    @staticmethod
    def _check_ref_name(name: str) -> None:
        if not name or not all(c.isalnum() or c in "-_." for c in name):
            raise ValueError(f"invalid ref name {name!r} (alnum, '-', '_', '.')")

    def _is_branch_handle(self) -> bool:
        return self.log_dir != LOG_DIR

    def branch(self, name: str) -> "LakeTable":
        """Handle on branch ``name``: same root, same data dir, its own log
        lineage. Reads/commits through it exactly like a table — MERGE,
        UPDATE, compact, changelog all work unchanged. Missing branches
        raise on first metadata access (see :meth:`list_branches`)."""
        self._check_ref_name(name)
        if self._is_branch_handle():
            raise ValueError("branches fork from main, not from another branch")
        return LakeTable(
            self.spark,
            self.root,
            store=self.store,
            log_dir=f"{BRANCHES_DIR}/{name}",
        )

    def list_branches(self) -> list[str]:
        return sorted(
            b
            for b in self.store.list_dir(BRANCHES_DIR)
            if self.store.is_dir(f"{BRANCHES_DIR}/{b}")
        )

    def create_branch(self, name: str, if_not_exists: bool = False) -> "LakeTable":
        """Fork the current snapshot into branch ``name``. O(metadata):
        writes one seed checkpoint (the fork state, kept in the BRANCH's
        log so it survives main-side ``vacuum_metadata``) plus one marker
        commit carrying the fork version. Concurrent creators at the same
        fork version resolve by the marker's conditional put."""
        br = self.branch(name)
        snap = self.snapshot()
        br.store.ensure_dir(br.log_dir)
        try:
            br._commit(
                {
                    "operation": "create-branch",
                    "add": [],
                    "remove": [],
                    "properties": {PROP_BRANCH_BASE: snap.version},
                    "summary": {"from_version": snap.version},
                },
                expected_version=snap.version + 1,
            )
        except ConcurrentCommitError:
            if if_not_exists and br.exists():
                return br
            raise FileExistsError(f"branch {name} already exists at {self.root}")
        if br.exists() and br.oldest_version() < snap.version + 1:
            # a racer created this branch from an OLDER fork just before us;
            # our marker landed on top of a diverged lineage — unwind ours
            br.store.delete(br._log_path(snap.version + 1))
            if if_not_exists:
                return br
            raise FileExistsError(f"branch {name} already exists at {self.root}")
        payload = {
            "version": snap.version,
            "schema": snap.schema.json(),
            "key_cols": snap.key_cols,
            "num_buckets": snap.num_buckets,
            "files": snap.files,
            "properties": snap.properties,
        }
        br.store.put_if_absent(
            br._checkpoint_path(snap.version), json.dumps(payload).encode()
        )
        return br

    def drop_branch(self, name: str) -> None:
        """Delete the branch lineage (metadata only). Data files that only
        the branch referenced become orphans; the next :meth:`vacuum`
        reclaims them — until then they cost storage, never correctness."""
        self._check_ref_name(name)
        self.store.delete_dir(f"{BRANCHES_DIR}/{name}")

    def publish_branch(
        self, name: str, drop: bool = True, max_retries: int = 5
    ) -> CommitResult:
        """Squash-publish branch ``name`` onto main as ONE atomic commit
        carrying the branch's net file/dv/schema/properties delta since
        its fork. Readers of main see the branch's whole history appear at
        a single version (changelog consumers get one publish commit).

        If main advanced past the fork, the publish REBASES under snapshot-
        isolation validation (the Iceberg overwrite check): every file the
        branch removed or attached delete refs to must still be live on
        main, no property key may have changed on both sides, and layout
        changes (bucket count / key columns) on either side conflict. A
        validation failure raises :class:`ConcurrentCommitError` — the
        branch is left intact for inspection or re-fork."""
        br = self.branch(name)
        head = br.snapshot()
        fork = int(head.properties.get(PROP_BRANCH_BASE) or 0)
        if not fork:
            raise ValueError(f"branch {name} carries no fork stamp")
        base = br.snapshot(fork)
        adds = []
        dv_delta: dict[str, list] = {}
        for p, m in head.files.items():
            m = m or {}
            old = base.files.get(p)
            if old is None:
                add = {"path": p, "rows": m.get("rows"), "bucket": m.get("bucket")}
                if m.get("stats"):
                    add["stats"] = m["stats"]
                if m.get("bf"):
                    add["bf"] = m["bf"]
                adds.append(add)
                # delete refs acquired on branch-added files re-attach via
                # the same entry's dv map (snapshot applies adds first)
                if m.get("dv"):
                    dv_delta[p] = list(m["dv"])
                continue
            old = old or {}
            new_dv = [d for d in (m.get("dv") or []) if d not in (old.get("dv") or [])]
            if new_dv:
                dv_delta[p] = new_dv
        removes = [p for p in base.files if p not in head.files]
        props_delta = {
            k: v
            for k, v in head.properties.items()
            if k != PROP_BRANCH_BASE and base.properties.get(k) != v
        }
        entry: dict = {
            "operation": "publish",
            "add": adds,
            "remove": removes,
            "summary": {
                "branch": name,
                "branch_base": fork,
                "branch_head": head.version,
                "files_added": len(adds),
                "files_removed": len(removes),
            },
        }
        if head.schema.json() != base.schema.json():
            entry["schema"] = head.schema.json()
        if head.key_cols != base.key_cols:
            entry["key_cols"] = head.key_cols
        if head.num_buckets != base.num_buckets:
            entry["num_buckets"] = head.num_buckets
        if dv_delta:
            entry["dv"] = dv_delta
        if props_delta:
            entry["properties"] = props_delta
        touched = set(removes) | set(dv_delta)
        for _ in range(max_retries):
            cur = self.snapshot()
            if cur.version != fork:
                missing = sorted(p for p in touched if p not in cur.files)
                if missing:
                    raise ConcurrentCommitError(
                        f"cannot publish branch {name}: main rewrote files the "
                        f"branch mutated since fork v{fork} "
                        f"(e.g. {missing[:3]})"
                    )
                if (
                    "num_buckets" in entry
                    or "key_cols" in entry
                    or cur.num_buckets != base.num_buckets
                    or cur.key_cols != base.key_cols
                ):
                    raise ConcurrentCommitError(
                        f"cannot publish branch {name}: bucket/key layout "
                        "changed since fork"
                    )
                if "schema" in entry and cur.schema.json() != base.schema.json():
                    raise ConcurrentCommitError(
                        f"cannot publish branch {name}: schema changed on both "
                        "main and the branch since fork"
                    )
                both = sorted(
                    k
                    for k in props_delta
                    if cur.properties.get(k) != base.properties.get(k)
                )
                if both:
                    raise ConcurrentCommitError(
                        f"cannot publish branch {name}: properties changed on "
                        f"both sides since fork: {both[:3]}"
                    )
            try:
                res = self._commit(entry, expected_version=cur.version + 1)
                if drop:
                    self.drop_branch(name)
                return res
            except ConcurrentCommitError:
                continue  # somebody else won this version — re-validate
        raise ConcurrentCommitError(
            f"publish of branch {name} lost {max_retries} commit races"
        )

    # ----------------------------------------------------------------- tags
    def create_tag(self, name: str, version: int | None = None) -> int:
        """Immutable named pointer at a main-lineage version (Iceberg tag).
        ``vacuum`` / ``vacuum_metadata`` keep tagged snapshots readable
        until the tag is dropped."""
        self._check_ref_name(name)
        if self._is_branch_handle():
            raise ValueError("tags point at main-lineage versions")
        v = int(version) if version is not None else self.latest_version()
        self.store.ensure_dir(TAGS_DIR)
        if not self.store.put_if_absent(
            f"{TAGS_DIR}/{name}.json", json.dumps({"version": v}).encode()
        ):
            raise FileExistsError(f"tag {name} already exists at {self.root}")
        return v

    def tag_version(self, name: str) -> int:
        self._check_ref_name(name)
        return int(
            json.loads(self.store.read_bytes(f"{TAGS_DIR}/{name}.json"))["version"]
        )

    def list_tags(self) -> dict[str, int]:
        out = {}
        for e in self.store.list_dir(TAGS_DIR):
            if e.endswith(".json") and not e.startswith("."):
                out[e[: -len(".json")]] = int(
                    json.loads(self.store.read_bytes(f"{TAGS_DIR}/{e}"))["version"]
                )
        return out

    def drop_tag(self, name: str) -> None:
        self._check_ref_name(name)
        self.store.delete(f"{TAGS_DIR}/{name}.json")

    def read_at_tag(self, name: str) -> DataFrame:
        return self.read(version=self.tag_version(name))
