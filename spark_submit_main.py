"""spark-submit entrypoint for the CDC replay engine.

Packaged run (north_rule: "run via spark-submit --py-files on a
multi-executor cluster"):

    python scripts/package.py                       # → dist/engine.zip
    spark-submit --py-files dist/engine.zip \
        spark_submit_main.py \
        --events /path/to/change_events_parquet \
        --table  /path/to/lake_table \
        --epochs 8

On a cluster, pass ``--master yarn``/``k8s://…`` and executor conf to
spark-submit; this script only builds the session via getOrCreate so all
submit-time conf wins. Without --events, generates a deterministic
synthetic log (--gen-events N) first.

Prints one JSON line of metrics (events/sec, per-epoch manifests).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--events", help="parquet path of the change-event log")
    p.add_argument("--gen-events", type=int, default=0,
                   help="generate N synthetic events to --events first")
    p.add_argument("--zipf", type=float, default=1.2, help="hot-repo skew for --gen-events")
    p.add_argument("--table", required=True, help="lake table root (created if absent)")
    p.add_argument("--epochs", type=int, default=8)
    p.add_argument("--max-lsn", type=int, default=None)
    p.add_argument("--keys", default="repo,path")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--gen-only", action="store_true",
                   help="generate the event log (--gen-events) and exit")
    p.add_argument("--no-pandas-udfs", action="store_true",
                   help="use JVM expressions instead of pandas UDFs for row transforms")
    p.add_argument("--broadcast-limit", type=int, default=2_000_000,
                   help="winner-set size above which the payload semi-join "
                        "shuffles instead of broadcasting")
    p.add_argument("--quarantine-dir", default=None,
                   help="dead-letter dir: null-key events are appended here "
                        "as raw parquet (always counted in the manifest)")
    p.add_argument("--bg-compact", type=float, default=None, metavar="SECS",
                   help="run table maintenance on a BACKGROUND thread every "
                        "SECS seconds, concurrent with the epoch loop, using "
                        "optimistic commit rebase (lost races re-commit "
                        "metadata-only) — maintenance off the ingest path; "
                        "mutually exclusive with --compact-every and --wap")
    p.add_argument("--compact-every", type=int, default=None,
                   help="run table maintenance (small-file consolidation + "
                        "deletion-vector absorption) after every K epochs")
    p.add_argument("--cluster-by", default=None,
                   help="comma-separated columns to cluster on during "
                        "--compact-every maintenance (zone-map layout)")
    p.add_argument("--zorder", action="store_true",
                   help="with --cluster-by a,b: multi-column Z-order layout "
                        "instead of 1-D range sort")
    p.add_argument("--bin-pack-rows", type=int, default=None,
                   help="size-policy maintenance: --compact-every rewrites "
                        "only files under this row target (plus tombstone "
                        "carriers) instead of whole buckets — constant "
                        "write amplification on a long ingest tail")
    p.add_argument("--history", type=int, default=None, metavar="N",
                   help="ops action: print the newest N commit records of "
                        "--table (DESCRIBE HISTORY shape: version, "
                        "operation, timestamp, file counts, summary) as "
                        "JSON and exit — pairs with --restore-to")
    p.add_argument("--restore-to", type=int, default=None,
                   help="ops action: metadata-only RESTORE of --table to this "
                        "snapshot version (rollback of a bad ingest epoch), "
                        "print the commit summary, and exit — no replay runs")
    p.add_argument("--vacuum-retain", type=int, default=None,
                   help="after replay, vacuum data+metadata keeping the "
                        "last N versions of time travel")
    p.add_argument("--bloom", action="store_true",
                   help="per-file key bloom filters on the lake table: "
                        "MERGE/DELETE rewrite only files that may contain "
                        "an epoch key (file-grain copy-on-write)")
    p.add_argument("--wap", action="store_true",
                   help="write-audit-publish: each epoch applies on a lake "
                        "BRANCH and publishes atomically only after a "
                        "row-conservation audit (branch rowcount equals "
                        "pre-epoch rows + inserts - deletes); a failing "
                        "audit drops the branch — main never sees the rows")
    args = p.parse_args(argv)
    if args.bg_compact is not None:
        # fail in milliseconds, not after SparkSession + parquet startup
        if args.bg_compact <= 0:
            p.error("--bg-compact must be > 0 seconds (omit to disable)")
        if args.compact_every:
            p.error("--bg-compact and --compact-every are mutually exclusive")
        if args.wap:
            p.error("--bg-compact cannot run under --wap (a main-table "
                    "compact between fork and publish invalidates the "
                    "publish rebase)")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("cdc-replay").getOrCreate()

    from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine
    from techtalk_data_pipeline_snowpark_spark.fixtures.generators import change_events

    if args.history is not None:
        from techtalk_data_pipeline_snowpark_spark.lake import LakeTable

        print(json.dumps(
            {"history": LakeTable(spark, args.table).history(args.history)}
        ))
        return 0

    if args.restore_to is not None:
        from techtalk_data_pipeline_snowpark_spark.lake import LakeTable

        t = LakeTable(spark, args.table)
        res = t.restore(args.restore_to)
        print(json.dumps({
            "restored_to": args.restore_to,
            "new_version": res.version,
            "rows": t.read().count(),
            **{k: v for k, v in (res.summary or {}).items()
               if k != "restored_to"},
        }))
        return 0

    if args.gen_events:
        if not args.events:
            p.error("--gen-events requires --events (output path)")
        change_events(
            spark, args.gen_events, n_repos=200, paths_per_repo=5000,
            zipf_s=args.zipf, seed=42,
        ).write.mode("overwrite").parquet(args.events)
        if args.gen_only:
            print(json.dumps({"generated": args.gen_events, "path": args.events}))
            return 0

    log = spark.read.parquet(args.events)
    max_lsn = args.max_lsn or (log.agg(F.max("lsn")).first()[0] or 0)

    audit_fn = None
    audits = []
    if args.wap:
        def audit_fn(branch, res):
            # row conservation: the branch's post-merge rowcount must equal
            # the pre-epoch count plus net inserts minus deletes — catches
            # a merge that dropped or duplicated rows before ANY reader
            # can see them
            fork = int(
                branch.snapshot().properties.get("lake.branch.base") or 0
            )
            # from file metadata unless the fork carries DVs (then a scan):
            # raw file row counts still include DV-deleted rows
            before = branch.count_rows(fork)
            after = branch.read().count()
            ok = after == before + res.rows_inserted - res.rows_deleted
            audits.append({"epoch": res.epoch_id, "rows_before": before,
                           "rows_after": after, "passed": ok})
            return ok

    eng = CdcEngine(
        spark,
        args.table,
        key_cols=tuple(args.keys.split(",")),
        num_buckets=args.buckets,
        use_pandas_udfs=not args.no_pandas_udfs,
        broadcast_key_limit=args.broadcast_limit,
        quarantine_dir=args.quarantine_dir,
        audit_fn=audit_fn,
        bloom=args.bloom,
    )
    t0 = time.time()
    results = eng.replay(
        log, max_lsn=max_lsn, epoch_size=(max_lsn + args.epochs - 1) // args.epochs,
        compact_every=args.compact_every,
        compact_sort_by=args.cluster_by.split(",") if args.cluster_by else None,
        compact_zorder=args.zorder,
        compact_bin_pack_rows=args.bin_pack_rows,
        background_compact_interval=args.bg_compact,
    )
    dt = time.time() - t0
    vacuumed = None
    if args.vacuum_retain is not None:
        t = eng.table()
        vacuumed = t.vacuum(retain_versions=args.vacuum_retain)
        t.vacuum_metadata(retain_versions=args.vacuum_retain)
    n_events = sum(r.events for r in results)
    print(json.dumps({
        "replay_sec": round(dt, 3),
        "lsn_range": max_lsn,
        "deduped_events_merged": n_events,
        "lsns_per_sec": round(max_lsn / dt, 1) if dt > 0 else None,
        "epochs": [
            {"epoch": r.epoch_id, "events": r.events, "ins": r.rows_inserted,
             "upd": r.rows_updated, "del": r.rows_deleted, "skipped": r.skipped}
            for r in results
        ],
        "final_rows": eng.read_state().count(),
        **({"files_vacuumed": vacuumed} if vacuumed is not None else {}),
        **({"wap_audits": audits} if args.wap else {}),
        **({"background_compactions": eng.background_compactions,
            "background_compact_conflicts": eng.background_compact_conflicts,
            "background_compact_errors": eng.background_compact_errors}
           if args.bg_compact is not None else {}),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
