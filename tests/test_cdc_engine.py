"""End-to-end CDC replay vs pandas oracle (SURVEY.md §5 items 2-4, 6):
final-state equality incl. per-row sha256(content), exactly-once resume,
duplicate delivery, schema evolution, salted-vs-plain parity."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine, dedup_latest, dedup_latest_salted, dedup_latest_window
from techtalk_data_pipeline_snowpark_spark.fixtures.generators import (
    change_events,
    change_events_evolution,
)

from oracle import replay_oracle

N = 3000


def _final_state_pdf(engine):
    pdf = engine.read_state().toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)


def _oracle_pdf(events_pdf, extra_cols=()):
    out = replay_oracle(events_pdf)
    return out.sort_values(["repo", "path"]).reset_index(drop=True)


def _assert_state_equal(engine_pdf, oracle_pdf):
    assert len(engine_pdf) == len(oracle_pdf)
    cols = [c for c in oracle_pdf.columns]
    e = engine_pdf[cols].reset_index(drop=True)
    o = oracle_pdf[cols].reset_index(drop=True)
    for c in cols:
        ev, ov = e[c], o[c]
        if ev.dtype != object and ov.dtype != object:
            pd.testing.assert_series_equal(ev, ov.astype(ev.dtype), check_names=False)
        else:
            assert ev.fillna("∅").tolist() == ov.fillna("∅").tolist(), f"column {c} differs"


def test_replay_matches_oracle(spark, tmp_path):
    ev = change_events(spark, N, n_repos=20, paths_per_repo=15, seed=7)
    engine = CdcEngine(spark, str(tmp_path / "t"), num_buckets=8)
    results = engine.replay(ev, epoch_size=1000)
    assert len(results) == 3
    state = _final_state_pdf(engine)
    oracle = _oracle_pdf(ev.toPandas())
    _assert_state_equal(state, oracle)
    # sha256(content) invariant asserted per row
    assert state["content_sha256"].notna().all()


def test_replay_single_epoch_equals_many(spark, tmp_path):
    ev = change_events(spark, N, n_repos=20, paths_per_repo=15, seed=7)
    e1 = CdcEngine(spark, str(tmp_path / "one"), num_buckets=8)
    e1.replay(ev, epoch_size=10**9)
    e2 = CdcEngine(spark, str(tmp_path / "many"), num_buckets=8)
    e2.replay(ev, epoch_size=500)
    _assert_state_equal(_final_state_pdf(e1), _final_state_pdf(e2))


def test_exactly_once_reapply_is_noop(spark, tmp_path):
    ev = change_events(spark, 1000, seed=3)
    engine = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4)
    engine.replay(ev, epoch_size=400)
    v = engine.table().latest_version()
    state_before = _final_state_pdf(engine)
    # re-apply already-committed epochs → skipped, no new data commits
    res = engine.replay(ev, epoch_size=400)
    assert res == []
    r = engine.apply_epoch(ev, 0, 1000)
    assert r.skipped
    _assert_state_equal(_final_state_pdf(engine), state_before)


def test_resume_mid_replay(spark, tmp_path):
    """Kill mid-replay: apply half the epochs, then 'resume' with a fresh
    engine object — replay continues from the manifest."""
    ev = change_events(spark, 2000, seed=11)
    root = str(tmp_path / "t")
    e1 = CdcEngine(spark, root, num_buckets=4)
    e1.apply_epoch(ev, 0, 700)
    e1.apply_epoch(ev, 700, 1400)
    # crash → new process
    e2 = CdcEngine(spark, root, num_buckets=4)
    assert e2.last_lsn() == 1400
    results = e2.replay(ev, epoch_size=700)
    assert [r.lsn_to for r in results] == [2000]
    _assert_state_equal(_final_state_pdf(e2), _oracle_pdf(ev.toPandas()))
    # manifests carry per-bucket offsets and lineage
    ms = e2.manifests()
    assert len(ms) == 3
    assert all("partition_offsets" in m for m in ms)
    assert ms[-1]["lsn_to"] == 2000


def test_duplicate_delivery(spark, tmp_path):
    ev = change_events(spark, 1500, seed=5, dup_delivery_rate=0.2)
    engine = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4)
    engine.replay(ev, epoch_size=500)
    base = change_events(spark, 1500, seed=5)  # without duplicates
    _assert_state_equal(_final_state_pdf(engine), _oracle_pdf(base.toPandas()))


def test_all_delete_epoch(spark, tmp_path):
    """Regression: an epoch of 100% deletes empties every touched bucket;
    the empty dynamic-partition write loses Observation metrics in Spark
    4.1.2 and used to kill the replay loop. Final state: empty table,
    correct rows_deleted, loop alive for the next epoch."""
    ev = change_events(spark, 400, n_repos=4, paths_per_repo=5, seed=11,
                       op_mix=(1.0, 0.0, 0.0))
    engine = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4)
    engine.replay(ev, epoch_size=10**9)
    live = [(r.repo, r.path) for r in engine.read_state().select("repo", "path").collect()]
    assert live
    # epoch 2: one delete event per live key — state goes to zero rows
    ev_cols = ev.columns
    from datetime import datetime

    del_rows = [
        {c: None for c in ev_cols}
        | {"lsn": 401 + i, "op": "delete", "repo": repo, "path": path,
           "ts": datetime(2026, 1, 1)}
        for i, (repo, path) in enumerate(live)
    ]
    dels = spark.createDataFrame(
        [tuple(r[c] for c in ev_cols) for r in del_rows], ev.schema
    )
    res = engine.apply_epoch(ev.unionByName(dels), 400, 400 + len(live))
    assert not res.skipped
    assert engine.read_state().count() == 0
    # loop alive: a further epoch of inserts works
    ev3 = change_events(spark, 100, n_repos=2, paths_per_repo=3, seed=99,
                        op_mix=(1.0, 0.0, 0.0))
    base = 400 + len(live)
    ev3 = ev3.withColumn("lsn", F.col("lsn") + base).select(*ev_cols)
    res3 = engine.apply_epoch(ev3, base, base + 100)
    assert not res3.skipped
    assert engine.read_state().count() > 0


def test_salted_equals_plain(spark, tmp_path):
    ev = change_events(spark, 2000, n_repos=3, paths_per_repo=4, zipf_s=2.0, seed=13)
    plain = CdcEngine(spark, str(tmp_path / "p"), num_buckets=4, salted=False)
    plain.replay(ev, epoch_size=10**9)
    salted = CdcEngine(spark, str(tmp_path / "s"), num_buckets=4, salted=True, num_salts=8)
    salted.replay(ev, epoch_size=10**9)
    _assert_state_equal(_final_state_pdf(plain), _final_state_pdf(salted))


def test_dedup_variants_agree(spark):
    ev = change_events(spark, 2000, n_repos=5, paths_per_repo=5, seed=17)
    a = dedup_latest(ev, ["repo", "path"]).orderBy("repo", "path").collect()
    b = dedup_latest_salted(ev, ["repo", "path"], 8).orderBy("repo", "path").collect()
    c = dedup_latest_window(ev, ["repo", "path"]).select(*[f.name for f in dedup_latest(ev, ["repo", "path"]).schema]).orderBy("repo", "path").collect()
    assert [r.lsn for r in a] == [r.lsn for r in b] == [r.lsn for r in c]


def test_dedup_via_winners_agrees(spark):
    """Late-materialization path (winner keys -> payload semi-join) must
    equal the max_by path, broadcast and shuffled variants both."""
    from techtalk_data_pipeline_snowpark_spark.cdc.dedup import (
        dedup_latest_via_winners,
        winner_keys,
    )

    ev = change_events(spark, 2000, n_repos=5, paths_per_repo=5, seed=17, dup_delivery_rate=0.1)
    cols = dedup_latest(ev, ["repo", "path"]).columns
    a = dedup_latest(ev, ["repo", "path"]).orderBy("repo", "path").collect()
    w = winner_keys(ev, ["repo", "path"])
    for bc in (True, False):
        d = (
            dedup_latest_via_winners(ev, ["repo", "path"], w, broadcast=bc)
            .select(cols).orderBy("repo", "path").collect()
        )
        assert [r.lsn for r in d] == [r.lsn for r in a]
        # MERGE precondition: key-unique even under duplicate delivery
        keys = [(r.repo, r.path) for r in d]
        assert len(keys) == len(set(keys))


def test_winner_keys_has_partial_agg_and_pruned_scan(spark):
    """winner_keys must plan as a column-pruned scan (no content column)
    with partial aggregation — the 10^10-scale property."""
    from techtalk_data_pipeline_snowpark_spark.cdc.dedup import winner_keys
    from techtalk_data_pipeline_snowpark_spark.plans import scan_read_columns

    ev = change_events(spark, 500, seed=3)
    import tempfile, os
    p = os.path.join(tempfile.mkdtemp(), "ev")
    ev.write.parquet(p)
    w = winner_keys(spark.read.parquet(p), ["repo", "path"])
    cols = scan_read_columns(w)
    assert cols and set(cols[0]) == {"repo", "path", "lsn", "op"}, cols


def test_dedup_tie_break_deterministic(spark):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (5, "insert", "r", "p", t0),
        (5, "update", "r", "p", t0),  # LSN tie → op desc wins: 'update'
    ]
    df = spark.createDataFrame(rows, schema)
    got = dedup_latest(df, ["repo", "path"]).collect()[0]
    assert got.op == "update"
    got_w = dedup_latest_window(df, ["repo", "path"]).collect()[0]
    assert got_w.op == "update"


def test_schema_evolution_add_and_widen(spark, tmp_path):
    p1, p2 = change_events_evolution(spark, 1200, marker_frac=0.5, seed=23,
                                     n_repos=10, paths_per_repo=10)
    engine = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4)
    engine.replay(p1, epoch_size=10**9)
    assert dict(engine.read_state().dtypes)["size"] == "int"
    engine.replay(p2, epoch_size=10**9)
    dt = dict(engine.read_state().dtypes)
    assert dt["size"] == "bigint"
    assert "license" in dt
    # oracle over the concatenated log (phase-1 rows have no license → null)
    ev_all = pd.concat([p1.toPandas(), p2.toPandas()], ignore_index=True)
    oracle = _oracle_pdf(ev_all)
    state = _final_state_pdf(engine)
    # rows surviving from phase 1 keep null license; phase 2 rows carry one
    _assert_state_equal(state, oracle)
    p2_keys = {(r.repo, r.path) for r in p2.where("op != 'delete'").select("repo", "path").distinct().collect()}
    with_license = state[state.license.notna()]
    assert len(with_license) > 0
    assert all((r.repo, r.path) in p2_keys for r in with_license.itertuples())


def test_bucket_config_mismatch_falls_back_safely(spark, tmp_path):
    """An engine constructed with a different num_buckets than an existing
    table must NOT trust its precomputed bucket list (ADVICE r1: wrong
    bucket ids would silently skip rewriting matched files → stale dups).
    The fallback lets merge_into derive pruning from the snapshot."""
    ev = change_events(spark, 1500, n_repos=10, paths_per_repo=10, seed=11)
    root = str(tmp_path / "t")
    e1 = CdcEngine(spark, root, num_buckets=8)
    e1.replay(ev.where(F.col("lsn") <= 700), epoch_size=10**9)
    # resume with a mismatched bucket config (16 != table's 8)
    e2 = CdcEngine(spark, root, num_buckets=16)
    e2.replay(ev, epoch_size=10**9)
    state = _final_state_pdf(e2)
    oracle = _oracle_pdf(ev.toPandas())
    _assert_state_equal(state, oracle)
    # no duplicate keys survived
    assert not state.duplicated(subset=["repo", "path"]).any()


def test_competing_replayers_converge_exactly_once(spark, tmp_path):
    """Two replayers racing on the SAME table: optimistic version pinning
    means one writer wins each commit; the loser re-checks and skips
    already-applied epochs. Final state must equal the oracle and every
    epoch must be recorded exactly once."""
    import threading

    ev = change_events(spark, 2000, n_repos=10, paths_per_repo=10, seed=19)
    root = str(tmp_path / "race")
    errors = []

    def run_replayer(seed):
        try:
            eng = CdcEngine(spark, root, num_buckets=4)
            eng.replay(ev, max_lsn=2000, epoch_size=500)
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=run_replayer, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    eng = CdcEngine(spark, root, num_buckets=4)
    _assert_state_equal(_final_state_pdf(eng), _oracle_pdf(ev.toPandas()))
    # every epoch applied exactly once (manifest epoch ids strictly increase)
    ids = [m["epoch_id"] for m in eng.manifests()]
    assert ids == sorted(set(ids))
    assert eng.last_lsn() == 2000
    # losers' staged orphans are cleanable
    eng.table().vacuum()
    _assert_state_equal(_final_state_pdf(eng), _oracle_pdf(ev.toPandas()))


def test_nested_schema_evolution(spark, tmp_path):
    """Struct-typed payload columns evolve too: phase 2 adds a nested
    field and widens a nested int → long; phase-1 survivors read the new
    nested field as null under the evolved schema."""
    from pyspark.sql import types as T

    from techtalk_data_pipeline_snowpark_spark.cdc.schema_evolution import reconcile

    s1 = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("meta", T.StructType([
            T.StructField("stars", T.IntegerType()),
            T.StructField("branch", T.StringType()),
        ])),
        T.StructField("tags", T.ArrayType(T.IntegerType())),
    ])
    s2 = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("meta", T.StructType([
            T.StructField("stars", T.LongType()),          # widened
            T.StructField("branch", T.StringType()),
            T.StructField("license", T.StringType()),      # added (nested)
        ])),
        T.StructField("tags", T.ArrayType(T.LongType())),  # element widened
    ])
    evolved, added, widened = reconcile(s1, s2)
    assert added == []  # top-level column set unchanged
    assert {w[0] for w in widened} == {"meta", "tags"}
    meta = evolved["meta"].dataType
    assert meta["stars"].dataType == T.LongType()
    assert "license" in meta.fieldNames()
    assert evolved["tags"].dataType.elementType == T.LongType()

    # end-to-end: engine replays both phases over a real table
    rows1 = [(1, 10, (5, "main"), [1, 2]), (2, 11, (7, "dev"), [3])]
    ev1 = spark.createDataFrame(
        rows1, "k long, lsn long, meta struct<stars:int,branch:string>, tags array<int>"
    ).selectExpr("lsn", "'upsert' AS op", "k", "meta", "tags")
    rows2 = [(2, 20, (8, "dev", "mit"), [4]), (3, 21, (9, "main", "apl"), [5])]
    ev2 = spark.createDataFrame(
        rows2,
        "k long, lsn long, meta struct<stars:bigint,branch:string,license:string>, tags array<bigint>",
    ).selectExpr("lsn", "'upsert' AS op", "k", "meta", "tags")
    eng = CdcEngine(spark, str(tmp_path / "t"), key_cols=("k",), num_buckets=2)
    eng.replay(ev1, max_lsn=11, epoch_size=10**9)
    eng.replay(ev2, max_lsn=21, epoch_size=10**9)
    state = {r.k: r for r in eng.read_state().collect()}
    assert state[1].meta.stars == 5 and state[1].meta.license is None
    assert state[2].meta.license == "mit" and state[2].meta.stars == 8
    assert state[3].tags == [5]


def test_all_delete_epoch_uses_deletion_vectors(spark, tmp_path):
    """A 100%-delete epoch takes the merge-on-read fast path: the commit is
    deletion vectors + manifest only — zero data files added or removed —
    and replay state/metrics/watermark stay exact."""
    ev = change_events(spark, 300, n_repos=4, paths_per_repo=5, seed=3,
                       op_mix=(1.0, 0.0, 0.0))
    engine = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4)
    engine.replay(ev, epoch_size=10**9)
    t = engine.table()
    live = [(r.repo, r.path) for r in engine.read_state().select("repo", "path").collect()]
    files_before = set(t.snapshot().files)
    ev_cols = ev.columns
    from datetime import datetime

    kill = live[: len(live) // 2]
    del_rows = [
        {c: None for c in ev_cols}
        | {"lsn": 301 + i, "op": "delete", "repo": repo, "path": path,
           "ts": datetime(2026, 1, 1)}
        for i, (repo, path) in enumerate(kill)
    ]
    dels = spark.createDataFrame(
        [tuple(r[c] for c in ev_cols) for r in del_rows], ev.schema
    )
    res = engine.apply_epoch(ev.unionByName(dels), 300, 300 + len(kill))
    assert res.rows_deleted == len(kill)
    snap = t.snapshot()
    assert set(snap.files) == files_before          # no rewrite at all
    assert any(m.get("dv") for m in snap.files.values())
    assert engine.read_state().count() == len(live) - len(kill)
    assert engine.last_lsn() == 300 + len(kill)
    # changelog sees the deletes; compact absorbs the DVs invisibly
    v = snap.version
    ch = t.read_changelog(v - 1, v)
    assert ch.where(F.col("_change_type") == "delete").count() == len(kill)
    t.compact()
    assert not any(m.get("dv") for m in t.snapshot().files.values())
    assert engine.read_state().count() == len(live) - len(kill)


def test_all_delete_epoch_cow_fallback_matches(spark, tmp_path):
    """all_delete_mode="merge" keeps the old copy-on-write behavior and
    converges to the same state."""
    ev = change_events(spark, 300, n_repos=4, paths_per_repo=5, seed=3,
                       op_mix=(1.0, 0.0, 0.0))
    a = CdcEngine(spark, str(tmp_path / "mor"), num_buckets=4)
    b = CdcEngine(spark, str(tmp_path / "cow"), num_buckets=4,
                  all_delete_mode="merge")
    for eng in (a, b):
        eng.replay(ev, epoch_size=10**9)
    live = [(r.repo, r.path) for r in a.read_state().select("repo", "path").collect()]
    ev_cols = ev.columns
    from datetime import datetime

    del_rows = [
        {c: None for c in ev_cols}
        | {"lsn": 301 + i, "op": "delete", "repo": repo, "path": path,
           "ts": datetime(2026, 1, 1)}
        for i, (repo, path) in enumerate(live)
    ]
    dels = spark.createDataFrame(
        [tuple(r[c] for c in ev_cols) for r in del_rows], ev.schema
    )
    full = ev.unionByName(dels)
    ra = a.apply_epoch(full, 300, 300 + len(live))
    rb = b.apply_epoch(full, 300, 300 + len(live))
    assert ra.rows_deleted == rb.rows_deleted == len(live)
    assert a.read_state().count() == b.read_state().count() == 0


def test_key_column_widening_keeps_bucket_mapping(spark, tmp_path):
    """Widening a KEY column (int→long) must not re-map bucket ids: Spark's
    murmur3 hashes int(5) and long(5) differently, so without bucket_expr's
    hash normalization (integral keys hash AS LONG — the Iceberg bucket
    transform decision) a widened key would make pruned merges look in the
    wrong buckets and duplicate every existing key instead of updating it."""
    import pyspark.sql.types as T

    s_int = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.StringType()),
        ]
    )
    s_long = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    p1 = spark.createDataFrame(
        [(i + 1, "upsert", i, f"v1_{i}") for i in range(200)], s_int
    )
    # phase 2 UPDATES half the existing keys, now typed long
    p2 = spark.createDataFrame(
        [(1000 + i, "upsert", i, f"v2_{i}") for i in range(0, 200, 2)], s_long
    )
    eng = CdcEngine(spark, str(tmp_path / "t"), key_cols=("k",), num_buckets=8)
    eng.replay(p1, max_lsn=200, epoch_size=10**9)
    eng.replay(p2, max_lsn=1200, epoch_size=10**9)
    state = eng.read_state().toPandas()
    # the fatal symptom of a re-mapped bucket function is DUPLICATED keys
    assert len(state) == 200, f"expected 200 rows, got {len(state)}"
    assert state.k.is_unique
    got = dict(zip(state.k, state.v))
    assert got[0] == "v2_0" and got[1] == "v1_1" and got[198] == "v2_198"
    assert dict(eng.read_state().dtypes)["k"] == "bigint"


def test_key_column_unsafe_retype_refused(spark, tmp_path):
    """A key re-type the bucket hash is NOT invariant under (int→double)
    must raise, not silently corrupt pruning."""
    import pyspark.sql.types as T

    from techtalk_data_pipeline_snowpark_spark.cdc.schema_evolution import (
        SchemaEvolutionError,
        reconcile,
    )

    t_schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    b_schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("v", T.StringType())]
    )
    # non-key widening int→double is fine...
    reconcile(t_schema, b_schema, key_cols=["v"])
    # ...but on the bucketing key it must refuse
    with pytest.raises(SchemaEvolutionError, match="bucket hash"):
        reconcile(t_schema, b_schema, key_cols=["k"])


def test_bucket_expr_hash_normalization(spark):
    """bucket_expr(schema=...) gives int and long encodings of the same
    value the same bucket."""
    import pyspark.sql.types as T

    from techtalk_data_pipeline_snowpark_spark.lake import bucket_expr

    s_int = T.StructType([T.StructField("k", T.IntegerType())])
    s_long = T.StructType([T.StructField("k", T.LongType())])
    d_int = spark.createDataFrame([(i,) for i in range(50)], s_int)
    d_long = spark.createDataFrame([(i,) for i in range(50)], s_long)
    b_int = {
        r.k: r.b
        for r in d_int.select("k", bucket_expr(["k"], 8, s_int).alias("b")).collect()
    }
    b_long = {
        r.k: r.b
        for r in d_long.select("k", bucket_expr(["k"], 8, s_long).alias("b")).collect()
    }
    assert b_int == b_long


def test_replay_with_periodic_compaction(spark, tmp_path):
    """compact_every=1 interleaves maintenance with every epoch: the final
    state is identical to an uncompacted replay, the file count stays at
    ≤1 per bucket, and resume-from-manifest still works across the extra
    compact commits."""
    ev = change_events(spark, N, n_repos=20, paths_per_repo=15, seed=7)
    e_plain = CdcEngine(spark, str(tmp_path / "plain"), num_buckets=8)
    e_plain.replay(ev, epoch_size=1000)
    e_comp = CdcEngine(spark, str(tmp_path / "comp"), num_buckets=8)
    e_comp.replay(ev, epoch_size=1000, compact_every=1)
    _assert_state_equal(_final_state_pdf(e_plain), _final_state_pdf(e_comp))
    snap = e_comp.table().snapshot()
    per_bucket = {}
    for m in snap.files.values():
        per_bucket[m["bucket"]] = per_bucket.get(m["bucket"], 0) + 1
    assert all(n <= 1 for n in per_bucket.values())
    # re-replay is still a no-op (manifest survives the compact commits)
    again = e_comp.replay(ev, epoch_size=1000, compact_every=1)
    assert all(r.skipped for r in again)


def test_replay_with_zorder_clustered_compaction(spark, tmp_path):
    """compact_sort_by + compact_zorder on the ingest loop: maintenance
    clusters the rewritten buckets on (lsn, ts) via the Morton curve while
    staying row-invariant — the final state equals the plain replay, and
    zone maps prune a predicate on the SECOND cluster column."""
    from pyspark.sql import functions as F

    from techtalk_data_pipeline_snowpark_spark.lake.stats import prune_files

    ev = change_events(spark, N, n_repos=20, paths_per_repo=15, seed=7)
    e_plain = CdcEngine(spark, str(tmp_path / "plain"), num_buckets=4)
    e_plain.replay(ev, epoch_size=1000)
    e_z = CdcEngine(spark, str(tmp_path / "z"), num_buckets=4)
    e_z.replay(
        ev,
        epoch_size=1000,
        compact_every=3,
        compact_max_files_per_bucket=4,
        compact_sort_by=["lsn", "ts"],
        compact_zorder=True,
    )
    _assert_state_equal(_final_state_pdf(e_plain), _final_state_pdf(e_z))
    snap = e_z.table().snapshot()
    mid_ts = e_z.read_state().agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    kept = prune_files(snap.files, F.col("ts") > F.lit(mid_ts))
    assert 0 < len(kept) < len(snap.files)


def test_all_delete_epoch_equality_mode(spark, tmp_path):
    """all_delete_mode='equality' commits the key set with ZERO table scan
    — no data files touched, edv refs only — and converges to the same
    state as the positional-DV mode; exactly-once replay holds across the
    equality commit."""
    ev = change_events(spark, 300, n_repos=4, paths_per_repo=5, seed=3,
                       op_mix=(1.0, 0.0, 0.0))
    a = CdcEngine(spark, str(tmp_path / "mor"), num_buckets=4)
    b = CdcEngine(spark, str(tmp_path / "eq"), num_buckets=4,
                  all_delete_mode="equality")
    for eng in (a, b):
        eng.replay(ev, epoch_size=10**9)
    live = [(r.repo, r.path) for r in a.read_state().select("repo", "path").collect()]
    ev_cols = ev.columns
    from datetime import datetime

    kill = live[: len(live) // 2]
    del_rows = [
        {c: None for c in ev_cols}
        | {"lsn": 301 + i, "op": "delete", "repo": repo, "path": path,
           "ts": datetime(2026, 1, 1)}
        for i, (repo, path) in enumerate(kill)
    ]
    dels = spark.createDataFrame(
        [tuple(r[c] for c in ev_cols) for r in del_rows], ev.schema
    )
    full = ev.unionByName(dels)
    files_before = set(b.table().snapshot().files)
    ra = a.apply_epoch(full, 300, 300 + len(kill))
    rb = b.apply_epoch(full, 300, 300 + len(kill))
    assert ra.rows_deleted == len(kill)
    assert rb.rows_deleted == len(kill)  # keys targeted == rows live here
    snap_b = b.table().snapshot()
    assert set(snap_b.files) == files_before       # zero files added/removed
    assert any(m.get("edv") for m in snap_b.files.values())
    assert not any(m.get("dv") for m in snap_b.files.values())
    _assert_state_equal(_final_state_pdf(a), _final_state_pdf(b))
    # idempotent re-apply across the equality commit
    again = b.apply_epoch(full, 300, 300 + len(kill))
    assert again.skipped
    # compact absorbs; state intact
    b.table().compact()
    assert not any(m.get("edv") for m in b.table().snapshot().files.values())
    _assert_state_equal(_final_state_pdf(a), _final_state_pdf(b))


def test_null_key_events_quarantined_and_counted(spark, tmp_path):
    """Events with null key columns violate the WAL contract; every
    equi-join would drop them SILENTLY. The engine counts them in the epoch
    manifest (same stats pass) and, with quarantine_dir set, lands the raw
    events there; metrics reflect only what actually merged."""
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    rows = [
        (1, "upsert", "r", "a", "x"),
        (2, "upsert", None, "b", "y"),      # malformed: null repo
        (3, "upsert", "r", None, "z"),      # malformed: null path
        (4, "delete", None, "c", None),     # malformed delete
        (5, "upsert", "r", "d", "w"),
    ]
    ev = spark.createDataFrame(rows, sch)
    qdir = str(tmp_path / "quarantine")
    eng = CdcEngine(
        spark, str(tmp_path / "t"), key_cols=("repo", "path"), num_buckets=2,
        quarantine_dir=qdir,
    )
    res = eng.replay(ev, max_lsn=5, epoch_size=10**9)[0]
    # metrics count only what merged: 2 valid upserts
    assert res.events == 2
    assert res.rows_inserted == 2 and res.rows_deleted == 0
    state = {(r.repo, r.path) for r in eng.read_state().collect()}
    assert state == {("r", "a"), ("r", "d")}
    m = eng.manifests()[-1]
    assert m["null_key_winners"] == 3
    assert m["quarantined_to"] == qdir

    def read_q():
        return spark.read.option("recursiveFileLookup", "true").parquet(qdir)

    assert {r.lsn for r in read_q().collect()} == {2, 3, 4}
    # duplicate delivery of the same epoch must NOT duplicate the dead
    # letters (per-epoch overwrite path, watermark skip)
    again = eng.replay(ev, max_lsn=5, epoch_size=10**9)
    assert all(r.skipped for r in again)
    assert read_q().count() == 3
    # a clean epoch records zero and does not touch the quarantine
    ev2 = spark.createDataFrame([(6, "upsert", "r", "e", "v")], sch)
    eng.replay(ev.unionByName(ev2), max_lsn=6, epoch_size=10**9)
    assert eng.manifests()[-1]["null_key_winners"] == 0
    assert read_q().count() == 3
    # a 100%-malformed epoch commits the empty-epoch manifest WITH the
    # dead-letter fields (review finding: they were dropped on this branch)
    ev3 = spark.createDataFrame(
        [(7, "upsert", None, None, "junk"), (8, "delete", None, "x", None)], sch
    )
    res3 = eng.replay(ev.unionByName(ev2).unionByName(ev3), max_lsn=8,
                      epoch_size=10**9)[0]
    assert res3.events == 0
    m3 = eng.manifests()[-1]
    assert m3["null_key_winners"] == 2
    assert m3["quarantined_to"] == qdir
    assert read_q().count() == 5


def test_salted_mode_drops_null_key_events(spark, tmp_path):
    """Salted dedup is a pure groupBy (no semi-join side effect), so the
    explicit null-key drop is what keeps garbage all-null rows out of the
    merge (review finding)."""
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    rows = [
        (1, "upsert", "r", "a", "x"),
        (2, "upsert", None, "b", "y"),
        (3, "upsert", "r", None, "z"),
    ]
    ev = spark.createDataFrame(rows, sch)
    eng = CdcEngine(spark, str(tmp_path / "t"), key_cols=("repo", "path"),
                    num_buckets=2, salted=True)
    res = eng.replay(ev, max_lsn=3, epoch_size=10**9)[0]
    assert res.events == 1
    got = [(r.repo, r.path) for r in eng.read_state().collect()]
    assert got == [("r", "a")]  # no all-null or partial-null rows


def test_quarantine_dir_stable_across_narrowed_redelivery(spark, tmp_path):
    """The dead-letter subdir is named by lsn_to ONLY: _apply_epoch_once
    narrows lsn_from to the applied watermark, so an overlapping
    redelivery of the same producer range must land on the SAME path
    (overwrite) instead of duplicating dead letters across two dirs
    (review finding)."""
    import os

    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    ev = spark.createDataFrame(
        [
            (1, "upsert", "r", "a", "x"),
            (2, "upsert", None, "b", "y"),  # dead letter
            (3, "upsert", "r", "c", "z"),
        ],
        sch,
    )
    qdir = str(tmp_path / "q")
    eng = CdcEngine(
        spark, str(tmp_path / "t"), key_cols=("repo", "path"), num_buckets=2,
        quarantine_dir=qdir,
    )
    eng.replay(ev, max_lsn=2, epoch_size=2)  # epoch (0,2] quarantines lsn=2
    assert eng.quarantined_epochs() == ["epoch-2"]
    # overlapping redelivery of the producer range (0,2] after watermark=2:
    # skipped by the watermark; no new dir, no duplicates
    eng.replay(ev, max_lsn=2, epoch_size=2)
    assert eng.quarantined_epochs() == ["epoch-2"]
    # a WIDER producer range (0,3] narrows lsn_from to 2 internally —
    # the dead letter from the earlier boundary stays in its own dir and
    # this epoch has none
    eng.replay(ev, max_lsn=3, epoch_size=3)
    assert eng.quarantined_epochs() == ["epoch-2"]
    q = spark.read.parquet(os.path.join(qdir, "epoch-2"))
    assert [r.lsn for r in q.collect()] == [2]


def test_replay_quarantined_roundtrip_and_vacuum(spark, tmp_path):
    """Round trip: malformed epoch → quarantine → fix keys →
    replay_quarantined → table state is exactly what a clean stream would
    have produced; dir pruned after success; idempotent across re-runs;
    vacuum_quarantine prunes abandoned dirs."""
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    dirty = spark.createDataFrame(
        [
            (1, "upsert", "r", "a", "x"),
            (2, "upsert", None, "b", "stale-b"),   # key lost upstream
            (3, "upsert", None, "b", "fresh-b"),   # later version, also lost
            (4, "delete", None, "a", None),        # delete with lost key
            (5, "upsert", "r", "c", "z"),
        ],
        sch,
    )
    qdir = str(tmp_path / "q")
    eng = CdcEngine(
        spark, str(tmp_path / "t"), key_cols=("repo", "path"), num_buckets=2,
        quarantine_dir=qdir,
    )
    eng.replay(dirty, max_lsn=5, epoch_size=10**9)
    assert {(r.repo, r.path) for r in eng.read_state().collect()} == {
        ("r", "a"), ("r", "c")
    }
    assert eng.quarantined_epochs() == ["epoch-5"]

    def fix(df):  # the lost key was 'r' — restore it
        return df.withColumn("repo", F.coalesce(F.col("repo"), F.lit("r")))

    results = eng.replay_quarantined(fix)
    assert len(results) == 1 and results[0].events == 2  # dedup: b wins once, a deleted
    state = {(r.repo, r.path, r.content) for r in eng.read_state().collect()}
    # = the state a clean stream (1..5 with keys intact) would produce:
    # 'a' deleted by lsn 4, 'b' at its latest content, 'c' present
    # (content passes the SAME canonicalization as any other epoch)
    assert state == {("r", "b", "fresh-b\n"), ("r", "c", "z\n")}
    assert eng.quarantined_epochs() == []           # pruned after success
    assert eng.replay_quarantined(fix) == []        # idempotent
    m = eng.manifests()[-1]
    assert m["lineage"]["quarantine_replay"] == "epoch-5"

    # vacuum: an abandoned dir older than the grace period is reclaimed
    # (lsn 50 > the watermark the quarantine replay advanced to)
    more = spark.createDataFrame([(50, "upsert", None, "d", "w")], sch)
    eng.replay(dirty.unionByName(more), max_lsn=50, epoch_size=10**9)
    assert eng.quarantined_epochs() == ["epoch-50"]
    assert eng.vacuum_quarantine(older_than_sec=10**6) == []   # too young
    assert eng.vacuum_quarantine(older_than_sec=-1) == ["epoch-50"]
    assert eng.quarantined_epochs() == []


def test_manifests_survive_metadata_vacuum(spark, tmp_path):
    """vacuum_metadata prunes log entries below the newest checkpoint;
    manifests() must start from the retained horizon (the unguarded
    start=1 read crashed on the pruned versions — review finding), and the
    streaming ordering detector must treat the pre-horizon LSN range as
    covered instead of raising on a legitimate ancient redelivery."""
    from techtalk_data_pipeline_snowpark_spark.streaming.cdc_stream import (
        _range_covered,
    )

    ev = change_events(spark, 1800, n_repos=6, paths_per_repo=10, seed=11)
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=2)
    # 18 epochs → >16 commits → a checkpoint exists → vacuum has a horizon
    eng.replay(ev, max_lsn=1800, epoch_size=100)
    n_before = len(eng.manifests())
    assert n_before == 18

    pruned = eng.table().vacuum_metadata(retain_versions=0)
    assert pruned > 0
    assert eng.table().oldest_version() > 1

    retained = eng.manifests()          # crashed before the fix
    assert 0 < len(retained) < n_before
    # ancient range (pruned manifests), mid-straddle, and full coverage
    assert _range_covered(eng, 0, 50)
    assert _range_covered(eng, 0, eng.last_lsn())
    assert _range_covered(eng, retained[0]["lsn_from"] - 10, retained[0]["lsn_to"])
    # a range beyond the watermark is still not covered
    assert not _range_covered(eng, 0, eng.last_lsn() + 5)


def test_replay_with_bin_pack_maintenance(spark, tmp_path):
    """compact_bin_pack_rows on the ingest loop: the final state is
    identical to a plain replay, file counts stay bounded, and once a
    merged file reaches the row target it is never rewritten again —
    the constant-write-amplification property, asserted on real commits
    by checking at-target file paths are stable across later passes."""
    ev = change_events(spark, N, n_repos=20, paths_per_repo=15, seed=7)
    e_plain = CdcEngine(spark, str(tmp_path / "plain"), num_buckets=8)
    e_plain.replay(ev, epoch_size=1000)
    e_bp = CdcEngine(spark, str(tmp_path / "bp"), num_buckets=8)
    target = 20  # ~37 final rows/bucket at N=3000, 300 keys, 8 buckets
    e_bp.replay(ev, epoch_size=1000, compact_every=1,
                compact_bin_pack_rows=target)
    _assert_state_equal(_final_state_pdf(e_plain), _final_state_pdf(e_bp))

    t = e_bp.table()
    snap = t.snapshot()
    at_target = {
        p for p, m in snap.files.items() if ((m or {}).get("rows") or 0) >= target
    }
    assert at_target, "expected some files to have reached the row target"
    # another maintenance pass must not touch the at-target files
    t.compact(bin_pack_rows=target)
    assert at_target <= set(t.snapshot().files)
    # and replay remains exactly-once across the maintenance commits
    again = e_bp.replay(ev, epoch_size=1000, compact_every=1,
                        compact_bin_pack_rows=target)
    assert all(r.skipped for r in again)


# ---------------------------------------------------------------- WAP mode
def test_wap_replay_matches_plain_replay(spark, tmp_path):
    """audit_fn set: every epoch applies on a branch and publishes after
    the audit — final state identical to the plain replay, one publish
    commit per non-empty epoch on main, no leftover branches."""
    ev = change_events(spark, N, n_repos=20, paths_per_repo=15, seed=7)
    audited = []

    def audit(branch, res):
        audited.append(res.epoch_id)
        return True

    wap = CdcEngine(spark, str(tmp_path / "wap"), num_buckets=8, audit_fn=audit)
    plain = CdcEngine(spark, str(tmp_path / "plain"), num_buckets=8)
    wap.replay(ev, epoch_size=1000)
    plain.replay(ev, epoch_size=1000)
    _assert_state_equal(_final_state_pdf(wap), _final_state_pdf(plain))
    assert audited == [1, 2, 3]
    assert wap.table().list_branches() == []
    ops = [e.get("operation") for e in wap.table().history()]
    assert ops.count("publish") == 3


def test_wap_audit_failure_blocks_visibility(spark, tmp_path):
    """A failing audit: EpochAuditError raised, main has NO rows from the
    epoch, the watermark did not advance, and a later (passing) retry
    applies the epoch exactly once."""
    from techtalk_data_pipeline_snowpark_spark.cdc import EpochAuditError

    ev = change_events(spark, 1000, seed=3)
    verdict = {"ok": False}
    engine = CdcEngine(
        spark, str(tmp_path / "t"), num_buckets=4,
        audit_fn=lambda br, res: verdict["ok"],
    )
    with pytest.raises(EpochAuditError):
        engine.apply_epoch(ev, 0, 1000)
    assert engine.last_lsn() == 0
    assert engine.table().read().count() == 0  # schema-only main
    assert engine.table().list_branches() == []

    verdict["ok"] = True
    res = engine.apply_epoch(ev, 0, 1000)
    assert not res.skipped and res.events > 0
    oracle = _oracle_pdf(ev.toPandas())
    _assert_state_equal(_final_state_pdf(engine), oracle)
    # replay after the publish: exactly-once skip, stale branch impossible
    assert engine.apply_epoch(ev, 0, 1000).skipped


def test_replay_failing_mid_grid_stops_and_resumes(spark, tmp_path):
    """replay with an audit that fails epoch 2: the audit error reaches
    the caller, epoch 1 stays committed and nothing after it, no branch
    or scheduler worker thread is left, and a resumed replay with a
    passing audit matches the oracle."""
    import threading

    from techtalk_data_pipeline_snowpark_spark.cdc import EpochAuditError

    ev = change_events(spark, 1500, seed=5)
    workers = set()

    def audit(branch, res):
        workers.add(threading.current_thread())
        return res.epoch_id != 2

    root = str(tmp_path / "t")
    engine = CdcEngine(spark, root, num_buckets=4, audit_fn=audit)
    with pytest.raises(EpochAuditError, match="epoch 2 "):
        engine.replay(ev, epoch_size=500)
    assert engine.last_lsn() == 500
    assert engine.table().list_branches() == []
    assert workers and threading.current_thread() not in workers
    alive = set(threading.enumerate())
    assert not any(t in alive for t in workers)

    resumed = CdcEngine(spark, root, num_buckets=4, audit_fn=lambda br, res: True)
    assert [r.lsn_to for r in resumed.replay(ev, epoch_size=500)] == [1000, 1500]
    _assert_state_equal(_final_state_pdf(resumed), _oracle_pdf(ev.toPandas()))


def test_wap_audit_sees_branch_not_main(spark, tmp_path):
    """The audit reads the BRANCH state (post-merge) while main still
    serves the pre-epoch snapshot — the write-audit-publish contract."""
    ev = change_events(spark, 1000, seed=11)
    seen = {}

    def audit(branch, res):
        seen["branch_rows"] = branch.read().count()
        seen["main_rows"] = CdcEngine(
            spark, branch.root, num_buckets=4
        ).table().read().count()
        return True

    engine = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4, audit_fn=audit)
    engine.apply_epoch(ev, 0, 1000)
    assert seen["branch_rows"] > 0
    assert seen["main_rows"] == 0
    assert engine.table().read().count() == seen["branch_rows"]


def test_wap_schema_evolution_publishes(spark, tmp_path):
    """Schema evolution inside an audited epoch: the evolve-schema commit
    lands on the branch and the publish carries the widened schema to
    main along with the data."""
    ev1, ev2 = change_events_evolution(spark, 1200, seed=5)
    engine = CdcEngine(
        spark, str(tmp_path / "t"), num_buckets=4,
        audit_fn=lambda br, res: True,
    )
    hi1 = ev1.agg(F.max("lsn")).first()[0]
    engine.apply_epoch(ev1, 0, hi1)
    cols_before = set(engine.read_state().columns)
    hi2 = ev2.agg(F.max("lsn")).first()[0]
    engine.apply_epoch(ev2, hi1, hi2)
    cols_after = set(engine.read_state().columns)
    assert cols_before < cols_after  # evolution added column(s) on main
    assert engine.table().list_branches() == []


# ------------------------------------------------- background maintenance
def test_background_compaction_matches_plain_replay(spark, tmp_path):
    """Maintenance on a background thread (optimistic rebase): final state
    identical to a plain replay, exactly-once preserved across whatever
    compact commits landed mid-replay, file counts reduced."""
    ev = change_events(spark, N, n_repos=20, paths_per_repo=15, seed=11)
    e_plain = CdcEngine(spark, str(tmp_path / "plain"), num_buckets=4)
    e_plain.replay(ev, epoch_size=300)
    e_bg = CdcEngine(spark, str(tmp_path / "bg"), num_buckets=4)
    e_bg.replay(ev, epoch_size=300, background_compact_interval=0.2)
    _assert_state_equal(_final_state_pdf(e_plain), _final_state_pdf(e_bg))

    t = e_bg.table()
    compacts = [
        e for e in t.log_entries() if e.get("operation") == "compact"
    ]
    assert compacts, "background compactor never landed a commit"
    assert e_bg.background_compactions == len(compacts)
    # the epoch loop absorbed every race it lost — all epochs applied once
    landed = e_bg.background_compactions
    again = e_bg.replay(ev, epoch_size=300)
    assert all(r.skipped for r in again)
    # counters are cumulative: the bg-off resume replay must not zero them
    assert e_bg.background_compactions == landed


def test_background_compaction_validations(spark, tmp_path):
    ev = change_events(spark, 50, n_repos=3, seed=3)
    eng = CdcEngine(spark, str(tmp_path / "t"), num_buckets=4)
    # counters exist (zero) before any replay — observability surface
    assert eng.background_compactions == 0
    with pytest.raises(ValueError, match="mutually exclusive"):
        eng.replay(ev, background_compact_interval=1.0, compact_every=1)
    with pytest.raises(ValueError, match="> 0 seconds"):
        eng.replay(ev, background_compact_interval=0)
    eng_wap = CdcEngine(
        spark, str(tmp_path / "w"), num_buckets=4,
        audit_fn=lambda branch, res: True,
    )
    with pytest.raises(ValueError, match="WAP"):
        eng_wap.replay(ev, background_compact_interval=1.0)
