"""Incremental view maintenance: a maintained groupBy aggregate must equal
the full recompute after every refresh, across inserts / updates / deletes /
merges / compacts — powered by changelog preimages (Delta CDF four-type)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.lake import (
    IncrementalAggView,
    LakeTable,
    delete,
    merge_into,
    update,
)

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("size", T.LongType()),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(repo=r, path=p, size=int(s)) for r, p, s in rows], SCHEMA
    )


def _recompute(t):
    return {
        (r.repo, r.cnt, r.total)
        for r in t.read()
        .groupBy("repo")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("size").alias("total"))
        .collect()
    }


def _view_state(view):
    return {(r.repo, r.cnt, r.total) for r in view.read().collect()}


def test_changelog_emits_update_preimages(spark, tmp_table_root):
    """emit_preimages=True adds the update_preimage rows (Delta CDF shape);
    default output is unchanged."""
    t = LakeTable.create(
        spark, tmp_table_root, SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    t.append(_df(spark, [("a", "1", 10), ("b", "2", 20)]))
    v0 = t.latest_version()
    update(t, {"size": F.col("size") + 5}, F.col("repo") == "a")
    default = {(r.repo, r.size, r._change_type) for r in t.read_changelog(v0).collect()}
    assert default == {("a", 15, "update_postimage")}
    with_pre = {
        (r.repo, r.size, r._change_type)
        for r in t.read_changelog(v0, emit_preimages=True).collect()
    }
    assert with_pre == {("a", 15, "update_postimage"), ("a", 10, "update_preimage")}


def test_ivm_tracks_full_recompute(spark, tmp_table_root):
    """Maintained count+sum view equals the recompute after every kind of
    source mutation, refreshing incrementally each time."""
    t = LakeTable.create(
        spark,
        tmp_table_root + "/src",
        SCHEMA,
        key_cols=["repo", "path"],
        num_buckets=4,
    )
    view = IncrementalAggView(
        spark,
        t,
        tmp_table_root + "/view",
        group_cols=["repo"],
        sum_cols={"total": "size"},
        num_buckets=2,
    )
    # 1. initial appends
    t.append(_df(spark, [(f"r{i % 3}", f"p{i}", i) for i in range(30)]))
    assert view.refresh()["refreshed"] is True
    assert _view_state(view) == _recompute(t)

    # 2. update (needs preimages: sums must subtract the old values)
    update(t, {"size": F.col("size") * 10}, F.col("repo") == "r1")
    view.refresh()
    assert _view_state(view) == _recompute(t)

    # 3. delete a slice
    delete(t, F.col("size") >= 200)
    view.refresh()
    assert _view_state(view) == _recompute(t)

    # 4. merge: upsert + insert + delete branch in one commit
    src = _df(spark, [("r0", "p0", 999), ("r9", "new", 7), ("r2", "p2", -1)])
    merge_into(
        t,
        src,
        on=["repo", "path"],
        when_matched_update="all",
        when_matched_delete=F.col("s.size") < 0,
    )
    view.refresh()
    assert _view_state(view) == _recompute(t)

    # 5. a group vanishing entirely must DELETE its view row
    delete(t, F.col("repo") == "r9")
    view.refresh()
    state = _view_state(view)
    assert state == _recompute(t)
    assert not any(g == "r9" for g, _, _ in state)

    # 6. compact is changelog-invisible → refresh no-ops but advances
    t.compact()
    r = view.refresh()
    assert r["refreshed"] is True
    assert _view_state(view) == _recompute(t)

    # 7. idempotence: nothing new → no-op refresh
    r2 = view.refresh()
    assert r2["refreshed"] is False
    assert view.applied_source_version() == t.latest_version()


def test_ivm_refresh_is_atomic_and_resumable(spark, tmp_table_root):
    """The applied-source-version stamp rides the merge commit itself, so a
    duplicate refresh of the same range is a no-op (exactly-once effects)."""
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], sum_cols={"total": "size"}
    )
    t.append(_df(spark, [("a", "1", 1), ("a", "2", 2), ("b", "3", 3)]))
    view.refresh()
    v = view.applied_source_version()
    # a second view object over the same roots must see the stamp and no-op
    view2 = IncrementalAggView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], sum_cols={"total": "size"}
    )
    assert view2.refresh()["refreshed"] is False
    assert view2.applied_source_version() == v
    assert _view_state(view2) == _recompute(t)


def test_ivm_catchup_spans_many_commits(spark, tmp_table_root):
    """One refresh may cover many source commits (a view that fell behind):
    the single delta aggregation must net them all out."""
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], sum_cols={"total": "size"}
    )
    t.append(_df(spark, [("a", "1", 1), ("b", "2", 2)]))
    update(t, {"size": F.col("size") + 100}, F.col("repo") == "a")
    t.append(_df(spark, [("c", "3", 3)]))
    delete(t, F.col("repo") == "b")
    update(t, {"size": F.col("size") - 1}, F.lit(True))
    assert view.refresh()["refreshed"] is True
    assert _view_state(view) == _recompute(t)


def test_ivm_competing_refreshers_converge(spark, tmp_table_root):
    """Two refreshers racing on the same view: the version pin serializes
    them — each range applies exactly once, the final view equals the
    recompute (no double-counted deltas)."""
    import threading

    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    t.append(_df(spark, [(f"r{i % 4}", f"p{i}", i) for i in range(40)]))
    update(t, {"size": F.col("size") + 7}, F.col("repo") == "r2")

    def mk():
        return IncrementalAggView(
            spark, t, tmp_table_root + "/view",
            group_cols=["repo"], sum_cols={"total": "size"},
        )

    errors = []

    def run():
        try:
            mk().refresh()
        except Exception as e:  # noqa: BLE001 — surface in the assertion
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    view = mk()
    assert view.applied_source_version() == t.latest_version()
    assert _view_state(view) == _recompute(t)
    # and a later serial refresh still works
    delete(t, F.col("repo") == "r0")
    view.refresh()
    assert _view_state(view) == _recompute(t)


def test_ivm_null_measures_do_not_poison_sums(spark, tmp_table_root):
    """A delta whose measures are NULL must not null the maintained sum
    (review finding: SUM over an all-null group is NULL and t+NULL
    propagates forever). Maintained sums treat NULL as 0."""
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], sum_cols={"total": "size"}
    )
    t.append(_df(spark, [("a", "1", 100)]))
    view.refresh()
    # append a NULL-measured row for the same group
    t.append(
        spark.createDataFrame([Row(repo="a", path="2", size=None)], SCHEMA)
    )
    view.refresh()
    got = {(r.repo, r.cnt, r.total) for r in view.read().collect()}
    assert got == {("a", 2, 100)}
    # delete the null-measured row: sum unchanged, count drops
    delete(t, F.col("path") == "2")
    view.refresh()
    got = {(r.repo, r.cnt, r.total) for r in view.read().collect()}
    assert got == {("a", 1, 100)}


def test_ivm_avg_tracks_recompute_through_episodes(spark, tmp_table_root):
    """AVG maintenance (round-5 surface): hidden (sum, non-null count)
    state follows the +/- delta algebra; read materializes sum/cnt with
    SQL null semantics. Episodes force inserts, an UPDATE moving values,
    an UPDATE nulling values (denominator must shrink), and a DELETE."""
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view",
        group_cols=["repo"], avg_cols={"avg_size": "size"},
    )

    def recompute():
        return {
            (r.repo, r.avg_size)
            for r in t.read().groupBy("repo")
            .agg(F.avg("size").alias("avg_size")).collect()
        }

    def got():
        return {(r.repo, r.avg_size) for r in view.read().select("repo", "avg_size").collect()}

    t.append(_df(spark, [("a", "1", 10), ("a", "2", 20), ("b", "3", 7)]))
    view.refresh()
    assert got() == recompute() == {("a", 15.0), ("b", 7.0)}

    update(t, {"size": F.col("size") + 10}, F.col("path") == "1")
    view.refresh()
    assert got() == recompute() == {("a", 20.0), ("b", 7.0)}

    # null out a value: AVG ignores nulls — denominator must drop too
    update(t, {"size": F.lit(None).cast("long")}, F.col("path") == "2")
    view.refresh()
    assert got() == recompute() == {("a", 20.0), ("b", 7.0)}

    # delete the only non-null 'a' row: group all-null → AVG NULL (SQL)
    delete(t, F.col("path") == "1")
    view.refresh()
    assert got() == recompute() == {("a", None), ("b", 7.0)}

    # hidden state never leaks through read()
    assert not [c for c in view.read().columns if c.startswith("__avg")]


def test_ivm_avg_composes_with_sum_and_minmax(spark, tmp_table_root):
    """avg_cols rides the same refresh/merge as sums and extrema — one
    view maintaining all four families stays consistent with recompute."""
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view",
        group_cols=["repo"],
        sum_cols={"total": "size"},
        min_cols={"min_size": "size"},
        max_cols={"max_size": "size"},
        avg_cols={"avg_size": "size"},
    )
    t.append(_df(spark, [("a", str(i), 10 * i) for i in range(1, 6)]))
    view.refresh()
    delete(t, F.col("size") >= 40)  # removes the max → rescan path
    view.refresh()
    exp = t.read().groupBy("repo").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("size").alias("total"),
        F.min("size").alias("min_size"),
        F.max("size").alias("max_size"),
        F.avg("size").alias("avg_size"),
    )
    cols = ["repo", "cnt", "total", "min_size", "max_size", "avg_size"]
    assert view.read().select(*cols).exceptAll(exp.select(*cols)).count() == 0
    assert exp.select(*cols).exceptAll(view.read().select(*cols)).count() == 0


def test_ivm_avg_output_name_collision_raises(spark, tmp_table_root):
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    with pytest.raises(ValueError, match="collide"):
        IncrementalAggView(
            spark, t, tmp_table_root + "/view", group_cols=["repo"],
            sum_cols={"x": "size"}, avg_cols={"x": "size"},
        )


def test_ivm_survives_equality_delete_then_rewrite(spark, tmp_table_root):
    """Regression for the changelog pre-image narrowing: a rewrite (merge)
    that removes a file carrying a key-set delete's DVs must not resurrect
    the already-dead rows as duplicate 'delete' changelog rows — an IVM
    consumer would double-decrement and silently drift (negative cnt /
    wrong sums). One bucket, so the merge rewrites the DV'd file."""
    from techtalk_data_pipeline_snowpark_spark.lake import mor_delete_keys

    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=1
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"],
        sum_cols={"total": "size"},
    )
    t.append(_df(spark, [("a", f"p{i}", 10) for i in range(4)]))
    view.refresh()
    assert _view_state(view) == _recompute(t)
    # delete one key by key set, then a merge on OTHER keys rewrites the
    # same file — exactly the double-delete sequence
    mor_delete_keys(
        t, spark.createDataFrame([Row(repo="a", path="p1")]), ["repo", "path"]
    )
    merge_into(
        t, _df(spark, [("a", "p2", 99), ("a", "pX", 5)]),
        on=["repo", "path"], when_matched_update="all",
    )
    view.refresh()
    assert _view_state(view) == _recompute(t) == {("a", 4, 124)}


def test_ivm_min_max_via_scoped_rescan(spark, tmp_table_root):
    """MIN/MAX maintenance: inserts merge monotonically; a delete/update
    that removes a group's current extremum triggers a re-aggregation of
    ONLY the affected groups (pinned at the covered source version). The
    maintained view must equal the recompute across every episode, and
    each refresh stays one atomic stamped commit."""
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"],
        num_buckets=4,
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"],
        sum_cols={"total": "size"},
        min_cols={"mn": "size"}, max_cols={"mx": "size"},
    )

    def recompute():
        return {
            (r.repo, r.cnt, r.total, r.mn, r.mx)
            for r in t.read().groupBy("repo").agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("size").alias("total"),
                F.min("size").alias("mn"), F.max("size").alias("mx"),
            ).collect()
        }

    def vstate():
        return {
            (r.repo, r.cnt, r.total, r.mn, r.mx)
            for r in view.read().collect()
        }

    # 1. first refresh (insert-only): extrema from the delta alone
    t.append(_df(spark, [(f"r{i % 3}", f"p{i}", i * 10) for i in range(12)]))
    view.refresh()
    assert vstate() == recompute()

    # 2. monotone growth: new max + new min, NO extremum deleted
    t.append(_df(spark, [("r0", "hi", 10_000), ("r1", "lo", -5)]))
    v_before = view.table().latest_version()
    view.refresh()
    assert vstate() == recompute()
    assert view.table().latest_version() == v_before + 1  # one atomic commit

    # 3. DELETE the current max of r0 → scoped rescan of r0 only
    delete(t, (F.col("repo") == "r0") & (F.col("size") == 10_000))
    view.refresh()
    assert vstate() == recompute()

    # 4. UPDATE that moves the current min of r1 upward (preimage removes
    #    the extremum, postimage re-inserts elsewhere in the range)
    update(t, {"size": F.lit(999)}, (F.col("repo") == "r1") & (F.col("size") == -5))
    view.refresh()
    assert vstate() == recompute()

    # 5. intra-range churn on a NEW group: insert 5, delete 5, insert 7
    #    within ONE refresh range — plus-side min (5) is stale; rescan must
    #    resolve to 7
    t.append(_df(spark, [("rz", "a", 5)]))
    delete(t, F.col("repo") == "rz")
    t.append(_df(spark, [("rz", "b", 7)]))
    view.refresh()
    assert vstate() == recompute()
    assert ("rz", 1, 7, 7, 7) in vstate()

    # 6. group vanishes entirely → view row deleted
    delete(t, F.col("repo") == "rz")
    view.refresh()
    assert vstate() == recompute()
    assert not any(g == "rz" for g, *_ in vstate())

    # 7. all-null measures: min/max are NULL (natural SQL), sum reads 0
    t.append(
        spark.createDataFrame(
            [Row(repo="rn", path="x", size=None),
             Row(repo="rn", path="y", size=None)], SCHEMA
        )
    )
    view.refresh()
    got = {r.repo: (r.cnt, r.total, r.mn, r.mx) for r in view.read().collect()}
    assert got["rn"] == (2, 0, None, None)
    # deleting one null row must NOT trigger a bogus extremum rescan crash
    delete(t, (F.col("repo") == "rn") & (F.col("path") == "x"))
    view.refresh()
    got = {r.repo: (r.cnt, r.total, r.mn, r.mx) for r in view.read().collect()}
    assert got["rn"] == (1, 0, None, None)

    # 8. idempotence
    r2 = view.refresh()
    assert r2["refreshed"] is False


def test_ivm_over_wap_publish_commits(spark, tmp_table_root):
    """A maintained view consuming a WAP table: the squashed publish commit
    is one changelog version whose deltas (updates with preimages, inserts,
    deletes) the view applies exactly — maintained state equals recompute
    after every publish, and an unpublished (dropped) branch contributes
    nothing."""
    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA,
        key_cols=["repo", "path"], num_buckets=4,
    )
    view = IncrementalAggView(
        spark, t, tmp_table_root + "/view",
        group_cols=["repo"], sum_cols={"total": "size"}, num_buckets=2,
    )
    t.append(_df(spark, [(f"r{i % 3}", f"p{i}", i) for i in range(30)]))
    view.refresh()

    # audited epoch: update + insert + delete, all through one publish
    br = t.create_branch("wap")
    merge_into(
        br,
        _df(spark, [("r1", "p1", 999), ("r9", "pX", 5)]),
        on=["repo", "path"],
        when_matched_update="all",
        when_not_matched_insert=True,
    )
    delete(br, (F.col("repo") == "r2") & (F.col("path") == "p2"))
    # dropped branch: must never reach the view
    bad = t.create_branch("bad")
    bad.append(_df(spark, [("poison", "p", 10**6)]))
    t.drop_branch("bad")

    assert view.refresh()["refreshed"] is False  # nothing published yet
    t.publish_branch("wap")
    assert view.refresh()["refreshed"] is True
    assert _view_state(view) == _recompute(t)
    assert not any(r.repo == "poison" for r in view.read().collect())


# ------------------------------------------------------- COUNT(DISTINCT)
def _distinct_recompute(t, group="repo", val="size"):
    return {
        (r[group], r.cnt_distinct)
        for r in t.read()
        .where(F.col(val).isNotNull())
        .groupBy(group)
        .agg(F.countDistinct(val).cast("long").alias("cnt_distinct"))
        .collect()
    }


def test_count_distinct_tracks_recompute_through_episodes(spark, tmp_table_root):
    """The aux-key-table construction: a delete of a NON-last occurrence
    must not move the count; deleting the LAST occurrence must; updates
    move a value between distinct buckets."""
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalDistinctView

    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalDistinctView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], distinct_col="size"
    )
    # a: sizes 10,10,20 -> 2 distinct; b: 7 -> 1
    t.append(_df(spark, [("a", "1", 10), ("a", "2", 10), ("a", "3", 20), ("b", "4", 7)]))
    view.refresh()
    assert {(r.repo, r.cnt_distinct) for r in view.read().collect()} == {
        ("a", 2), ("b", 1)
    } == _distinct_recompute(t)

    # delete ONE of the two size-10 rows: count must stay 2
    delete(t, (F.col("repo") == "a") & (F.col("path") == "1"))
    view.refresh()
    assert {(r.repo, r.cnt_distinct) for r in view.read().collect()} == {
        ("a", 2), ("b", 1)
    } == _distinct_recompute(t)

    # delete the LAST size-10 row: count drops to 1
    delete(t, (F.col("repo") == "a") & (F.col("path") == "2"))
    view.refresh()
    assert {(r.repo, r.cnt_distinct) for r in view.read().collect()} == {
        ("a", 1), ("b", 1)
    } == _distinct_recompute(t)

    # update moves b's only value 7 -> 20: still 1 distinct, new bucket
    update(t, {"size": F.lit(20)}, F.col("repo") == "b")
    view.refresh()
    assert {(r.repo, r.cnt_distinct) for r in view.read().collect()} == {
        ("a", 1), ("b", 1)
    } == _distinct_recompute(t)

    # merge-in new values across groups
    merge_into(
        t,
        _df(spark, [("a", "9", 99), ("b", "4", 7), ("c", "x", 1)]),
        on=["repo", "path"],
    )
    view.refresh()
    assert {(r.repo, r.cnt_distinct) for r in view.read().collect()} == {
        ("a", 2), ("b", 1), ("c", 1)
    } == _distinct_recompute(t)


def test_count_distinct_ignores_null_values(spark, tmp_table_root):
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalDistinctView

    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalDistinctView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], distinct_col="size"
    )
    t.append(
        spark.createDataFrame(
            [Row(repo="a", path="1", size=None), Row(repo="a", path="2", size=5),
             Row(repo="n", path="3", size=None)],
            SCHEMA,
        )
    )
    view.refresh()
    # all-null group 'n' is absent (documented divergence from SQL's 0)
    assert {(r.repo, r.cnt_distinct) for r in view.read().collect()} == {("a", 1)}


def test_count_distinct_refresh_idempotent(spark, tmp_table_root):
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalDistinctView

    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalDistinctView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], distinct_col="size"
    )
    t.append(_df(spark, [("a", "1", 10), ("a", "2", 20)]))
    assert view.refresh()["refreshed"] is True
    assert view.refresh()["refreshed"] is False  # caught up -> no-op
    assert {(r.repo, r.cnt_distinct) for r in view.read().collect()} == {("a", 2)}


# ------------------------------------------------- HLL sketch (append-only)
def test_hll_view_tracks_exact_on_append_only(spark, tmp_table_root):
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalHllView

    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalHllView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], distinct_col="size"
    )
    t.append(_df(spark, [("a", "1", 10), ("a", "2", 10), ("a", "3", 20), ("b", "4", 7)]))
    view.refresh()
    t.append(_df(spark, [("a", "5", 30), ("b", "6", 7), ("c", "7", 1)]))
    view.refresh()
    # datasketches HLL is exact at these cardinalities (sparse mode)
    got = {(r.repo, r.cnt, r.cnt_distinct_approx) for r in view.read().collect()}
    assert got == {("a", 4, 3), ("b", 2, 1), ("c", 1, 1)}


def test_hll_view_refuses_deletes(spark, tmp_table_root):
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalHllView

    t = LakeTable.create(
        spark, tmp_table_root + "/src", SCHEMA, key_cols=["repo", "path"], num_buckets=2
    )
    view = IncrementalHllView(
        spark, t, tmp_table_root + "/view", group_cols=["repo"], distinct_col="size"
    )
    t.append(_df(spark, [("a", "1", 10), ("a", "2", 20)]))
    view.refresh()
    delete(t, F.col("path") == "1")
    with pytest.raises(ValueError, match="not invertible"):
        view.refresh()
    # state unchanged — the refusal happened before any merge
    assert {(r.repo, r.cnt_distinct_approx) for r in view.read().collect()} == {
        ("a", 2)
    }
