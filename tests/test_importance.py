"""DSIR importance resampling (operators/importance.py): pure-Python
brute parity (hashed n-gram models, decimal dot product, Gumbel-top-k),
partitioning invariance, empty-doc handling, salt redraw, plan shape."""

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from techtalk_data_pipeline_snowpark_spark.operators.importance import (
    bucket_log_ratios,
    dsir_select,
    hashed_bucket_counts,
    ngram_features,
)
from techtalk_data_pipeline_snowpark_spark.plans import (
    formatted_plan,
    has_broadcast_hash_join,
)

B = 64
SALT = "s1"

TARGET = [
    (100, "the quick brown fox jumps over the lazy dog"),
    (101, "the quick red fox runs fast"),
    (102, "a quick brown dog sleeps"),
]
RAW = [
    (1, "the quick brown fox jumps high"),
    (2, "numerical linear algebra routines"),
    (3, "the lazy dog sleeps all day"),
    (4, "gradient descent converges slowly"),
    (5, "quick brown foxes are quick"),
    (6, ""),
    (7, "   "),
    (8, "singleton"),
    (9, "the the the the"),
]


def _feats(text):
    toks = [t for t in text.strip().lower().split() if t]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _bucket(term):
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % B


def _round_dec(x: float, places: int) -> Decimal:
    # Spark's Round(double) goes through BigDecimal.valueOf (shortest
    # repr) then HALF_UP — Decimal(repr(x)) reproduces it exactly
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)


def _brute(raw, target, k, alpha=1.0, salt=SALT):
    doc_counts = {}
    for i, text in raw:
        c = {}
        for t in _feats(text):
            b = _bucket(t)
            c[b] = c.get(b, 0) + 1
        doc_counts[i] = c
    raw_model = {}
    for c in doc_counts.values():
        for b, n in c.items():
            raw_model[b] = raw_model.get(b, 0) + n
    target_model = {}
    for _, text in target:
        for t in _feats(text):
            b = _bucket(t)
            target_model[b] = target_model.get(b, 0) + 1
    tt, tr = sum(target_model.values()), sum(raw_model.values())
    ratio = {}
    for b in set(raw_model) | set(target_model):
        r = math.log((target_model.get(b, 0) + alpha) / (tt + alpha * B)) - math.log(
            (raw_model.get(b, 0) + alpha) / (tr + alpha * B)
        )
        ratio[b] = _round_dec(r, 9)
    out = []
    for i, _ in raw:
        logw = sum(
            (Decimal(n) * ratio[b] for b, n in doc_counts[i].items()),
            Decimal(0),
        )
        u = (int(hashlib.md5(f"{i}{salt}".encode()).hexdigest()[:8], 16) + 0.5) / 2**32
        g = -math.log(-math.log(u))
        key = float(_round_dec(float(logw) + g, 6))
        out.append((i, float(logw), key))
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:k]


@pytest.mark.parametrize("parts", [1, 7])
def test_brute_parity(spark, parts):
    raw = spark.createDataFrame(RAW, "id long, text string").repartition(parts)
    tgt = spark.createDataFrame(TARGET, "id long, text string")
    got = dsir_select(raw, tgt, "id", "text", k=5, num_buckets=B, salt=SALT).collect()
    want = _brute(RAW, TARGET, 5)
    assert [(r["id"], r["sel_key"]) for r in got] == [(i, k) for i, _, k in want]
    for r, (_, logw, _) in zip(got, want):
        assert abs(r["logw"] - logw) < 1e-9


def test_target_like_docs_outrank(spark):
    """Same-length docs (logw sums over tokens, so length confounds any
    cross-length comparison): a doc written entirely in target vocabulary
    must out-weigh an equal-length doc sharing nothing with the target."""
    raw = spark.createDataFrame(RAW, "id long, text string")
    tgt = spark.createDataFrame(TARGET, "id long, text string")
    all_scored = dsir_select(raw, tgt, "id", "text", k=len(RAW), num_buckets=B)
    by_id = {r["id"]: r["logw"] for r in all_scored.collect()}
    # doc 9 = four target-vocab tokens; doc 2 = four alien tokens
    assert by_id[9] > by_id[2]


def test_empty_docs_compete_not_dropped(spark):
    raw = spark.createDataFrame(RAW, "id long, text string")
    tgt = spark.createDataFrame(TARGET, "id long, text string")
    out = dsir_select(raw, tgt, "id", "text", k=len(RAW), num_buckets=B)
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {i for i, _ in RAW}
    assert rows[6]["logw"] == 0.0 and rows[7]["logw"] == 0.0


def test_salt_redraws_selection(spark):
    raw = spark.createDataFrame(RAW, "id long, text string")
    tgt = spark.createDataFrame(TARGET, "id long, text string")
    a = {r["id"] for r in dsir_select(raw, tgt, "id", "text", 4, B, salt="a").collect()}
    b = {r["id"] for r in dsir_select(raw, tgt, "id", "text", 4, B, salt="b").collect()}
    a2 = {r["id"] for r in dsir_select(raw, tgt, "id", "text", 4, B, salt="a").collect()}
    assert a == a2
    assert a != b  # 4-of-9 under fresh Gumbel noise: differs for these salts


def test_ngram_features_short_docs(spark):
    df = spark.createDataFrame(
        [("",), ("one",), ("two words",)], "text string"
    ).select(ngram_features("text").alias("f"))
    assert [r["f"] for r in df.collect()] == [
        [],
        ["one"],
        ["two", "words", "two words"],
    ]


def test_validation(spark):
    df = spark.createDataFrame(RAW, "id long, text string")
    with pytest.raises(ValueError, match="k must be"):
        dsir_select(df, df, "id", "text", 0)
    with pytest.raises(ValueError, match="num_buckets"):
        hashed_bucket_counts(df, "text", 0)
    with pytest.raises(ValueError, match="alpha"):
        bucket_log_ratios(
            hashed_bucket_counts(df, "text", B),
            hashed_bucket_counts(df, "text", B),
            B,
            alpha=0,
        )
    with pytest.raises(ValueError, match="ngram_max"):
        ngram_features("text", 3)


def test_plan_broadcast_ratio_and_partial_topk(spark):
    raw = spark.createDataFrame(RAW, "id long, text string")
    tgt = spark.createDataFrame(TARGET, "id long, text string")
    df = dsir_select(raw, tgt, "id", "text", 3, B, materialize=False)
    plan = formatted_plan(df)
    assert has_broadcast_hash_join(df)  # ≤B-row ratio table broadcasts
    assert "TakeOrderedAndProject" in plan  # map-side partial top-k cut


def test_session_pins_ansi_so_decimal_overflow_raises(spark):
    """session.py pins ANSI mode rather than inheriting Spark's default, so
    the decimal(9,0) cast in dsir_select fails loudly on overflow instead
    of yielding NULL."""
    from techtalk_data_pipeline_snowpark_spark.session import _DEFAULTS

    assert _DEFAULTS["spark.sql.ansi.enabled"] == "true"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        spark.range(1).select(F.lit(10**9).cast("decimal(9,0)")).collect()
