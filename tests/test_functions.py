"""Unit tests for Snowpark-semantics shims and vectorized text functions
(SURVEY.md §5 item 1)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.functions import (
    canonicalize_content_sql,
    get_ignore_case,
    json_array_to_exploded_fields,
    lang_id,
    normalize_and_canonicalize,
    normalize_lang_sql,
    quality_score,
    substring1,
    token_count,
    union_dedup,
)


def test_substring1_zero_is_one_based(spark):
    """Snowflake substring(col, 0, 2) == substring(col, 1, 2) — the
    reference uses 0 (SampleStream.scala:49-54); off-by-one trap."""
    df = spark.createDataFrame([("MILANO",)], ["s"])
    a = df.select(substring1("s", 0, 2).alias("x")).first().x
    b = df.select(substring1("s", 1, 2).alias("x")).first().x
    assert a == b == "MI"


def test_union_dedup_matches_sql_union(spark):
    a = spark.createDataFrame([(1,), (2,)], ["x"])
    b = spark.createDataFrame([(2,), (3,)], ["x"])
    got = sorted(r.x for r in union_dedup(a, b).collect())
    assert got == [1, 2, 3]  # Spark union alone would give [1,2,2,3]


def test_get_ignore_case(spark):
    df = spark.createDataFrame([('{"OrderCode": "AB12"}',), ('{"ordercode": "CD34"}',)], ["j"])
    got = {r.x for r in df.select(get_ignore_case(F.col("j"), "orderCode").alias("x")).collect()}
    assert got == {"AB12", "CD34"}


def test_json_array_to_exploded_fields_case_insensitive(spark):
    """Mixed-case field names in the payload (FIXTURES.md §2b) resolve to
    the declared schema — get_ignore_case parity (Implicits.scala:18-23)."""
    schema = T.StructType(
        [
            T.StructField("orderCode", T.StringType()),
            T.StructField("totPrice", T.DoubleType()),
        ]
    )
    payload = '[{"ORDERCODE": "A1", "totprice": "10.5"}, {"orderCode": "B2", "TotPrice": "3.25"}]'
    df = spark.createDataFrame([(payload,)], ["response"])
    rows = json_array_to_exploded_fields(df, schema, "response").orderBy("orderCode").collect()
    assert [(r.orderCode, r.totPrice) for r in rows] == [("A1", 10.5), ("B2", 3.25)]


def test_normalize_lang_pandas_equals_sql(spark):
    """The lang half of the fused Arrow UDF (the only pandas path left)
    equals the JVM expression; content is absent, passed as a typed null."""
    vals = ["Python", "PY3", "Golang", "rs", " md ", "klingon", None]
    df = spark.createDataFrame([(v,) for v in vals], ["lang"])
    rows = df.select(
        normalize_and_canonicalize(F.col("lang"), F.lit(None).cast("string"))
        .getField("lang")
        .alias("p"),
        normalize_lang_sql("lang").alias("s"),
    ).collect()
    for r in rows:
        assert r.p == r.s, (r.p, r.s)
    assert rows[0].p == "python" and rows[2].p == "go" and rows[5].p == "unknown"


def test_canonicalize_pandas_equals_sql(spark):
    """The content half of the fused Arrow UDF equals the JVM expression;
    lang is absent, passed as a typed null. Null content stays null."""
    vals = ["a \r\nb\t\n", "x", "", "line1  \nline2\n\n\n", None]
    df = spark.createDataFrame([(v,) for v in vals], ["c"])
    rows = df.select(
        normalize_and_canonicalize(F.lit(None).cast("string"), F.col("c"))
        .getField("content")
        .alias("p"),
        canonicalize_content_sql("c").alias("s"),
    ).collect()
    for r in rows:
        assert r.p == r.s, (repr(r.p), repr(r.s))
    assert rows[0].p == "a\nb\n"


def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",), ("one",)], ["t"])
    got = [r.n for r in df.select(token_count("t").alias("n")).collect()]
    assert got == [3, 0, 0, 1]


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it is good for all of us",),
            ("el perro y el gato en la casa de los abuelos es grande",),
            ("zzz qqq xxx",),
        ],
        ["t"],
    )
    rows = df.select(lang_id("t").alias("l"), quality_score("t").alias("q")).collect()
    assert rows[0].l == "en"
    assert rows[1].l == "es"
    assert rows[2].l == "unknown"
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_fused_normalize_and_canonicalize_parity(spark):
    """The fused pyarrow-kernel UDF (CDC hot path) must be bit-identical to
    the JVM SQL expressions, its parity oracle."""
    rows_in = [
        ("Python", "a \r\nb\t\n"),
        ("PY3", "x"),
        ("klingon", ""),
        (None, "line1  \nline2\n\n\n"),
        ("Golang", "no trailing newline"),
        ("rs", "tabs\t\t\nspaces   \nend\t \n \t"),
        (" md ", "a \r\nb\t\n"),
        ("python", "x"),
        ("go", "y"),
        ("unknown", "z"),
        ("py", None),
    ]
    df = spark.createDataFrame(rows_in, ["lang", "content"])
    got = df.select(
        normalize_and_canonicalize(F.col("lang"), F.col("content")).alias("t"),
        canonicalize_content_sql("content").alias("c_sql"),
        normalize_lang_sql("lang").alias("l_sql"),
    ).collect()
    for r in got:
        assert r.t.lang == r.l_sql, (r.t.lang, r.l_sql)
        assert r.t.content == r.c_sql, (repr(r.t.content), repr(r.c_sql))
    assert [r.t.lang for r in got] == [
        "python", "python", "unknown", "unknown", "go", "rust",
        "markdown", "python", "go", "unknown", "python",
    ]
    assert got[0].t.content == "a\nb\n"


def test_get_ignore_case_colliding_and_nested(spark):
    """ADVICE r1 edges: keys colliding after lowercasing must not throw
    (first match in payload order wins), and nested-object payloads must not
    poison sibling scalar extraction."""
    from techtalk_data_pipeline_snowpark_spark.functions.shims import get_ignore_case

    df = spark.createDataFrame(
        [
            ('{"k": "1", "K": "2"}',),          # lowercase-collision
            ('{"code": {"x": 1}, "qty": "7"}',),  # nested value → map parse fails
            ('{"QTY": "9"}',),
        ],
        "j string",
    )
    got = [r.x for r in df.select(get_ignore_case(F.col("j"), "k").alias("x")).collect()]
    assert got[0] == "1"  # first matching entry, no mapKeyDedupPolicy throw
    qty = [r.x for r in df.select(get_ignore_case(F.col("j"), "qty").alias("x")).collect()]
    assert qty[1] == "7"  # sibling nested value no longer poisons the parse
    assert qty[2] == "9"  # wrong casing still found via map probe
    missing = [r.x for r in df.select(get_ignore_case(F.col("j"), "absent").alias("x")).collect()]
    assert missing == [None, None, None]  # no ANSI element_at error


def test_get_ignore_case_nested_values_full_ci(spark):
    """r3 'missing #5' closed: case-insensitive extraction now reaches
    NESTED object/array values (variant map parse — the old
    map<string,string> path nulled them and only common-casing JSONPath
    probes survived). Scalars keep their unquoted shape; nested values
    come back as JSON text, so extraction chains level by level."""
    from techtalk_data_pipeline_snowpark_spark.functions.shims import get_ignore_case

    df = spark.createDataFrame(
        [
            ('{"UsEr": {"NaMe": "ada", "Id": 7}, "TaGs": [1, 2]}',),
            ('{"user": {"name": "bob", "id": 8}}',),
        ],
        "j string",
    )
    user = get_ignore_case(F.col("j"), "uSeR")
    rows = df.select(
        user.alias("u"),
        get_ignore_case(user, "nAmE").alias("n"),
        get_ignore_case(user, "ID").alias("i"),
        get_ignore_case(F.col("j"), "tags").alias("t"),
    ).collect()
    assert rows[0].n == "ada" and rows[0].i == "7"
    assert rows[1].n == "bob" and rows[1].i == "8"
    assert rows[0].t == "[1,2]" and rows[1].t is None
    import json

    assert json.loads(rows[0].u) == {"NaMe": "ada", "Id": 7}


def test_json_array_records_tolerate_nested_extras(spark):
    """A record carrying an extra NESTED field must still flatten its
    declared scalar fields (old map<string,string> parse nulled the whole
    record); a declared StringType field holding an object gets its JSON
    text."""
    schema = T.StructType(
        [
            T.StructField("orderCode", T.StringType()),
            T.StructField("totPrice", T.DoubleType()),
            T.StructField("meta", T.StringType()),
        ]
    )
    payload = (
        '[{"ORDERCODE": "A1", "totprice": 10.5, "Meta": {"src": "api"},'
        ' "extra": [1, 2]}]'
    )
    df = spark.createDataFrame([(payload,)], ["response"])
    r = json_array_to_exploded_fields(df, schema, "response").collect()[0]
    assert (r.orderCode, r.totPrice) == ("A1", 10.5)
    import json

    assert json.loads(r.meta) == {"src": "api"}
