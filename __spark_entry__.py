"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: full CDC replay (events-as-change-log →
                     max-LSN dedup → exactly-once MERGE into a lake table)
                     on sf0.001, returning the converged final state.
``queries()``      — one entry per implemented operator family from
                     SURVEY.md §2 (+ the training-data ops).
``oracle_sql()``   — DuckDB-runnable ANSI SQL equivalents. Omitted only for
                     ops whose plans are not SQL-expressible (LSH/minhash/
                     simhash candidates, IVF ANN — all hash-bucketed
                     approximations with no SQL analogue).

Cross-engine determinism rules used throughout (so value-hashes match):
- money/quantity sums go through DECIMAL (exact, order-independent), then
  cast to DOUBLE; averages are IEEE double divisions of those exact sums;
- float chains that can differ in the last ulp are round()-ed before
  compare/rank, with an id tie-break so ranking is stable in both engines;
- timestamps are never returned raw (cast to ISO strings or dropped).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine
from techtalk_data_pipeline_snowpark_spark.cdc.dedup import dedup_latest
from techtalk_data_pipeline_snowpark_spark.functions.shims import (
    get_ignore_case,
    json_array_to_exploded_fields,
    substring1,
    union_dedup,
)
from techtalk_data_pipeline_snowpark_spark.functions.text import (
    bpe_ish_token_count,
    canonicalize_content_sql,
    lang_id,
    quality_score,
    sha256_hex,
    token_count,
)
from techtalk_data_pipeline_snowpark_spark.lake import LakeTable, merge_into
from techtalk_data_pipeline_snowpark_spark.lake.merge import delete as lake_delete
from techtalk_data_pipeline_snowpark_spark.lake.merge import update as lake_update
from techtalk_data_pipeline_snowpark_spark.operators.components import (
    assign_components,
)
from techtalk_data_pipeline_snowpark_spark.operators.dedup import (
    blocked_jaccard_near_dups,
    cosine,
    dedup_ingest,
    exact_dedup,
    jaccard_against_corpus,
    minhash_near_dups,
    simhash64,
)
from techtalk_data_pipeline_snowpark_spark.lake.metaquery import metadata_aggregate
from techtalk_data_pipeline_snowpark_spark.operators.linedup import (
    chunk_words_as_lines,
    remove_duplicate_lines,
)
from techtalk_data_pipeline_snowpark_spark.operators.quality import (
    PII_PATTERNS,
    redact_pii,
    repetition_stats,
)
from techtalk_data_pipeline_snowpark_spark.operators.ingest import (
    ingest_raw_to_flat,
    land_raw,
)
from techtalk_data_pipeline_snowpark_spark.operators.decontaminate import (
    flag_contaminated,
)
from techtalk_data_pipeline_snowpark_spark.operators.sharding import (
    hash_split,
    hash_split_oracle_case,
    mixture_resample,
    mixture_resample_oracle,
    pack_shards,
)
from techtalk_data_pipeline_snowpark_spark.operators.heavyhitters import frequent_values
from techtalk_data_pipeline_snowpark_spark.operators.retrieval import (
    bm25_topk,
    rrf_fuse,
    tfidf_top_terms,
)
from techtalk_data_pipeline_snowpark_spark.operators.similarity import cosine_topk_ivf


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dec(col, prec=18, scale=2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


# --------------------------------------------------------------------- CDC

def _events_as_cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the events table as a change log: lsn = event_id+1 (total
    order), key = user_id, op = delete on 'error' events else upsert."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        (F.col("event_id") + 1).cast("long").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.col("ts"),
    )


def cdc_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path: epoch slicing → max-LSN dedup (partial-agg) →
    bucket-pruned exactly-once MERGE with delete ops → final state."""
    log = _events_as_cdc_log(spark, sf_dir)
    max_lsn = log.agg(F.max("lsn")).first()[0]
    root = tempfile.mkdtemp(prefix="cdc_replay_")
    eng = CdcEngine(
        spark, os.path.join(root, "state"), key_cols=("user_id",), num_buckets=8
    )
    eng.replay(log, max_lsn=max_lsn, epoch_size=(max_lsn + 3) // 4 + 1)
    return eng.read_state().select("user_id", "lsn", "event_type", "value")


_CDC_REPLAY_ORACLE = """
WITH ev AS (
  SELECT CAST(event_id + 1 AS BIGINT) AS lsn,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         user_id, event_type, value
  FROM events
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
  FROM ev
)
SELECT user_id, lsn, event_type, value FROM latest WHERE rn = 1 AND op <> 'delete'
"""


def stream_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME replay as cdc_replay_events, but driven by the Structured
    Streaming runtime (streaming/cdc_stream.py stream_replay): the change
    log lands as LSN-range-ordered parquet files, readStream tails them
    two files per micro-batch (trigger availableNow drains then stops),
    and each batch is applied through CdcEngine.apply_epoch — file-source
    checkpoint for at-least-once delivery, epoch manifest for exactly-once
    effects. Final state must equal the batch replay's oracle exactly."""
    from techtalk_data_pipeline_snowpark_spark.streaming.cdc_stream import (
        land_lsn_ordered,
        stream_replay,
    )

    log = _events_as_cdc_log(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="streamrep_")
    events_dir = os.path.join(root, "ev")
    # LSN-ordered producer, landed SEQUENTIALLY (see land_lsn_ordered:
    # the file source's producer ordering contract)
    land_lsn_ordered(log, events_dir, waves=4)
    eng = CdcEngine(
        spark, os.path.join(root, "state"), key_cols=("user_id",), num_buckets=8
    )
    q = stream_replay(
        spark,
        events_dir,
        os.path.join(root, "ckpt"),
        eng,
        schema=log.schema,
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    return eng.read_state().select("user_id", "lsn", "event_type", "value")


def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under replay (north_rule pillar; SURVEY.md §6 hard
    part c): phase-1 events carry (status, qty:int); phase-2 events ADD a
    column (priority) and WIDEN qty to bigint. The engine's reconciliation
    pass evolves the table before the merge-apply; phase-1 survivors read
    with null priority and upcast qty. Exact DuckDB oracle."""
    orders = _t(spark, sf_dir, "orders")
    p1 = orders.where(F.col("o_orderkey") <= 800).select(
        (F.col("o_orderkey") + 1).cast("long").alias("lsn"),
        F.lit("upsert").alias("op"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_custkey").cast("int").alias("qty"),
    )
    p2 = orders.where(F.col("o_orderkey").between(400, 1200)).select(
        (F.col("o_orderkey") + 1_000_000).cast("long").alias("lsn"),
        F.lit("upsert").alias("op"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_custkey").cast("bigint") + 10).alias("qty"),
        F.col("o_orderpriority").alias("priority"),
    )
    root = tempfile.mkdtemp(prefix="evolve_")
    eng = CdcEngine(spark, os.path.join(root, "t"), key_cols=("k",), num_buckets=4)
    eng.replay(p1, max_lsn=801, epoch_size=10**9)
    eng.replay(p2, max_lsn=1_001_200, epoch_size=10**9)
    return eng.read_state().select("k", "lsn", "status", "qty", "priority")


_SCHEMA_EVOLUTION_ORACLE = """
WITH p1 AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(o_orderkey + 1 AS BIGINT) AS lsn,
         o_orderstatus AS status, CAST(o_custkey AS INTEGER) AS qty
  FROM orders WHERE o_orderkey <= 800
), p2 AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(o_orderkey + 1000000 AS BIGINT) AS lsn,
         o_orderstatus AS status,
         CAST(o_custkey AS BIGINT) + 10 AS qty,
         o_orderpriority AS priority
  FROM orders WHERE o_orderkey BETWEEN 400 AND 1200
)
SELECT coalesce(p2.k, p1.k) AS k,
       coalesce(p2.lsn, p1.lsn) AS lsn,
       coalesce(p2.status, p1.status) AS status,
       CASE WHEN p2.k IS NOT NULL THEN p2.qty ELSE CAST(p1.qty AS BIGINT) END AS qty,
       p2.priority AS priority
FROM p1 FULL JOIN p2 ON p1.k = p2.k
"""


def multitable_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table CDC fan-out (cdc/multitable.py): ONE binlog-shaped
    LSN-ordered stream carrying interleaved 'orders' and 'users' change
    events is routed into two lake tables — different key columns,
    bucket layouts, and exactly-once watermarks — over a shared epoch
    grid. The reference runs one Snowflake stream per table
    (IngestOrdersFromRawToFlat.scala / IngestRatingsFromRawToFlat.scala
    as separate DAG nodes); a real WAL tail gets one stream and must
    route. Returns both final states aligned to one comparable shape.

    LSN construction (deterministic, disjoint): orders inserts sit at
    3k+1, their updates at 3(B+k)+1 (B = max orderkey, so every update
    outranks every insert), their deletes at 3(2B+k)+1 (outrank both);
    users events sit at 3(event_id+1)+2. Updates re-price a tenth of the
    orders; deletes remove every 37th — so the max-LSN dedup and the
    delete branch of the per-table MERGE both do real work."""
    from techtalk_data_pipeline_snowpark_spark.cdc import MultiTableCdcEngine

    log = _multitable_log(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mtcdc_")
    mt = MultiTableCdcEngine(
        spark, os.path.join(root, "mt"), routes=_multitable_routes()
    )
    max_lsn = int(log.agg(F.max("lsn")).first()[0])
    mt.replay(log, max_lsn=max_lsn, epoch_size=(max_lsn + 3) // 4 + 1)
    return _multitable_final_state(mt)


_MULTITABLE_ORACLE = """
WITH b AS (SELECT max(o_orderkey) AS b FROM orders),
olog AS (
  SELECT CAST(o_orderkey*3 + 1 AS BIGINT) AS lsn, 'upsert' AS op,
         o_orderkey, o_orderstatus, o_totalprice
  FROM orders
  UNION ALL
  SELECT CAST((o_orderkey + (SELECT b FROM b))*3 + 1 AS BIGINT), 'upsert',
         o_orderkey, 'U', o_totalprice * CAST(1.1 AS DOUBLE)
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT CAST((o_orderkey + 2*(SELECT b FROM b))*3 + 1 AS BIGINT), 'delete',
         o_orderkey, NULL, NULL
  FROM orders WHERE o_orderkey % 37 = 0
),
olatest AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY lsn DESC) rn
  FROM olog
),
ulog AS (
  SELECT CAST((event_id + 1)*3 + 2 AS BIGINT) AS lsn,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         user_id, event_type, value
  FROM events
),
ulatest AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC) rn
  FROM ulog
)
SELECT 'orders' AS tbl, CAST(o_orderkey AS VARCHAR) AS k,
       o_orderstatus AS v_str, o_totalprice AS v_num, lsn
FROM olatest WHERE rn = 1 AND op <> 'delete'
UNION ALL
SELECT 'users' AS tbl, CAST(user_id AS VARCHAR) AS k,
       event_type AS v_str, value AS v_num, lsn
FROM ulatest WHERE rn = 1 AND op <> 'delete'
"""


def _multitable_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved orders+users union-schema log multitable_replay
    builds — factored so the streaming twin replays the identical stream."""
    orders = _t(spark, sf_dir, "orders")
    b = orders.agg(F.max("o_orderkey")).first()[0]
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    null_l = F.lit(None).cast("long")
    o_ins = orders.select(
        (F.col("o_orderkey") * 3 + 1).cast("long").alias("lsn"),
        F.lit("upsert").alias("op"),
        F.lit("orders").alias("tbl"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderstatus"),
        F.col("o_totalprice"),
        null_l.alias("user_id"),
        null_s.alias("event_type"),
        null_d.alias("value"),
    )
    o_upd = orders.where(F.col("o_orderkey") % 10 == 0).select(
        ((F.col("o_orderkey") + F.lit(int(b))) * 3 + 1).cast("long").alias("lsn"),
        F.lit("upsert").alias("op"),
        F.lit("orders").alias("tbl"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        null_l.alias("user_id"),
        null_s.alias("event_type"),
        null_d.alias("value"),
    )
    o_del = orders.where(F.col("o_orderkey") % 37 == 0).select(
        ((F.col("o_orderkey") + F.lit(2 * int(b))) * 3 + 1).cast("long").alias("lsn"),
        F.lit("delete").alias("op"),
        F.lit("orders").alias("tbl"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        null_s.alias("o_orderstatus"),
        null_d.alias("o_totalprice"),
        null_l.alias("user_id"),
        null_s.alias("event_type"),
        null_d.alias("value"),
    )
    u_log = _t(spark, sf_dir, "events").select(
        ((F.col("event_id") + 1) * 3 + 2).cast("long").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.lit("users").alias("tbl"),
        null_l.alias("o_orderkey"),
        null_s.alias("o_orderstatus"),
        null_d.alias("o_totalprice"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    return o_ins.unionByName(o_upd).unionByName(o_del).unionByName(u_log)


def _multitable_routes():
    from techtalk_data_pipeline_snowpark_spark.cdc import TableRoute

    return {
        "orders": TableRoute(
            key_cols=("o_orderkey",),
            columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
            num_buckets=8,
        ),
        "users": TableRoute(
            key_cols=("user_id",),
            columns=["user_id", "event_type", "value"],
            num_buckets=4,
        ),
    }


def _multitable_final_state(mt) -> DataFrame:
    o_state = mt.read_state("orders").select(
        F.lit("orders").alias("tbl"),
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_orderstatus").alias("v_str"),
        F.col("o_totalprice").alias("v_num"),
        F.col("lsn"),
    )
    u_state = mt.read_state("users").select(
        F.lit("users").alias("tbl"),
        F.col("user_id").cast("string").alias("k"),
        F.col("event_type").alias("v_str"),
        F.col("value").alias("v_num"),
        F.col("lsn"),
    )
    return o_state.unionByName(u_state)


def stream_multitable_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME multi-table fan-out as multitable_replay, driven by the
    Structured Streaming runtime (streaming/cdc_stream.py
    stream_replay_multitable): the binlog-shaped log lands as sequential
    LSN-range files, readStream tails them two per micro-batch, and each
    batch is one epoch for EVERY route — per-table watermarks make the
    composition exactly-once per table. Same oracle as the batch twin."""
    from techtalk_data_pipeline_snowpark_spark.cdc import MultiTableCdcEngine
    from techtalk_data_pipeline_snowpark_spark.streaming.cdc_stream import (
        land_lsn_ordered,
        stream_replay_multitable,
    )

    log = _multitable_log(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="mtstream_")
    events_dir = os.path.join(root, "ev")
    land_lsn_ordered(log, events_dir, waves=4)
    mt = MultiTableCdcEngine(spark, os.path.join(root, "mt"), _multitable_routes())
    q = stream_replay_multitable(
        spark,
        events_dir,
        os.path.join(root, "ckpt"),
        mt,
        schema=log.schema,
        max_files_per_trigger=2,
    )
    q.awaitTermination()
    return _multitable_final_state(mt)


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's core dedup operator alone: last-writer-wins per key via
    max_by partial aggregation (SURVEY.md §2.4 A4 generalization)."""
    log = _events_as_cdc_log(spark, sf_dir)
    out = dedup_latest(log, ["user_id"])
    return out.select("user_id", "lsn", "op", "event_type", "value")


_LATEST_EVENT_ORACLE = """
WITH ev AS (
  SELECT CAST(event_id + 1 AS BIGINT) AS lsn,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         user_id, event_type, value
  FROM events
)
SELECT user_id, lsn, op, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY lsn DESC) rn FROM ev)
WHERE rn = 1
"""


# ------------------------------------------------- relational / parity ops

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped agg (SURVEY.md §2.4 A1/A2): exact decimal sums,
    double division for the average."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 28, 8)
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).alias("_sq"),
        F.sum(_dec("l_extendedprice")).alias("_sb"),
        F.round(F.sum(disc_price), 2).alias("_sd"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sb").cast("double").alias("sum_base_price"),
        F.col("_sd").cast("double").alias("sum_disc_price"),
        (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    )


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def dq_overpaid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQOrderPaidMoreThanPrice parity (DQOrderPaidMoreThanPrice.scala:42-52):
    per-order revenue vs order price; keep orders 'paid' more than priced."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_orderkey").agg(
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 28, 8)).alias("_r")
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey, "inner")
        .where(F.col("_r") > _dec("o_totalprice"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice"),
            F.round(F.col("_r"), 2).cast("double").alias("revenue"),
        )
    )


_DQ_OVERPAID_ORACLE = """
WITH rev AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS r
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(round(r, 2) AS DOUBLE) AS revenue
FROM orders JOIN rev ON o_orderkey = l_orderkey
WHERE r > CAST(o_totalprice AS DECIMAL(18,2))
"""


def three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PaidWithAmexRatingGt50 parity (PaidWithAmexRatingGt50.scala:24-52):
    pre-filter both edge tables, then 3-way inner join through orders."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == F.lit("BUILDING"))
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_returnflag") == F.lit("R")) & (F.col("l_quantity") > F.lit(30))
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .join(li, orders.o_orderkey == li.l_orderkey, "inner")
        .select(
            "o_orderkey", "l_linenumber", "c_custkey", "c_name",
            "l_quantity", "l_extendedprice", "o_totalprice",
        )
    )


_THREE_WAY_ORACLE = """
SELECT o_orderkey, l_linenumber, c_custkey, c_name,
       l_quantity, l_extendedprice, o_totalprice
FROM orders
JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_returnflag = 'R' AND l_quantity > 30
"""


def top_customers_90d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopRestaurantsLast30Days parity (TopRestaurantsLast30Days.scala:19-38):
    trailing window from the data's max date (deterministic as-of), agg,
    broadcast dim join, sort desc, top-k with id tie-break."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    mx = orders.agg(F.max("o_orderdate")).first()[0]
    w = orders.where(
        F.col("o_orderdate").between(
            F.lit(mx) - F.expr("INTERVAL 90 DAYS"), F.lit(mx)
        )
    )
    g = w.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("_tot"), F.count(F.lit(1)).alias("n_orders")
    )
    return (
        g.join(F.broadcast(cust), g.o_custkey == cust.c_custkey, "inner")
        .select(
            "c_custkey", "c_name",
            F.col("_tot").cast("double").alias("total_spent"), "n_orders",
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey"))
        .limit(10)
    )


_TOP_CUSTOMERS_ORACLE = """
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
w AS (SELECT o.* FROM orders o, mx WHERE o_orderdate BETWEEN m - INTERVAL 90 DAY AND m),
g AS (SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
             count(*) AS n_orders
      FROM w GROUP BY o_custkey)
SELECT c_custkey, c_name, total_spent, n_orders
FROM g JOIN customer ON c_custkey = o_custkey
ORDER BY total_spent DESC, c_custkey LIMIT 10
"""


def union_dedup_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowpark union semantics (U1 — IngestPaymentsStreamFromStage.scala:61-63):
    UNION with dedup, not Spark's UNION ALL."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = orders.where(F.col("o_totalprice") > 150000).select("o_orderpriority")
    return union_dedup(a, b)


_UNION_DEDUP_ORACLE = """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
UNION
SELECT o_orderpriority FROM orders WHERE o_totalprice > 150000
"""


def name_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-predicate + computed-projection parity (P2/P7 —
    SampleStream.scala:49-54, SampleCrud.scala:19-34): 1-based substring
    (0 treated as 1), upper, startswith/contains with boolean OR."""
    cust = _t(spark, sf_dir, "customer")
    kept = cust.where(
        F.lower(F.col("c_mktsegment")).startswith("b")
        | F.col("c_name").contains("9")
    )
    pfx = substring1(F.upper(F.col("c_name")), 0, 10)
    return kept.groupBy(pfx.alias("name_prefix")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
    )


_NAME_PREFIX_ORACLE = """
SELECT substring(upper(c_name), 1, 10) AS name_prefix,
       count(*) AS n,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer
WHERE lower(c_mktsegment) LIKE 'b%' OR c_name LIKE '%9%'
GROUP BY 1
"""


def props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT-style case-insensitive JSON field extraction
    (get_ignore_case — Implicits.scala:18-23): note the deliberately
    wrong-cased field name 'K'."""
    ev = _t(spark, sf_dir, "events")
    k = get_ignore_case(F.col("props"), "K").cast("long")
    return ev.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n"))


_PROPS_EXTRACT_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
FROM events GROUP BY 1
"""


def json_flatten_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-array lateral flatten parity (jsonArrayToExplodedFields —
    Implicits.scala:27-38): wrap each props object into a 1-element array
    envelope, flatten with a declared schema, aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("["), F.col("props"), F.lit("]")).alias("response")
    )
    schema = T.StructType([T.StructField("k", T.LongType())])
    flat = json_array_to_exploded_fields(ev, schema, "response")
    return flat.groupBy("k").agg(F.count(F.lit(1)).alias("n"))


def crud_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-with-condition then DELETE-with-condition against the lake
    table format (M4/M5 — SampleCrud.scala:28-36,71-75), file-pruned
    copy-on-write; returns the final table state."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_size").cast("long").alias("p_size"), "p_retailprice"
    )
    root = tempfile.mkdtemp(prefix="crud_")
    tbl = LakeTable.create(spark, os.path.join(root, "part"), part.schema)
    tbl.append(part)
    lake_update(
        tbl,
        {"p_retailprice": F.col("p_retailprice") * 1.1},
        F.col("p_size") > 40,
    )
    lake_delete(tbl, F.col("p_retailprice") > 1500)
    return tbl.read().select("p_partkey", "p_size", "p_retailprice")


_CRUD_ORACLE = """
WITH u AS (
  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
         CASE WHEN p_size > 40 THEN p_retailprice * 1.1 ELSE p_retailprice END AS p_retailprice
  FROM part
)
SELECT p_partkey, p_size, p_retailprice FROM u WHERE p_retailprice <= 1500
"""


def time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel / snapshot isolation: after an UPDATE and a DELETE, an
    as-of read at the pre-mutation version still returns the original rows
    byte-for-byte, while the current read sees the mutations. Both reads
    come from ONE table — old versions stay reconstructable from the log
    (checkpoint + adds/removes), the Iceberg/Snowflake AT(TIMESTAMP)
    semantics (reference queries run against Snowflake, which gives this
    for free; here the lake log provides it)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="timetravel_")
    tbl = LakeTable.create(spark, os.path.join(root, "orders"), orders.schema)
    tbl.append(orders)
    v1 = tbl.latest_version()
    lake_update(
        tbl,
        {"o_totalprice": F.col("o_totalprice") * 2},
        F.col("o_orderstatus") == "F",
    )
    lake_delete(tbl, F.col("o_totalprice") > 300000)
    asof = tbl.read(version=v1).withColumn("snapshot", F.lit("v1"))
    cur = tbl.read().withColumn("snapshot", F.lit("current"))
    return asof.unionByName(cur).select(
        "snapshot", "o_orderkey", "o_orderstatus", "o_totalprice"
    )


_TIME_TRAVEL_ORACLE = """
SELECT 'v1' AS snapshot, o_orderkey, o_orderstatus, o_totalprice FROM orders
UNION ALL
SELECT 'current' AS snapshot, o_orderkey, o_orderstatus, o_totalprice FROM (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM orders
) WHERE o_totalprice <= 300000
"""


def restore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE (rollback to snapshot): a bad mutation batch (UPDATE +
    DELETE) lands, `LakeTable.restore` rolls the live state back in ONE
    metadata-only commit — zero data movement, history preserved. The
    entry returns the restored live read PLUS a post-restore time-travel
    read of the rolled-back (bad) version, proving restore neither
    rewrites history nor loses it. Oracle: the restored read is the
    original table; the bad version is the mutations applied."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="restore_")
    tbl = LakeTable.create(spark, os.path.join(root, "orders"), orders.schema)
    tbl.append(orders)
    v_good = tbl.latest_version()
    lake_update(
        tbl,
        {"o_totalprice": F.col("o_totalprice") * 2},
        F.col("o_orderstatus") == "F",
    )
    lake_delete(tbl, F.col("o_totalprice") > 300000)
    v_bad = tbl.latest_version()
    res = tbl.restore(v_good)
    if res.summary.get("restored_to") != v_good:  # pragma: no cover
        raise AssertionError("restore summary missing target version")
    live = tbl.read().withColumn("snapshot", F.lit("restored"))
    bad = tbl.read(version=v_bad).withColumn("snapshot", F.lit("bad"))
    return live.unionByName(bad).select(
        "snapshot", "o_orderkey", "o_orderstatus", "o_totalprice"
    )


_RESTORE_ORACLE = """
SELECT 'restored' AS snapshot, o_orderkey, o_orderstatus, o_totalprice FROM orders
UNION ALL
SELECT 'bad' AS snapshot, o_orderkey, o_orderstatus, o_totalprice FROM (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM orders
) WHERE o_totalprice <= 300000
"""


def wap_publish_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (Iceberg branch refs on the lake log): a MERGE
    lands on a BRANCH (metadata fork, shared data files), an audit reads
    the branch while main still serves the pre-merge snapshot, then
    publish_branch squashes the branch's net delta into ONE atomic commit
    on main. A second branch holding garbage is dropped unpublished — its
    rows must never reach main. Reference parity: the reference audits the
    Snowflake stream's contents before INSERT (DataLoader.scala:21-38);
    WAP moves the audit between merge and visibility."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="wap_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=8,
    )
    tbl.append(orders)
    pre_version = tbl.latest_version()

    # audited branch: reprice finished orders, insert synthetic priority rows
    src = (
        orders.where(F.col("o_orderstatus") == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.05)
        .withColumn("o_orderstatus", F.lit("A"))
        .unionByName(
            orders.where(
                (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 250000)
            )
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
            .withColumn("o_orderstatus", F.lit("N"))
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    br = tbl.create_branch("audit")
    merge_into(
        br, src, on=["o_orderkey"], when_matched_update="all",
        when_not_matched_insert=True,
    )
    # failed-audit branch: rows that must never become visible
    bad = tbl.create_branch("bad")
    bad.append(
        orders.limit(100).withColumn("o_orderkey", F.col("o_orderkey") + 20_000_000)
    )
    tbl.drop_branch("bad")

    # the audit gate: main is still pre-merge while the branch has it all
    assert tbl.latest_version() == pre_version
    tbl.publish_branch("audit")
    return tbl.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


_WAP_ORACLE = """
WITH src AS (
  SELECT o_orderkey, 'A' AS o_orderstatus, o_totalprice * 1.05 AS o_totalprice
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey + 10000000, 'N', o_totalprice
  FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 250000
)
SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
       COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
       COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice
FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
"""


def dv_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes + clustered compaction under the exact-oracle
    gate. DELETE in mode='mor' commits DELETION VECTORS only — positional
    (file, row) tombstones, no surviving row rewritten (Iceberg v2
    positional-delete shape; the reference gets an equivalent from
    Snowflake server-side DML, SampleCrud.scala:71-75). Phase 'mor' reads
    THROUGH the DV anti-join; compact(sort_by=...) then absorbs the DVs
    while clustering rows on a non-key column into range-disjoint files
    (zone-map food); phase 'compacted' reads the clean layout. Both phases
    must equal plain SQL DELETE semantics byte-for-byte."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="dv_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    tbl.append(orders)
    lake_delete(tbl, F.col("o_orderstatus") == "O", mode="mor")
    mor = tbl.read().withColumn("phase", F.lit("mor"))
    tbl.compact(max_files_per_bucket=2, sort_by=["o_totalprice"])
    compacted = tbl.read().withColumn("phase", F.lit("compacted"))
    return mor.unionByName(compacted).select(
        "phase", "o_orderkey", "o_orderstatus", "o_totalprice"
    )


_DV_DELETE_ORACLE = """
WITH kept AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE NOT COALESCE(o_orderstatus = 'O', FALSE)
)
SELECT 'mor' AS phase, o_orderkey, o_orderstatus, o_totalprice FROM kept
UNION ALL
SELECT 'compacted' AS phase, o_orderkey, o_orderstatus, o_totalprice FROM kept
"""


def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column clustering under the exact-oracle gate: compact with
    zorder=True lays each bucket out along a Morton curve over
    (o_custkey, o_totalprice), so zone maps prune scans on EITHER column —
    a 1-D sort would prune only its lead column. The entry asserts
    driver-side that a predicate on the SECOND clustered column skipped at
    least one file (the layout claim), then returns both pruned reads for
    the value-level oracle compare (reference tables get this from
    Snowflake CLUSTER BY server-side; here lake/zorder.py provides it)."""
    from techtalk_data_pipeline_snowpark_spark.lake.stats import prune_files

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="zorder_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    tbl.append(orders)
    tbl.compact(
        max_files_per_bucket=4, sort_by=["o_custkey", "o_totalprice"], zorder=True
    )
    cond_a = F.col("o_custkey") < 100
    cond_b = F.col("o_totalprice") < 60000.0
    snap = tbl.snapshot()
    for name, cond in (("o_custkey", cond_a), ("o_totalprice", cond_b)):
        kept = prune_files(snap.files, cond)
        if len(kept) >= len(snap.files):
            raise RuntimeError(
                f"zorder zone maps pruned nothing on {name}: "
                f"{len(kept)}/{len(snap.files)} files survived"
            )
    a = tbl.read_where(cond_a).withColumn("probe", F.lit("custkey"))
    b = tbl.read_where(cond_b).withColumn("probe", F.lit("totalprice"))
    return a.unionByName(b).select(
        "probe", "o_orderkey", "o_custkey", "o_totalprice"
    )


_ZORDER_ORACLE = """
SELECT 'custkey' AS probe, o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_custkey < 100
UNION ALL
SELECT 'totalprice' AS probe, o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_totalprice < 60000.0
"""


def bloom_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file key bloom filters → file-grain copy-on-write MERGE under
    the exact-oracle gate (lake/bloom.py — the role Iceberg puffin blobs /
    Delta's bloom index play; the reference gets key skipping from
    Snowflake search optimization server-side). Merge keys are hash-
    distributed, so zone maps can't prune them: without blooms a selective
    MERGE rewrites every file of each touched bucket. Here a small upsert
    (a handful of updated keys + two inserts) against a multi-file-per-
    bucket table must SKIP at least one file (asserted driver-side from
    the commit summary), and the final state must equal the SQL MERGE
    semantics exactly — bloom false negatives would surface as a missing
    update. Parity: upsert MERGE of SampleCrud.scala:46-65 at file grain."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="bloom_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    tbl.enable_blooms()
    tbl.append(orders)
    src = orders.where(F.col("o_orderkey") % 5000 == 1).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
    ).unionByName(
        spark.createDataFrame(
            [(-1, "N", 1.0), (-2, "N", 2.0)],
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
    )
    res = merge_into(tbl, src, on=["o_orderkey"])
    if not res.summary.get("files_skipped_by_bloom"):
        raise RuntimeError(
            f"bloom probe skipped nothing: {res.summary} — file-grain CoW "
            "claim not demonstrated"
        )
    return tbl.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


_BLOOM_MERGE_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 5000 = 1 THEN 'X' ELSE o_orderstatus END
         AS o_orderstatus,
       CASE WHEN o_orderkey % 5000 = 1 THEN o_totalprice + 1.0
            ELSE o_totalprice END AS o_totalprice
FROM orders
UNION ALL
SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 'N', CAST(1.0 AS DOUBLE)),
                      (CAST(-2 AS BIGINT), 'N', CAST(2.0 AS DOUBLE)))
       AS v(o_orderkey, o_orderstatus, o_totalprice)
"""


def ivm_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance under the exact-oracle gate — the
    hard IVM case (lake/ivm_join.py): a materialized orders JOIN customer
    is kept in sync from BOTH sources' changelogs by delta-scoped
    recompute of the dirty join region (one stamped MERGE per refresh),
    through mutations on both sides: order price updates + deletes + an
    insert, customer renames + a delete. The reference recomputes joined
    analytics per DAG tick (DataQuality.scala's 3-way join re-runs in
    full); here three incremental refreshes must equal the SQL join of the
    final mutated state exactly — a stale tombstone or a double-applied
    dirty region would hash-mismatch."""
    from techtalk_data_pipeline_snowpark_spark.lake.ivm_join import (
        IncrementalJoinView,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_custkey").alias("custkey"), "c_name"
    )
    root = tempfile.mkdtemp(prefix="ivmjoin_")
    a = LakeTable.create(
        spark, os.path.join(root, "orders"), orders.schema,
        key_cols=["o_orderkey"], num_buckets=4,
    )
    a.append(orders)
    b = LakeTable.create(
        spark, os.path.join(root, "customer"), cust.schema,
        key_cols=["c_custkey"], num_buckets=4,
    )
    b.append(cust)
    view = IncrementalJoinView(
        spark, a, b, os.path.join(root, "view"),
        on=["custkey"],
        select={
            "custkey": ("a", "custkey"),
            "o_totalprice": ("a", "o_totalprice"),
            "c_name": ("b", "c_name"),
        },
        num_buckets=4,
    )
    view.refresh()  # initial materialization
    # left-side episode: price doubling, deletes, one new order
    merge_into(
        a,
        orders.where(F.col("o_orderkey") % 100 == 0).select(
            "o_orderkey", "custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        ),
        on=["o_orderkey"],
    )
    lake_delete(a, F.col("o_orderkey") % 100 == 1)
    a.append(
        spark.createDataFrame(
            [(-1, 7, 123.0)],
            "o_orderkey long, custkey long, o_totalprice double",
        )
    )
    view.refresh()
    # right-side episode: renames + a customer delete (drops its pairs)
    merge_into(
        b,
        cust.where(F.col("c_custkey") % 50 == 0).select(
            "c_custkey", "custkey", F.lit("X").alias("c_name")
        ),
        on=["c_custkey"],
    )
    lake_delete(b, F.col("c_custkey") % 50 == 1)
    view.refresh()
    return view.read().select(
        "a_o_orderkey", "b_c_custkey", "custkey", "o_totalprice", "c_name"
    )


def ivm_left_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER maintained join view under the exact-oracle gate
    (lake/ivm_join.py, how="left"): customers are restricted to a subset,
    so many orders carry a NULL-extended customer side; mutations then
    drive null-extension transitions both ways — a customer DELETE strips
    rows back to null-extensions, a customer INSERT gives previously
    unmatched orders their first match — plus order updates. Two
    incremental refreshes must equal the SQL LEFT JOIN of the final state
    exactly; a stale null-extension (the left-IVM failure mode) would
    change the row multiset and hash-mismatch."""
    from techtalk_data_pipeline_snowpark_spark.lake.ivm_join import (
        IncrementalJoinView,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust_all = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_custkey").alias("custkey"), "c_name"
    )
    cust = cust_all.where(F.col("c_custkey") % 3 == 0)  # unmatched orders exist
    root = tempfile.mkdtemp(prefix="ivmljoin_")
    a = LakeTable.create(
        spark, os.path.join(root, "orders"), orders.schema,
        key_cols=["o_orderkey"], num_buckets=4,
    )
    a.append(orders)
    b = LakeTable.create(
        spark, os.path.join(root, "customer"), cust.schema,
        key_cols=["c_custkey"], num_buckets=4,
    )
    b.append(cust)
    view = IncrementalJoinView(
        spark, a, b, os.path.join(root, "view"),
        on=["custkey"],
        select={
            "custkey": ("a", "custkey"),
            "o_totalprice": ("a", "o_totalprice"),
            "c_name": ("b", "c_name"),
        },
        num_buckets=4,
        how="left",
    )
    view.refresh()
    # matched → unmatched: drop a customer slice; unmatched → matched:
    # add back a different slice; plus order price updates
    lake_delete(b, F.col("c_custkey") % 30 == 0)
    merge_into(
        a,
        orders.where(F.col("o_orderkey") % 200 == 0).select(
            "o_orderkey", "custkey",
            (F.col("o_totalprice") + 5.0).alias("o_totalprice"),
        ),
        on=["o_orderkey"],
    )
    view.refresh()
    b.append(cust_all.where(F.col("c_custkey") % 3 == 1))
    view.refresh()
    return view.read().select(
        "a_o_orderkey", "b_c_custkey", "custkey", "o_totalprice", "c_name"
    )


_IVM_LEFT_JOIN_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey AS custkey,
         CASE WHEN o_orderkey % 200 = 0 THEN o_totalprice + 5.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
), c AS (
  SELECT c_custkey, c_name FROM customer
  WHERE (c_custkey % 3 = 0 AND c_custkey % 30 <> 0) OR c_custkey % 3 = 1
)
SELECT o.o_orderkey AS a_o_orderkey, c.c_custkey AS b_c_custkey,
       o.custkey, o.o_totalprice, c.c_name
FROM o LEFT JOIN c ON o.custkey = c.c_custkey
"""


_IVM_JOIN_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey AS custkey,
         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 100 <> 1
  UNION ALL
  SELECT CAST(-1 AS BIGINT), CAST(7 AS BIGINT), CAST(123.0 AS DOUBLE)
), c AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 50 = 0 THEN 'X' ELSE c_name END AS c_name
  FROM customer WHERE c_custkey % 50 <> 1
)
SELECT o.o_orderkey AS a_o_orderkey, c.c_custkey AS b_c_custkey,
       o.custkey, o.o_totalprice, c.c_name
FROM o JOIN c ON o.custkey = c.c_custkey
"""


def equality_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A key-set delete under the exact-oracle gate: the doomed keys are
    semi-joined against the table and their (file, row) positions
    committed as deletion vectors (no survivor rewrite), which readers
    anti-join out; a LATER append re-inserts some of the deleted keys and
    must survive (DVs attach to the files live at commit time, so newer
    files never see the older delete)."""
    from techtalk_data_pipeline_snowpark_spark.lake import mor_delete_keys

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    root = tempfile.mkdtemp(prefix="eqdel_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    tbl.append(orders)
    doomed = orders.where(F.col("o_orderkey") % 100 == 0).select("o_orderkey")
    mor_delete_keys(tbl, doomed, ["o_orderkey"])
    reborn = orders.where(F.col("o_orderkey") % 200 == 0).select(
        "o_orderkey",
        F.lit("Z").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
    )
    tbl.append(reborn)
    return tbl.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


_EQUALITY_DELETE_ORACLE = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 100 <> 0
UNION ALL
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, 'Z' AS o_orderstatus,
       o_totalprice * 2 AS o_totalprice
FROM orders WHERE o_orderkey % 200 = 0
"""


def ivm_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under the exact-oracle gate: a
    count+sum view over a mutating lake table is maintained from changelog
    DELTAS (insert +, delete −, update = preimage − + postimage +) across
    an append, an UPDATE, and a DELETE — three refreshes, each one MERGE
    over only the changed groups — and must equal the SQL GROUP BY of the
    final state. The reference recomputes derived views per DAG tick
    (TopRestaurantsLast30Days.scala:20-38); at 100 TB recomputation is the
    bug and the delta is the fix."""
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_custkey").cast("long").alias("qty"),
    )
    root = tempfile.mkdtemp(prefix="ivm_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    view = IncrementalAggView(
        spark,
        tbl,
        os.path.join(root, "view"),
        group_cols=["o_orderstatus"],
        sum_cols={"total_qty": "qty"},
        num_buckets=2,
    )
    tbl.append(orders)
    view.refresh()
    lake_update(tbl, {"qty": F.col("qty") + 5}, F.col("o_orderkey") % 7 == 0)
    view.refresh()
    lake_delete(tbl, F.col("qty") > 12000)
    view.refresh()
    return view.read().select("o_orderstatus", "cnt", "total_qty")


_IVM_ORACLE = """
WITH u AS (
  SELECT o_orderstatus,
         CAST(o_custkey AS BIGINT)
           + CASE WHEN o_orderkey % 7 = 0 THEN 5 ELSE 0 END AS qty
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(qty) AS BIGINT) AS total_qty
FROM u WHERE qty <= 12000
GROUP BY o_orderstatus
"""


def ivm_count_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) view maintenance under the exact-oracle gate — the
    r4 verdict's missing IVM surface. Distinct counts are not
    delta-decomposable (a delete only moves the count when it removed the
    LAST occurrence of a value), so the maintained state is an auxiliary
    (group, value) key table whose occurrence counts follow the plain
    COUNT delta algebra; the distinct count is one read-time aggregation
    over the surviving keys (lake/ivm.py IncrementalDistinctView). The
    episode forces both hard paths: an UPDATE that COLLAPSES many custkeys
    into shared buckets (occurrence counts pile onto existing aux keys
    without moving the distinct count) and a DELETE that removes last
    occurrences (the count must actually drop)."""
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalDistinctView

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_custkey").cast("long").alias("o_custkey"),
    )
    root = tempfile.mkdtemp(prefix="ivm_cd_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    view = IncrementalDistinctView(
        spark,
        tbl,
        os.path.join(root, "view"),
        group_cols=["o_orderstatus"],
        distinct_col="o_custkey",
        num_buckets=2,
    )
    tbl.append(orders)
    view.refresh()
    # collapse: many keys fold into 97 shared buckets — aux occurrence
    # counts merge, distinct counts must NOT double-count
    lake_update(
        tbl,
        {"o_custkey": F.col("o_custkey") % 97},
        F.col("o_orderkey") % 5 == 0,
    )
    view.refresh()
    # removal of last occurrences: high custkeys vanish entirely
    lake_delete(tbl, F.col("o_custkey") > 1200)
    view.refresh()
    return view.read().select("o_orderstatus", "cnt_distinct")


_IVM_COUNT_DISTINCT_ORACLE = """
WITH u AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0
              THEN CAST(o_custkey AS BIGINT) % 97
              ELSE CAST(o_custkey AS BIGINT) END AS ck
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT ck) AS BIGINT) AS cnt_distinct
FROM u WHERE ck <= 1200
GROUP BY o_orderstatus
"""


def ivm_minmax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX view maintenance under the exact-oracle gate: a
    count+min+max view survives a DELETE that removes each group's current
    maximum (scoped re-aggregation of only the affected groups) and an
    UPDATE that moves current minima (preimage removes the extremum),
    and must equal the SQL GROUP BY of the final state. Extrema are NOT
    delta-decomposable — this is the episode that forces the rescan path
    (lake/ivm.py:_attach_extrema)."""
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    root = tempfile.mkdtemp(prefix="ivm_mm_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    view = IncrementalAggView(
        spark,
        tbl,
        os.path.join(root, "view"),
        group_cols=["o_orderstatus"],
        min_cols={"min_price": "o_totalprice"},
        max_cols={"max_price": "o_totalprice"},
        num_buckets=2,
    )
    tbl.append(orders)
    view.refresh()
    # removes every group's top tail → delete-of-the-max rescan
    lake_delete(tbl, F.col("o_totalprice") > 400000)
    view.refresh()
    # moves scattered rows down 1 — wherever one was a group minimum, the
    # preimage removal forces that group's rescan too
    lake_update(
        tbl,
        {"o_totalprice": F.col("o_totalprice") - 1},
        F.col("o_orderkey") % 11 == 0,
    )
    view.refresh()
    return view.read().select("o_orderstatus", "cnt", "min_price", "max_price")


_IVM_MINMAX_ORACLE = """
WITH u AS (
  SELECT o_orderstatus,
         o_totalprice
           - CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS p
  FROM orders WHERE o_totalprice <= 400000
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       MIN(p) AS min_price,
       MAX(p) AS max_price
FROM u GROUP BY o_orderstatus
"""


def ivm_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG view maintenance under the exact-oracle gate (round-5 surface):
    AVG is not a plain +/- aggregate — it is maintained as hidden
    (sum, non-null count) state, both delta-decomposable, and materialized
    as sum/cnt at read time with SQL null semantics (lake/ivm.py avg_cols).
    The episode forces the two hard paths: an UPDATE that NULLS values
    (the denominator must shrink — a naive avg-over-cnt would divide by
    the row count and drift) and a DELETE filtered on the nullable measure
    (null rows survive, mirrored in the oracle's IS NULL arm). Integer
    source → exact integer sum → the one double division is bit-identical
    to the oracle's."""
    from techtalk_data_pipeline_snowpark_spark.lake import IncrementalAggView

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_custkey").cast("long").alias("qty"),
    )
    root = tempfile.mkdtemp(prefix="ivm_avg_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=4,
    )
    view = IncrementalAggView(
        spark,
        tbl,
        os.path.join(root, "view"),
        group_cols=["o_orderstatus"],
        avg_cols={"avg_qty": "qty"},
        num_buckets=2,
    )
    tbl.append(orders)
    view.refresh()
    lake_update(tbl, {"qty": F.col("qty") + 5}, F.col("o_orderkey") % 7 == 0)
    view.refresh()
    # null out scattered measures: AVG's denominator must drop with them
    lake_update(
        tbl,
        {"qty": F.lit(None).cast("long")},
        F.col("o_orderkey") % 13 == 0,
    )
    view.refresh()
    # delete on the nullable measure: null rows survive (three-valued NOT)
    lake_delete(tbl, F.col("qty") > 12000)
    view.refresh()
    return view.read().select("o_orderstatus", "cnt", "avg_qty")


_IVM_AVG_ORACLE = """
WITH u AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              WHEN o_orderkey % 7 = 0 THEN CAST(o_custkey AS BIGINT) + 5
              ELSE CAST(o_custkey AS BIGINT) END AS qty
  FROM orders
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(qty) AS DOUBLE) / COUNT(qty) AS avg_qty
FROM u WHERE qty <= 12000 OR qty IS NULL
GROUP BY o_orderstatus
"""


def rebucket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution under the exact-oracle gate: a table
    created at 2 buckets takes an UPDATE, widens to 8 buckets via
    ``rebucket`` (one atomic rewrite commit — the bucket-count headroom a
    growing table needs at 100×), then takes a MERGE that must prune and
    land against the NEW layout. Final state must equal plain SQL."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        "o_totalprice",
    )
    root = tempfile.mkdtemp(prefix="rebucket_")
    tbl = LakeTable.create(
        spark,
        os.path.join(root, "orders"),
        orders.schema,
        key_cols=["o_orderkey"],
        num_buckets=2,
    )
    tbl.append(orders)
    lake_update(
        tbl,
        {"o_totalprice": F.col("o_totalprice") + 1},
        F.col("o_orderstatus") == "F",
    )
    tbl.rebucket(8)
    src = orders.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        (F.col("o_totalprice") * 0).alias("o_totalprice"),
    )
    merge_into(tbl, src, on=["o_orderkey"], when_matched_update="all")
    return tbl.read().select("o_orderkey", "o_orderstatus", "o_totalprice")


_REBUCKET_ORACLE = """
WITH u AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM orders
)
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
       CASE WHEN o_orderkey % 3 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice
FROM u
"""


def merge_expression_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-ON MERGE parity (SampleCrud.scala:38-65: merge on
    substring(code, 0, 4) of BOTH sides; SnowflakeUtilsOld.scala:84-109
    arbitrary joinCriteria): target keyed by a synthetic code, source codes
    carry a '-v2' suffix, the merge matches on the 9-char prefix; matched
    rows take upper(source code) + source price, unmatched source rows
    insert. Expression ON disables bucket pruning (full-table rewrite)."""
    part = _t(spark, sf_dir, "part")
    code = F.concat(F.lit("P"), F.lpad(F.col("p_partkey").cast("string"), 8, "0"))
    tgt_df = part.where(F.col("p_partkey") <= 1500).select(
        code.alias("code"), F.col("p_retailprice").alias("price")
    )
    src_df = part.where(F.col("p_partkey") % 4 == 0).select(
        F.concat(code, F.lit("-v2")).alias("code"),
        (F.col("p_retailprice") * 2).alias("price"),
    )
    root = tempfile.mkdtemp(prefix="exprmerge_")
    tbl = LakeTable.create(
        spark, os.path.join(root, "t"), tgt_df.schema, key_cols=["code"], num_buckets=4
    )
    tbl.append(tgt_df)
    merge_into(
        tbl,
        src_df,
        on=substring1(F.col("t.code"), 0, 9) == substring1(F.col("s.code"), 0, 9),
        when_matched_update={
            "code": F.upper(F.col("s.code")),
            "price": F.col("s.price"),
        },
    )
    return tbl.read()


_MERGE_EXPR_ORACLE = """
WITH t AS (
  SELECT concat('P', lpad(CAST(p_partkey AS VARCHAR), 8, '0')) AS code,
         p_retailprice AS price
  FROM part WHERE p_partkey <= 1500
), s AS (
  SELECT concat('P', lpad(CAST(p_partkey AS VARCHAR), 8, '0'), '-v2') AS code,
         p_retailprice * 2 AS price
  FROM part WHERE p_partkey % 4 = 0
)
SELECT CASE WHEN t.code IS NOT NULL AND s.code IS NOT NULL THEN upper(s.code)
            WHEN t.code IS NOT NULL THEN t.code ELSE s.code END AS code,
       CASE WHEN t.code IS NOT NULL AND s.code IS NOT NULL THEN s.price
            WHEN t.code IS NOT NULL THEN t.price ELSE s.price END AS price
FROM t FULL JOIN s ON substring(t.code, 1, 9) = substring(s.code, 1, 9)
"""


def ingest_orders_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw→flat ingest parity (IngestOrdersFromRawToFlat.scala:36-98): land a
    JSON-array payload in a raw lake table, consume its stream, flatten
    case-insensitively, MERGE into the flat table; return the flat table."""
    sub = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 100)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )
    payload = "[" + ",".join(sub.toJSON().collect()) + "]"
    root = tempfile.mkdtemp(prefix="ingest_")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    land_raw(spark, os.path.join(root, "raw"), payload)
    ingest_raw_to_flat(
        spark, os.path.join(root, "raw"), os.path.join(root, "flat"),
        schema, merge_keys=["o_orderkey"],
    )
    return LakeTable(spark, os.path.join(root, "flat")).read()


_INGEST_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey < 100
"""


def read_changelog_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed through the oracle gate (§2.11 changelog;
    Snowflake stream parity SnowflakeUtils.scala:46-66): seed a lake table
    from orders, apply ONE MERGE carrying updates + deletes + inserts, and
    return read_changelog's rows for that commit — insert /
    update_postimage / delete recovered by the bucket-scoped snapshot
    diff, exactly SQL-expressible."""
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("price")
    )
    root = tempfile.mkdtemp(prefix="changelog_")
    t = LakeTable.create(
        spark, os.path.join(root, "t"), schema, key_cols=["o_orderkey"], num_buckets=8
    )
    t.append(orders)
    v1 = t.latest_version()
    upd = orders.where(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey", "o_custkey",
        (F.col("price") * 2).alias("price"), F.lit("upsert").alias("op"),
    )
    dele = orders.where(F.col("o_orderkey") % 10 == 7).select(
        "o_orderkey", "o_custkey", "price", F.lit("delete").alias("op")
    )
    ins = orders.where(F.col("o_orderkey") % 10 == 1).select(
        (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("o_orderkey"),
        "o_custkey", (F.col("price") + 1).alias("price"),
        F.lit("upsert").alias("op"),
    )
    merge_into(
        t,
        upd.unionByName(dele).unionByName(ins),
        on=["o_orderkey"],
        when_matched_update="all",
        when_matched_delete=F.col("s.op") == "delete",
    )
    ch = t.read_changelog(v1)
    return ch.select("o_orderkey", "o_custkey", "price", "_change_type")


_CHANGELOG_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders
)
SELECT o_orderkey, o_custkey, price * 2 AS price,
       'update_postimage' AS _change_type
FROM base WHERE o_orderkey % 10 = 3
UNION ALL
SELECT o_orderkey, o_custkey, price, 'delete' AS _change_type
FROM base WHERE o_orderkey % 10 = 7
UNION ALL
SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, price + 1 AS price,
       'insert' AS _change_type
FROM base WHERE o_orderkey % 10 = 1
"""


def changefeed_cursor_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-out through the oracle gate: a named durable ``ChangelogCursor``
    (lake/changefeed.py) drains the table's change feed in single-version
    chunks (poll → ack, conditional-put cursor advance), and the union of
    everything delivered equals the full changelog — the initial append's
    inserts plus one MERGE's insert / update_postimage / delete CDF rows.
    Exercises chunked catch-up and the exactly-once advance protocol.
    Reference parity: the Snowflake stream offset that advances with its
    consuming DML (SnowflakeUtils.scala:46-66)."""
    from techtalk_data_pipeline_snowpark_spark.lake import ChangelogCursor

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    base = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 20000)
        .select(
            "o_orderkey", "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
    )
    root = tempfile.mkdtemp(prefix="changefeed_")
    t = LakeTable.create(
        spark, os.path.join(root, "t"), schema, key_cols=["o_orderkey"], num_buckets=8
    )
    t.append(base)
    upd = base.where(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey", "o_custkey",
        (F.col("price") * 2).alias("price"), F.lit("upsert").alias("op"),
    )
    dele = base.where(F.col("o_orderkey") % 10 == 7).select(
        "o_orderkey", "o_custkey", "price", F.lit("delete").alias("op")
    )
    ins = base.where(F.col("o_orderkey") % 10 == 1).select(
        (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("o_orderkey"),
        "o_custkey", (F.col("price") + 1).alias("price"),
        F.lit("upsert").alias("op"),
    )
    merge_into(
        t,
        upd.unionByName(dele).unionByName(ins),
        on=["o_orderkey"],
        when_matched_update="all",
        when_matched_delete=F.col("s.op") == "delete",
    )
    cur = ChangelogCursor(t, "oracle-gate")
    out = None
    while True:
        batch = cur.poll(max_versions=1)
        if batch is None:
            break
        piece = batch.df.select("o_orderkey", "o_custkey", "price", "_change_type")
        out = piece if out is None else out.unionByName(piece)
        batch.ack()
    return out


_CHANGEFEED_CURSOR_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey < 20000
)
SELECT o_orderkey, o_custkey, price, 'insert' AS _change_type FROM base
UNION ALL
SELECT o_orderkey, o_custkey, price * 2 AS price,
       'update_postimage' AS _change_type
FROM base WHERE o_orderkey % 10 = 3
UNION ALL
SELECT o_orderkey, o_custkey, price, 'delete' AS _change_type
FROM base WHERE o_orderkey % 10 = 7
UNION ALL
SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey, price + 1 AS price,
       'insert' AS _change_type
FROM base WHERE o_orderkey % 10 = 1
"""


_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
    ]
)


def replicate_orders_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once replica maintenance through the oracle gate
    (r4 verdict ask #7): a replica LakeTable is maintained PURELY from the
    source's change feed — ``ChangelogCursor.replicate_to`` drives bounded
    poll → net-change collapse → idempotent keyed MERGE → ack batches —
    across an initial append, a price UPDATE, a DELETE, and a second
    append, with a SIMULATED CRASH in the middle: one batch's merge is
    applied without its ack, so the restart re-receives it (at-least-once)
    and the idempotent MERGE must absorb the duplicate. The entry returns
    the REPLICA's rows; the oracle recomputes the source's final state in
    SQL — replica drift of any kind (lost update, doubled apply, ghost
    delete) fails the hash."""
    from techtalk_data_pipeline_snowpark_spark.lake import ChangelogCursor
    from techtalk_data_pipeline_snowpark_spark.lake.changefeed import net_changes

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    base = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 20000)
        .select(
            "o_orderkey", "o_custkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
    )
    root = tempfile.mkdtemp(prefix="replicate_")
    t = LakeTable.create(
        spark, os.path.join(root, "t"), schema, key_cols=["o_orderkey"], num_buckets=8
    )
    rep = LakeTable.create(
        spark, os.path.join(root, "rep"), schema, key_cols=["o_orderkey"], num_buckets=8
    )
    t.append(base)
    lake_update(t, {"price": F.col("price") * 2}, F.col("o_orderkey") % 10 == 3)
    cur = ChangelogCursor(t, "replica")
    # consume the first commits... then "crash": apply one slice's merge
    # WITHOUT acking it (the process dies between sink and ack)
    cur.replicate_to(rep, max_versions=1, max_batches=2)
    dangling = cur.poll(max_versions=1)
    merge_into(
        rep,
        net_changes(dangling.df, ["o_orderkey"]),
        on=["o_orderkey"],
        when_matched_update="all",
        when_matched_delete=F.col("s._change_type") == "delete",
        when_not_matched_insert=True,
    )
    # no ack — a fresh consumer must redeliver this exact range
    lake_delete(t, F.col("o_orderkey") % 10 == 7)
    t.append(
        base.where(F.col("o_orderkey") % 10 == 1).select(
            (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("o_orderkey"),
            "o_custkey",
            (F.col("price") + 1).alias("price"),
        )
    )
    res = ChangelogCursor(t, "replica").replicate_to(rep)
    assert res["position"] == t.latest_version()
    return rep.read().select("o_orderkey", "o_custkey", "price")


_REPLICATE_ORACLE = """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(o_custkey AS BIGINT) AS o_custkey,
         CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE o_orderkey < 20000
),
mutated AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 10 = 3 THEN price * 2 ELSE price END AS price
  FROM base WHERE o_orderkey % 10 <> 7
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, price + 1
  FROM base WHERE o_orderkey % 10 = 1
)
SELECT o_orderkey, o_custkey, price FROM mutated
"""


def stream_ingest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 stream-on-stage through the oracle gate
    (IngestPaymentsStreamFromStage.scala:32-71): land two JSON-array
    payload files whose row sets OVERLAP (duplicate delivery), drain with
    one availableNow pass, then run a second drain that must be a no-op
    (checkpoint manifest = exactly-once). Final state == distinct input
    rows."""
    from techtalk_data_pipeline_snowpark_spark.streaming.file_ingest import (
        create_stage,
        land_file,
        stream_ingest,
    )

    sub = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )
    rows1 = sub.where(F.col("o_orderkey") < 100)
    rows2 = sub.where(F.col("o_orderkey") >= 50)  # 50-99 delivered twice
    root = tempfile.mkdtemp(prefix="stream_ingest_")
    stage = create_stage(os.path.join(root, "stage"))
    land_file(stage, "[" + ",".join(rows1.toJSON().collect()) + "]")
    land_file(stage, "[" + ",".join(rows2.toJSON().collect()) + "]")
    for _ in range(2):  # second pass: no new files → no effect
        q = stream_ingest(
            spark, stage, os.path.join(root, "cp"), os.path.join(root, "t"),
            _STREAM_SCHEMA, merge_keys=["o_orderkey"],
        )
        q.awaitTermination()
    return LakeTable(spark, os.path.join(root, "t")).read()


_STREAM_INGEST_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders WHERE o_orderkey < 200
"""


def cloud_event_ingest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 notification-driven auto-ingest through the oracle gate
    (Event-grid-template/template.json → Snowpipe): three payload blobs
    land, only two get BlobCreated notifications — the un-notified blob
    must never be read (the whole point of notification-driven ingest at
    cloud scale: no stage listing)."""
    from techtalk_data_pipeline_snowpark_spark.streaming.file_ingest import (
        cloud_event_ingest,
        create_stage,
        land_cloud_event,
        land_file,
    )

    sub = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
    )
    root = tempfile.mkdtemp(prefix="cloud_ingest_")
    blobs = create_stage(os.path.join(root, "blobs"))
    notif = os.path.join(root, "notifications")
    paths = []
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        rows = sub.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
        paths.append(land_file(blobs, "[" + ",".join(rows.toJSON().collect()) + "]"))
    land_cloud_event(notif, paths[0])
    land_cloud_event(notif, paths[1])  # paths[2] never notified → never read
    q = cloud_event_ingest(
        spark, notif, os.path.join(root, "cp"), os.path.join(root, "t"),
        _STREAM_SCHEMA, merge_keys=["o_orderkey"],
    )
    q.awaitTermination()
    return LakeTable(spark, os.path.join(root, "t")).read()


_CLOUD_INGEST_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders WHERE o_orderkey < 200
"""


def employee_industry_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SampleStream J2 parity (SampleStream.scala:65-96): EMPLOYEE joined to
    the INDUSTRY_CODE *stream* (lake incremental scan) on the COMPUTED key
    ``district_code_first2 == substring1(upper(district_code), 0, 2)``,
    appended to EMPLOYEE_INDUSTRY with the offset committing atomically.
    Runs two generation batches + two ticks so the incremental path (not a
    batch join) is what produces the rows. Data derives from testdata
    tables so DuckDB reproduces it: employees ← customer⋈nation, industries
    ← supplier⋈nation with lower-cased district codes."""
    from techtalk_data_pipeline_snowpark_spark.lake import LakeTable
    from techtalk_data_pipeline_snowpark_spark.pipeline.stream_sample import (
        industry_stream_employee,
    )

    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    emp = (
        cust.where(F.col("c_custkey") <= 300)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey").alias("employee_id"),
            F.col("c_name").alias("employee_name"),
            F.upper(substring1(F.lower(F.col("n_name")), 0, 2)).alias(
                "district_code_first2"
            ),
        )
    )
    ind = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).select(
        F.col("s_suppkey").alias("industry_code"),
        F.col("s_name").alias("industry_name"),
        F.lower(F.col("n_name")).alias("district_code"),
    )
    root = tempfile.mkdtemp(prefix="empind_")
    et = LakeTable.create(spark, os.path.join(root, "employee"), emp.schema)
    et.append(emp)
    it = LakeTable.create(spark, os.path.join(root, "industry_code"), ind.schema)
    # two appends + a tick after each — the second tick must consume ONLY
    # batch 2 (incremental), yet the final table equals the full batch join
    it.append(ind.where(F.col("industry_code") % 2 == 0))
    industry_stream_employee(spark, root)
    it.append(ind.where(F.col("industry_code") % 2 == 1))
    industry_stream_employee(spark, root)
    return LakeTable(spark, os.path.join(root, "employee_industry")).read()


_EMPLOYEE_INDUSTRY_ORACLE = """
WITH emp AS (
  SELECT c_custkey AS employee_id, c_name AS employee_name,
         upper(substring(lower(n_name), 1, 2)) AS district_code_first2
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WHERE c_custkey <= 300
), ind AS (
  SELECT s_suppkey AS industry_code, s_name AS industry_name,
         lower(n_name) AS district_code
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
)
SELECT e.employee_id, e.employee_name, e.district_code_first2,
       i.industry_code, i.industry_name, i.district_code
FROM emp e JOIN ind i
  ON e.district_code_first2 = substring(upper(i.district_code), 1, 2)
"""


# --------------------------------------------------- training-data ops

def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


_EXACT_DEDUP_ORACLE = """
SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (training-data ops)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("ws_tokens"),
        bpe_ish_token_count("text").cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


_TOKEN_STATS_ORACLE = r"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


_SQL_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los", "por", "con"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "est", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit", "ein", "auf"],
}


def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion counts: heuristic stopword argmax vs the
    stored label."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(
        lang_id("text").alias("lang_pred"), F.col("lang").alias("lang_true")
    ).agg(F.count(F.lit(1)).alias("n"))


def _lang_id_oracle() -> str:
    score = {
        lang: (
            "len(list_intersect(regexp_split_to_array(lower(trim(text)), '\\s+'), ["
            + ", ".join(f"'{w}'" for w in ws)
            + "]))"
        )
        for lang, ws in _SQL_STOPWORDS.items()
    }
    best = f"greatest({score['en']}, {score['es']}, {score['fr']}, {score['de']})"
    # tie-break mirrors Spark array_max over (score, lang) structs:
    # larger lang string wins ties → probe fr, es, en, de in that order.
    pred = f"""CASE WHEN {best} = 0 THEN 'unknown'
        WHEN {score['fr']} = {best} THEN 'fr'
        WHEN {score['es']} = {best} THEN 'es'
        WHEN {score['en']} = {best} THEN 'en'
        ELSE 'de' END"""
    return f"""
SELECT {pred} AS lang_pred, lang AS lang_true, count(*) AS n
FROM documents GROUP BY 1, 2
"""


def quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.round(quality_score("text"), 6).alias("quality"))


_QUALITY_ORACLE = r"""
WITH q AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
         CAST(length(regexp_replace(text, '[^\.,;:!\?]', '', 'g')) AS DOUBLE) AS punct,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS words
  FROM documents
)
SELECT doc_id,
       round(
         (CASE WHEN n >= 64 AND n <= 100000 THEN 1.0 ELSE 0.5 END) * 0.25
         + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.35
         + (CASE WHEN n > 0 THEN 1.0 - least(punct / n * 5, 1.0) ELSE 0.0 END) * 0.2
         + (CASE WHEN (CASE WHEN words > 0 THEN n / words ELSE 0.0 END) >= 3
                  AND (CASE WHEN words > 0 THEN n / words ELSE 0.0 END) <= 12
             THEN 1.0 ELSE 0.5 END) * 0.2,
         6) AS quality
FROM q
"""


def doc_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: sha256 of canonicalized content (CRLF→LF,
    trailing-whitespace strip, single trailing newline)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", sha256_hex(canonicalize_content_sql("text")).alias("fingerprint")
    )


_FINGERPRINT_ORACLE = r"""
SELECT doc_id,
       sha256(
         regexp_replace(
           regexp_replace(
             regexp_replace(regexp_replace(text, '\r\n', chr(10), 'g'), '\r', chr(10), 'g'),
             '[ \t]+\n', chr(10), 'g'),
           '[ \t\n]+$', '', 'g') || chr(10)
       ) AS fingerprint
FROM documents
"""


def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap sessions via the built-in F.session_window (the batch+
    streaming scale path; Catalyst session-window aggregation). Boundary:
    a new session when the inter-event gap >= 1800s."""
    from techtalk_data_pipeline_snowpark_spark.operators.sessions import (
        session_window_stats,
    )

    ev = _t(spark, sf_dir, "events")
    return session_window_stats(ev, gap_seconds=1800)


_SESSION_WINDOW_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS secs
  FROM events
), flagged AS (
  SELECT *, CASE WHEN lag(secs) OVER w IS NULL
                  OR secs - lag(secs) OVER w >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
  WINDOW w AS (PARTITION BY user_id ORDER BY secs, event_id)
), sessioned AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY secs, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, min(secs) AS start_s, max(secs) AS end_s,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM sessioned GROUP BY user_id, session_idx
"""


# ----------------------------------------------------- similarity search

def _as_double(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): broadcast the small
    query side, score JVM-side, two-stage top-k (per-partition local top-k
    before the final per-query window — no task ever holds the full scored
    set; operators/similarity.py). Cosine rounded to 9dp before ranking
    (id tie-break) so ranks are engine-independent."""
    from techtalk_data_pipeline_snowpark_spark.operators.similarity import (
        cosine_topk_brute,
    )

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("embedding")
    )
    q = emb.where(F.col("vec_id") < 20)
    return cosine_topk_brute(emb, q, k=5, round_digits=9).select(
        "query_id", "neighbor_id",
        F.col("cosine").alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


_COSINE_TOPK_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 9) AS cos_sim
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 20
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def embedding_near_dups_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (threshold on rounded cosine)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    a = emb.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 9).alias("cos_sim"))
        .where(F.col("cos_sim") >= 0.4)
    )


_NEAR_DUPS_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 9) >= 0.4
"""


def asof_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (temporal) join: every purchase event enriched with the same
    user's most recent click at or before the purchase timestamp — the
    classic last-touch attribution query. Distributed via the
    union-marker + running-``last`` window construction (operators/
    asof.py): one shuffle on the key, no range-join explosion. Oracle is
    DuckDB's native ASOF LEFT JOIN over the identically-deduplicated
    right side. Beyond-reference operator (no temporal join in the
    reference or in Spark 4)."""
    from techtalk_data_pipeline_snowpark_spark.operators import asof_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    return asof_join(purch, clicks, on="user_id", right_prefix="click_")


_ASOF_ATTRIBUTION_ORACLE = """
WITH purch AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, max(value) AS value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.ts AS click_ts, c.value AS click_value
FROM purch p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def interval_join_error_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join through the oracle gate: count error events
    inside each user's click session (7-day gap). The grid-bucketed
    ``interval_join`` (operators/interval.py) turns the key+range
    predicate into a plain equi-join on (key, time cell) + exact
    containment filter — no per-key nested loop, explosion bounded by
    span/granularity. Oracle is the same sessionization CTE plus a plain
    inequality join (exact at sf0.01 scale). Beyond-reference operator
    (no range join in the reference or Spark's equi-join planner)."""
    from techtalk_data_pipeline_snowpark_spark.operators.interval import interval_join
    from techtalk_data_pipeline_snowpark_spark.operators.sessions import session_stats

    clicks = _t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    sess = session_stats(clicks, gap_seconds=604800).select(
        "user_id", "session_idx", "start_s", "end_s"
    )
    # fresh scan: same-lineage self-joins collapse e.user_id == s.user_id
    # into one attribute (trivially true predicate)
    errs = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp(F.col("ts").cast("timestamp")).alias("ts_s"),
        )
    )
    return interval_join(errs, sess, on="user_id", granularity=86400).groupBy(
        "user_id", "session_idx"
    ).agg(F.count(F.lit(1)).alias("n_errors"))


_INTERVAL_JOIN_ORACLE = """
WITH clicks AS (
  SELECT user_id, event_id,
         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS secs
  FROM events WHERE event_type = 'click'
), flagged AS (
  SELECT *, CASE WHEN lag(secs) OVER w IS NULL
                  OR secs - lag(secs) OVER w > 604800 THEN 1 ELSE 0 END AS new_s
  FROM clicks
  WINDOW w AS (PARTITION BY user_id ORDER BY secs, event_id)
), sessioned AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY secs, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
), sess AS (
  SELECT user_id, session_idx, min(secs) AS start_s, max(secs) AS end_s
  FROM sessioned GROUP BY user_id, session_idx
), errs AS (
  SELECT user_id,
         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS secs
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id, s.session_idx, CAST(count(*) AS BIGINT) AS n_errors
FROM errs e JOIN sess s
  ON e.user_id = s.user_id AND e.secs BETWEEN s.start_s AND s.end_s
GROUP BY s.user_id, s.session_idx
"""


def session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) + per-session aggs."""
    from techtalk_data_pipeline_snowpark_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, gap_seconds=1800)


_SESSIONS_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, value,
         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS secs
  FROM events
), flagged AS (
  SELECT *, CASE WHEN lag(secs) OVER w IS NULL
                  OR secs - lag(secs) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
  WINDOW w AS (PARTITION BY user_id ORDER BY secs, event_id)
), sessioned AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY secs, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(secs) AS start_s, max(secs) AS end_s,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM sessioned GROUP BY user_id, session_idx
"""


def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dups over deterministic token-prefix
    blocks — the oracle-checked member of the dedup family (minhash/simhash
    entries are xxhash64-based and rows-only). Blocking, the block-size
    cap, 3-word shingling, and the Jaccard itself all have exact SQL twins.
    """
    docs = _t(spark, sf_dir, "documents")
    return blocked_jaccard_near_dups(docs, "doc_id", "text", threshold=0.4)


_NGRAM_JACCARD_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         array_to_string(toks[1:2], ' ') AS blk,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks)-2, 1)+1)]) AS sh
  FROM t
), capped AS (
  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY blk) AS _bs FROM s)
  WHERE _bs <= 64
)
SELECT a.doc_id AS a, b.doc_id AS b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM capped a JOIN capped b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
"""


def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the jaccard pair graph closed into connected
    components (alternating large/small-star — `operators/components.py`),
    every document labelled with its component's minimum doc_id and a
    canonical flag. The oracle closes the SAME pair graph with a recursive
    CTE (transitive closure → min reachable id), so the distributed
    star-contraction is checked against declarative SQL semantics."""
    docs = _t(spark, sf_dir, "documents")
    pairs = blocked_jaccard_near_dups(docs, "doc_id", "text", threshold=0.4)
    return assign_components(docs, pairs, "doc_id")


_DEDUP_CLUSTERS_ORACLE = r"""
WITH RECURSIVE t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         array_to_string(toks[1:2], ' ') AS blk,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks)-2, 1)+1)]) AS sh
  FROM t
), capped AS (
  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY blk) AS _bs FROM s)
  WHERE _bs <= 64
), pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM capped a JOIN capped b ON a.blk = b.blk AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
), edges AS (
  SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs
), reach(n, m) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n AS doc_id, least(n, min(m)) AS cluster_id FROM reach GROUP BY n
)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SALT = "r5"


def hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: md5(id||salt) prefix vs
    lexicographic hex thresholds (`operators/sharding.py`). Pure function
    of the id — stable across runs, cluster sizes, and row order; map-only,
    zero shuffle. The oracle runs the IDENTICAL CASE expression in DuckDB,
    so the cross-engine hash-prefix semantics are value-checked."""
    docs = _t(spark, sf_dir, "documents")
    return hash_split(
        docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT
    ).select("doc_id", "split")


def _hash_split_oracle() -> str:
    case = hash_split_oracle_case("CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT)
    return f"SELECT doc_id, {case} AS split FROM documents"


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination composed with the deterministic split:
    the 'test' split acts as the benchmark, and every 'train' document is
    flagged if it shares any word 4-gram with it
    (`operators/decontaminate.py` — explode → BROADCAST semi-join, no
    big-side shuffle). The oracle recomputes the same split, shingles, and
    overlap declaratively in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    labelled = hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
    train = labelled.where(F.col("split") == "train")
    bench = labelled.where(F.col("split") == "test")
    return flag_contaminated(train, bench, "doc_id", "text", n=4).select(
        "doc_id", "contaminated"
    )


def _decontaminate_oracle() -> str:
    case = hash_split_oracle_case("CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _SPLIT_SALT)
    return rf"""
WITH labelled AS (SELECT doc_id, text, {case} AS split FROM documents),
toks AS (SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
         FROM labelled),
sh AS (SELECT doc_id, split,
              list_distinct([array_to_string(toks[i:i+3], ' ')
                             FOR i IN range(1, greatest(len(toks)-3, 1)+1)]) AS grams
       FROM toks),
bg AS (SELECT DISTINCT gram FROM (SELECT unnest(grams) AS gram FROM sh WHERE split='test')),
tg AS (SELECT DISTINCT doc_id, unnest(grams) AS gram FROM sh WHERE split='train'),
hits AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (gram))
SELECT s.doc_id, s.doc_id IN (SELECT doc_id FROM hits) AS contaminated
FROM sh s WHERE s.split = 'train'
"""


_MIX_WEIGHTS = {"en": 0.5, "zh": 2.5, "fr": 0.25, "de": 1.5}


def mixture_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data-mixture resampling: per-lang weights both down-
    sample (w<1: md5-threshold keep) and upsample (w>1: floor(w) copies +
    one hash-gated extra), map-only with no shuffle
    (`operators/sharding.py`). The oracle runs the identical CASE +
    range-unnest in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return mixture_resample(
        docs, "lang", _MIX_WEIGHTS, "doc_id", salt="mix5"
    ).select("doc_id", "lang", "copy_id")


def _mixture_oracle() -> str:
    return mixture_resample_oracle(
        "documents", "lang", _MIX_WEIGHTS, "doc_id", salt="mix5",
        select=["doc_id", "lang"],
    )


_PACK_BUDGET = 2000


def pack_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: shard = floor(exclusive-prefix-sum of
    whitespace tokens in doc_id order / budget). Spark side is the
    DISTRIBUTED two-phase prefix sum (range repartition + per-partition
    offsets — no global single-partition window; `operators/sharding.py`);
    the oracle is the textbook global window, so the distributed
    decomposition is checked against the declarative definition."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("ws_tokens")
    )
    packed = pack_shards(docs, "doc_id", "ws_tokens", budget=_PACK_BUDGET)
    return packed.select("doc_id", "ws_tokens", "shard_id")


_PACK_SHARDS_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS ws_tokens
  FROM documents
)
SELECT doc_id, ws_tokens,
       CAST(floor(COALESCE(SUM(ws_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {_PACK_BUDGET}) AS BIGINT) AS shard_id
FROM toks
"""


_SEQ_LEN = 4096


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (`operators/sharding.py pack_sequences`):
    documents laid end to end in doc_id order, the token stream cut into
    fixed 4096-token windows — every doc gets its (seq_id, seq_offset,
    n_seqs spanned) deterministically. Same distributed two-phase prefix
    sum as pack_shards; the chunk arithmetic is pure integers, checked
    against the textbook global-window definition in DuckDB."""
    from techtalk_data_pipeline_snowpark_spark.operators.sharding import (
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("tokens")
    )
    packed = pack_sequences(docs, "doc_id", "tokens", _SEQ_LEN)
    return packed.select("doc_id", "tokens", "seq_id", "seq_offset", "n_seqs")


_PACK_SEQUENCES_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS tokens
  FROM documents
),
p AS (
  SELECT doc_id, tokens,
         CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
  FROM t
)
SELECT doc_id, tokens,
       pre // {_SEQ_LEN} AS seq_id,
       pre % {_SEQ_LEN} AS seq_offset,
       CASE WHEN tokens > 0
            THEN (pre + tokens - 1) // {_SEQ_LEN} - pre // {_SEQ_LEN} + 1
            ELSE 0 END AS n_seqs
FROM p
"""


def shuffle_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffle (`operators/sharding.py deterministic_shuffle`): a
    deterministic pseudorandom global ordering — rank = position in
    md5(id‖salt) order, identical on every worker/run/cluster size, a new
    salt per epoch. Spark side is the distributed two-phase prefix COUNT
    (no global sorted task); the oracle is the textbook row_number over
    the same key."""
    from techtalk_data_pipeline_snowpark_spark.operators.sharding import (
        deterministic_shuffle,
    )

    docs = _t(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, "doc_id", salt="ep1").select(
        "doc_id", "shuffle_rank"
    )


_SHUFFLE_RANK_ORACLE = """
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || 'ep1') || '-'
                  || lpad(CAST(doc_id AS VARCHAR), 24, '0')
       ) - 1 AS BIGINT) AS shuffle_rank
FROM documents
"""


_CHUNK_W, _CHUNK_S = 24, 16


def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token windowing (`operators/sharding.py
    chunk_documents`): each document cut into 24-token windows advancing
    16 tokens (8-token overlap), never mixing documents — the long-context
    / embedding-index chunking step, complementary to pack_sequences'
    concat-then-chunk. Map-only JVM expressions (zero shuffles); the
    oracle replays the identical strip/split/slice arithmetic."""
    from techtalk_data_pipeline_snowpark_spark.operators.sharding import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", _CHUNK_W, _CHUNK_S).select(
        "doc_id", "chunk_id", "chunk_text", "n_tokens"
    )


def _chunk_docs_oracle() -> str:
    from techtalk_data_pipeline_snowpark_spark.operators.sharding import (
        chunk_documents_oracle,
    )

    return chunk_documents_oracle("documents", "doc_id", "text", _CHUNK_W, _CHUNK_S)


_KM_K, _KM_ITERS, _KM_SALT, _KM_SCALE, _KM_D = 8, 2, "kmeans-r5", 10_000, 64
_KM_NUM, _KM_DEN = 2, 5  # semantic near-dup threshold cos >= 2/5


def kmeans_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quantized k-means over the embeddings table
    (`operators/clustering.py kmeans_fit`): components floor-quantized
    to an int64 grid so distances, argmin, and floor(sum/count) centroid
    updates are EXACT integer arithmetic — assignments are bit-identical
    on every partitioning and cluster size (float k-means is not), which
    is what lets the oracle unroll the same two Lloyd iterations in
    DuckDB. Assignment is map-only JVM folds against broadcast centroid
    literals; each update shuffles ≤ k·d partial-agg rows per task."""
    from techtalk_data_pipeline_snowpark_spark.operators import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    asg, _ = kmeans_fit(
        emb, "vec_id", "embedding", _KM_K, _KM_ITERS, _KM_SALT, _KM_SCALE
    )
    return asg.select("vec_id", "cluster", "dist_sq")


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
    then flag near-duplicate pairs only WITHIN a cluster — the quadratic
    corpus self-join becomes k bounded cluster-local joins. The cosine
    threshold is cross-multiplied into 128-bit integers
    (den²·dot² ≥ num²·|a|²·|b|², dot > 0: DECIMAL(38,0) here, HUGEINT in
    the oracle) so the pair set is engine-exact, no float rounding."""
    from techtalk_data_pipeline_snowpark_spark.operators import (
        kmeans_fit,
        semantic_near_dups,
    )

    emb = _t(spark, sf_dir, "embeddings")
    asg, _ = kmeans_fit(
        emb, "vec_id", "embedding", _KM_K, _KM_ITERS, _KM_SALT, _KM_SCALE
    )
    return semantic_near_dups(asg, "vec_id", (_KM_NUM, _KM_DEN))


_KM_NPROBE, _KM_TOPK = 2, 5


def ann_kmeans_ivf_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE IVF ANN (`operators/similarity.py cosine_topk_kmeans_ivf`):
    corpus assigned once to its nearest quantized-k-means centroid, each
    query probes its 2 nearest centroids and ranks only those clusters'
    members by cosine — the FAISS coarse-quantizer shape. Candidate
    selection is exact int64 arithmetic, so unlike the hyperplane-LSH
    `cosine_topk_ann` (declared rows-only) this ANN entry has an EXACT
    oracle: DuckDB replays the same k-means, the same probe argsort, and
    the same rounded-cosine ranking."""
    from techtalk_data_pipeline_snowpark_spark.operators import (
        cosine_topk_kmeans_ivf,
        kmeans_fit,
    )

    emb = _t(spark, sf_dir, "embeddings")
    _, cents = kmeans_fit(
        emb, "vec_id", "embedding", _KM_K, _KM_ITERS, _KM_SALT, _KM_SCALE
    )
    q = emb.where(F.col("vec_id") < 20)
    return cosine_topk_kmeans_ivf(
        emb, q, cents, k=_KM_TOPK, nprobe=_KM_NPROBE, scale=_KM_SCALE
    )


def _kmeans_cte() -> str:
    """WITH-clause replaying kmeans_fit exactly in DuckDB: quantize,
    md5-seeded init, then _KM_ITERS unrolled (assign → floor-mean
    update with empty-cluster carry) ending at asg{_KM_ITERS}."""
    dsq = (
        "CAST(list_sum(list_transform(list_zip(q.v, ct.v),"
        " s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
    )

    def asg_cte(n: int) -> str:
        return f"""asg{n} AS (
  SELECT vec_id, c, dist FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
    FROM (SELECT q.vec_id, ct.c, {dsq} AS dist FROM q CROSS JOIN cent{n} ct) d)
  WHERE rn = 1)"""

    def upd_cte(n: int) -> str:
        return f"""upd{n + 1} AS (
  SELECT a.c, t.i AS pos,
         CAST(floor(sum(q.v[t.i + 1])::DOUBLE / count(*)) AS BIGINT) AS val
  FROM asg{n} a JOIN q USING (vec_id) CROSS JOIN range({_KM_D}) t(i)
  GROUP BY a.c, t.i),
cent{n + 1} AS (
  SELECT p.c, coalesce(nw.v, p.v) AS v
  FROM cent{n} p LEFT JOIN
    (SELECT c, list(val ORDER BY pos) AS v FROM upd{n + 1} GROUP BY c) nw
    USING (c))"""

    parts = [
        f"""q AS (
  SELECT vec_id, list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS v
  FROM embeddings),
cent0 AS (
  SELECT CAST(rn - 1 AS BIGINT) AS c, v FROM (
    SELECT v, row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR) || '{_KM_SALT}'), vec_id) AS rn
    FROM q)
  WHERE rn <= {_KM_K})"""
    ]
    for i in range(_KM_ITERS):
        parts.append(asg_cte(i))
        parts.append(upd_cte(i))
    parts.append(asg_cte(_KM_ITERS))
    return "WITH " + ",\n".join(parts)


def _kmeans_oracle() -> str:
    return (
        _kmeans_cte()
        + f"\nSELECT vec_id, c AS cluster, dist AS dist_sq FROM asg{_KM_ITERS}"
    )


def _semantic_dedup_oracle() -> str:
    return (
        _kmeans_cte()
        + f""",
mem AS (SELECT a.vec_id, a.c, q.v FROM asg{_KM_ITERS} a JOIN q USING (vec_id)),
raw AS (
  SELECT x.vec_id AS a, y.vec_id AS b, x.c AS cluster,
         CAST(list_sum(list_transform(list_zip(x.v, y.v),
              s -> s[1] * s[2])) AS BIGINT) AS dot,
         CAST(list_sum(list_transform(x.v, e -> e * e)) AS BIGINT) AS na2,
         CAST(list_sum(list_transform(y.v, e -> e * e)) AS BIGINT) AS nb2
  FROM mem x JOIN mem y ON x.c = y.c AND x.vec_id < y.vec_id)
SELECT a, b, cluster, dot FROM raw
WHERE dot > 0
  AND {_KM_DEN * _KM_DEN}::HUGEINT * dot::HUGEINT * dot::HUGEINT
      >= {_KM_NUM * _KM_NUM}::HUGEINT * na2::HUGEINT * nb2::HUGEINT
"""
    )


def _ann_kmeans_ivf_oracle() -> str:
    dsq = (
        "CAST(list_sum(list_transform(list_zip(q.v, ct.v),"
        " s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)"
    )
    return (
        _kmeans_cte()
        + f""",
e AS (SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
qp AS (
  SELECT vec_id AS query_id, c AS cluster FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
    FROM (SELECT q.vec_id, ct.c, {dsq} AS dist
          FROM q CROSS JOIN cent{_KM_ITERS} ct WHERE q.vec_id < 20) d)
  WHERE rn <= {_KM_NPROBE}),
cand AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id
  FROM qp JOIN asg{_KM_ITERS} a ON a.c = qp.cluster AND a.vec_id <> qp.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(qe.ve, ne.ve)
               / (sqrt(list_dot_product(qe.ve, qe.ve))
                  * sqrt(list_dot_product(ne.ve, ne.ve))), 9) AS cos_sim
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ne ON ne.vec_id = c.neighbor_id),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_KM_TOPK}
"""
    )


# ------------------------------------- non-SQL-expressible (rows-only)

def minhash_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (bucket-join candidates → verified
    Jaccard). xxhash64-based — no SQL oracle."""
    docs = _t(spark, sf_dir, "documents")
    out = minhash_near_dups(docs, "doc_id", "text", threshold=0.3)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (bit-plane sums in one wide agg)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash64(docs, "doc_id", "text")


def cosine_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-bucketed approximate top-k (the 100TB-scale ANN path)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    return cosine_topk_ivf(emb, q, k=5, num_planes=4, multiprobe=2).select(
        "query_id", "neighbor_id",
        F.round("cosine", 6).alias("cos_sim"), F.col("rank").cast("long").alias("rank"),
    )


# ---------------------------------------- corpus hygiene + metadata agg

def repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition measures (`operators/quality.py`): exact
    integer duplicate-token / top-2-gram / duplicate-3-gram counts per
    document plus the integer-arithmetic `repetitive` flag. Map-only JVM
    higher-order aggregates over the SORTED gram array — no explode, no
    shuffle, no Python (the within-row run-length counting never pays a
    (doc, gram) shuffle). The oracle recomputes via unnest + GROUP BY in
    DuckDB; all compared values are integers/booleans, so no float drift
    can exist."""
    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs).select(
        "doc_id", "n_tokens", "n_distinct_tokens", "n_2grams",
        "top_2gram_count", "n_3grams", "dup_3gram_count", "repetitive",
    )


_REPETITION_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
g AS (
  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct_tokens,
         [array_to_string(t[i:i+1], ' ') FOR i IN range(1, greatest(len(t)-1, 1)+1)] AS g2,
         [array_to_string(t[i:i+2], ' ') FOR i IN range(1, greatest(len(t)-2, 1)+1)] AS g3
  FROM toks
),
c2 AS (
  SELECT doc_id, max(cnt) AS top_2gram_count FROM (
    SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
    GROUP BY doc_id, gram) GROUP BY doc_id
),
c3 AS (
  SELECT doc_id, coalesce(sum(cnt) FILTER (cnt >= 2), 0) AS dup_3gram_count FROM (
    SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id, unnest(g3) AS gram FROM g)
    GROUP BY doc_id, gram) GROUP BY doc_id
)
SELECT g.doc_id, n_tokens, n_distinct_tokens, len(g2) AS n_2grams, top_2gram_count,
       len(g3) AS n_3grams, dup_3gram_count,
       (top_2gram_count * 5 > len(g2)) OR (dup_3gram_count * 2 > len(g3)) AS repetitive
FROM g JOIN c2 USING (doc_id) JOIN c3 USING (doc_id)
"""


def redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (`operators/quality.py`): emails / IPv4s / phone
    numbers → placeholder tags with per-doc match counts, pure JVM
    `regexp_replace`/`regexp_count` (map-only, zero Python). The corpus
    has no organic PII, so the entry PLANTS deterministic PII by doc_id
    residue; the oracle plants identically and replays the same
    RE2-compatible patterns with DuckDB's regexp functions."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" mail a.b@ex-7.org now")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" host 10.0.0.8 up")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" call 555-123-4567 x")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(planted).select("doc_id", "text", "n_email", "n_ipv4", "n_phone")


def _redact_oracle() -> str:
    e, i4, ph = PII_PATTERNS["email"], PII_PATTERNS["ipv4"], PII_PATTERNS["phone"]
    return rf"""
WITH planted AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 7 = 0 THEN ' mail a.b@ex-7.org now' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.0.8 up' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' call 555-123-4567 x' ELSE '' END AS text
  FROM documents
),
s1 AS (SELECT doc_id, len(regexp_extract_all(text, '{e}')) AS n_email,
              regexp_replace(text, '{e}', '<EMAIL>', 'g') AS t1 FROM planted),
s2 AS (SELECT doc_id, n_email, len(regexp_extract_all(t1, '{i4}')) AS n_ipv4,
              regexp_replace(t1, '{i4}', '<IPV4>', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, n_email, n_ipv4, len(regexp_extract_all(t2, '{ph}')) AS n_phone,
              regexp_replace(t2, '{ph}', '<PHONE>', 'g') AS text FROM s2)
SELECT doc_id, text, n_email, n_ipv4, n_phone FROM s3
"""


def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level duplicate-line removal
    (`operators/linedup.py`): docs re-chunked into 6-word pseudo-lines
    (the corpus has no natural line breaks), then every line occurrence
    except the corpus-wide first (doc_id, pos) is dropped and docs are
    reassembled. The skew-load-bearing winner reduction is a PARTIAL
    aggregation (map-side combine), never a window sort. The oracle
    recomputes chunking + first-occurrence + reassembly declaratively in
    DuckDB (row_number over the total (doc_id, pos) order)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", chunk_words_as_lines("text", 6).alias("text")
    )
    return remove_duplicate_lines(docs, "doc_id").select(
        "doc_id", "text", "n_lines_kept", "n_lines_dropped"
    )


_LINE_DEDUP_ORACLE = r"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
ch AS (SELECT doc_id,
         [array_to_string(tk[1+j*6 : (j+1)*6], ' ') FOR j IN range(0, (len(tk)+5)//6)] AS lines
       FROM t),
ln AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
         SELECT doc_id,
                unnest([{'pos': i, 'line': lines[i]} FOR i IN range(1, len(lines)+1)]) AS u
         FROM ch)),
rk AS (SELECT doc_id, pos, line,
              row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM ln),
kept AS (SELECT doc_id, pos, line FROM rk WHERE length(line) < 1 OR rn = 1),
agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
               count(*) AS n_lines_kept FROM kept GROUP BY doc_id)
SELECT c.doc_id, coalesce(a.text, '') AS text,
       coalesce(a.n_lines_kept, 0) AS n_lines_kept,
       len(c.lines) - coalesce(a.n_lines_kept, 0) AS n_lines_dropped
FROM ch c LEFT JOIN agg a USING (doc_id)
"""


def metadata_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT/MIN/MAX (`lake/metaquery.py`) — the Snowflake
    micro-partition-metadata answer path the reference gets for free
    (IngestRatingsFromRawToFlat.scala:71 df.count() round-trips): orders land in a lake table,
    a copy-on-write DELETE rewrites some files (stats refresh with the
    rewrite), and the three classic aggregates fold from the snapshot
    manifest in O(live files) with ZERO data I/O. The entry FAILS if the
    metadata path was not actually provable (None = would have scanned)."""
    orders = _t(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="metaagg_")
    t = LakeTable.create(
        spark, root, orders.schema, key_cols=["o_orderkey"], num_buckets=8
    )
    t.append(orders)
    lake_delete(t, F.col("o_orderkey") % 97 == 0, mode="cow")
    r = metadata_aggregate(
        t, min_of=["o_orderkey", "o_totalprice"], max_of=["o_orderkey", "o_totalprice"]
    )
    if r is None:
        raise AssertionError("metadata_aggregate fell back to scan after COW delete")
    return spark.createDataFrame(
        [
            (
                r["count"],
                r["min"]["o_orderkey"],
                r["max"]["o_orderkey"],
                r["min"]["o_totalprice"],
                r["max"]["o_totalprice"],
            )
        ],
        "cnt: long, min_key: long, max_key: long, min_price: double, max_price: double",
    )


_METADATA_AGG_ORACLE = """
SELECT count(*) AS cnt,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
FROM orders WHERE NOT (o_orderkey % 97 = 0)
"""


_PIPE_SALT = "pipe5"


def corpus_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composed training-data pipeline — the Dolma/C4 hygiene
    chain run END-TO-END with exact cross-engine parity: (1) Gopher
    repetition filter drops boilerplate docs, (2) C4-style corpus-level
    line dedup removes every non-first 6-word pseudo-line occurrence
    among survivors, (3) deterministic hash split labels train/val/test,
    (4) the held-out 'test' split decontaminates 'train' by word-4-gram
    overlap OVER THE DEDUPED TEXT. Every stage is the library operator
    (`quality`/`linedup`/`sharding`/`decontaminate`); the oracle chains
    the four declarative equivalents in one DuckDB query, so schema
    compatibility AND value semantics of the composition are gated, not
    just each stage in isolation."""
    docs = _t(spark, sf_dir, "documents")
    clean = repetition_stats(docs).where(~F.col("repetitive")).select("doc_id", "text")
    chunked = clean.select("doc_id", chunk_words_as_lines("text", 6).alias("text"))
    deduped = remove_duplicate_lines(chunked, "doc_id")
    # barrier: the contamination probe references the labelled corpus three
    # times (train grams, bench grams, flag join-back) — without it the
    # whole repetition+line-dedup chain executes three times in one job
    # (eager localCheckpoint, not persist: no CacheManager entry to leak)
    labelled = hash_split(deduped, "doc_id", _SPLIT_WEIGHTS, salt=_PIPE_SALT).localCheckpoint(eager=True)
    train = labelled.where(F.col("split") == "train")
    bench = labelled.where(F.col("split") == "test")
    return flag_contaminated(train, bench, "doc_id", "text", n=4).select(
        "doc_id", "n_lines_kept", "contaminated"
    )


def _corpus_pipeline_oracle() -> str:
    case = hash_split_oracle_case("CAST(doc_id AS VARCHAR)", _SPLIT_WEIGHTS, _PIPE_SALT)
    return rf"""
WITH toks0 AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
g AS (
  SELECT doc_id,
         [array_to_string(t[i:i+1], ' ') FOR i IN range(1, greatest(len(t)-1, 1)+1)] AS g2,
         [array_to_string(t[i:i+2], ' ') FOR i IN range(1, greatest(len(t)-2, 1)+1)] AS g3
  FROM toks0
),
c2 AS (SELECT doc_id, max(cnt) AS top2 FROM (
  SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
  GROUP BY doc_id, gram) GROUP BY doc_id),
c3 AS (SELECT doc_id, coalesce(sum(cnt) FILTER (cnt >= 2), 0) AS dup3 FROM (
  SELECT doc_id, gram, count(*) AS cnt FROM (SELECT doc_id, unnest(g3) AS gram FROM g)
  GROUP BY doc_id, gram) GROUP BY doc_id),
clean AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN g USING (doc_id) JOIN c2 USING (doc_id) JOIN c3 USING (doc_id)
  WHERE NOT ((top2 * 5 > len(g2)) OR (dup3 * 2 > len(g3)))
),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM clean),
ch AS (SELECT doc_id,
         [array_to_string(tk[1+j*6 : (j+1)*6], ' ') FOR j IN range(0, (len(tk)+5)//6)] AS lines
       FROM tk),
ln AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
         SELECT doc_id,
                unnest([{{'pos': i, 'line': lines[i]}} FOR i IN range(1, len(lines)+1)]) AS u
       FROM ch)),
rk AS (SELECT doc_id, pos, line,
              row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM ln),
kept AS (SELECT doc_id, pos, line FROM rk WHERE length(line) < 1 OR rn = 1),
dedup AS (SELECT c.doc_id,
                 coalesce(string_agg(k.line, chr(10) ORDER BY k.pos), '') AS text,
                 count(k.line) AS n_lines_kept
          FROM ch c LEFT JOIN kept k USING (doc_id) GROUP BY c.doc_id),
labelled AS (SELECT doc_id, text, n_lines_kept, {case} AS split FROM dedup),
sh AS (SELECT doc_id, split,
              list_distinct([array_to_string(tt[i:i+3], ' ')
                             FOR i IN range(1, greatest(len(tt)-3, 1)+1)]) AS grams
       FROM (SELECT doc_id, split, regexp_split_to_array(trim(lower(text)), '\s+') AS tt
             FROM labelled)),
bg AS (SELECT DISTINCT gram FROM (SELECT unnest(grams) AS gram FROM sh WHERE split='test')),
tg AS (SELECT DISTINCT doc_id, unnest(grams) AS gram FROM sh WHERE split='train'),
hits AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (gram))
SELECT l.doc_id, l.n_lines_kept,
       l.doc_id IN (SELECT doc_id FROM hits) AS contaminated
FROM labelled l WHERE l.split = 'train'
"""


def frequent_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the corpus's word 2-grams
    (`operators/heavyhitters.py`): values occurring in > 0.13% of all
    gram occurrences, with exact counts. Phase 1 finds candidates
    MAP-ONLY (per-partition exact value_counts + the pigeonhole: a global
    heavy hitter is over-threshold in ≥1 partition), phase 2 broadcasts
    the candidate set into a semi-join so only candidate occurrences
    cross the exchange — shuffle volume is O(candidates), not O(distinct
    grams). The oracle is the plain GROUP BY ... HAVING in DuckDB, so the
    two-phase decomposition is value-checked against the naive plan."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = docs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
            )
        ).alias("gram")
    )
    return frequent_values(grams, "gram", 0.0013).orderBy("gram")


_FREQUENT_TOKENS_ORACLE = r"""
WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents),
g AS (SELECT unnest([array_to_string(t[i:i+1], ' ')
                     FOR i IN range(1, greatest(len(t)-1, 1)+1)]) AS gram FROM t)
SELECT gram, count(*) AS cnt FROM g
GROUP BY gram
HAVING count(*) > 0.0013 * (SELECT count(*) FROM g)
"""


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic synthetic URLs (the testdata text has
    none): every doc gains ``https://www.<source><doc_id%7>.Example.COM/x``
    and ``http://cdn.<source>.org/a`` — mixed case + a ``www.`` prefix so
    the normalization path is exercised, a subdomain so the suffix-chain
    path is."""
    docs = _t(spark, sf_dir, "documents")
    return docs.withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" see https://www."),
            F.col("source"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM/x and http://cdn."),
            F.col("source"),
            F.lit(".org/a"),
        ),
    )


_URL_DOCS_CTE = r"""
WITH d AS (
  SELECT doc_id, text || ' see https://www.' || source || CAST(doc_id % 7 AS VARCHAR)
         || '.Example.COM/x and http://cdn.' || source || '.org/a' AS t
  FROM documents
),
doms AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1),
    h -> CASE WHEN starts_with(lower(h), 'www.') THEN lower(h)[5:] ELSE lower(h) END
  ))) AS dom
  FROM d
)
"""


def url_domains_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL hygiene step 1 (C4 §2.2): per-doc distinct normalized domains,
    exploded to (doc_id, domain) rows. Map-only JVM regexp — zero
    shuffles, zero Python."""
    from techtalk_data_pipeline_snowpark_spark.operators.urls import extract_domains

    docs = _docs_with_urls(spark, sf_dir)
    out = extract_domains(docs, "text2", "domains").select(
        "doc_id", F.explode("domains").alias("domain")
    )
    # plan assert: no exchange anywhere — this must stay map-only
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError("url_domains_docs must be map-only:\n" + plan)
    return out


_URL_DOMAINS_ORACLE = _URL_DOCS_CTE + "SELECT doc_id, dom AS domain FROM doms"


def blocklist_flag_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL hygiene step 2: flag docs whose text links to a blocklisted
    domain, subdomains included (``cdn.src5.org`` hits entry ``src5.org``
    via the bounded suffix-chain explode, not a prefix-match join). The
    curated blocklist broadcasts; the hit-id join-back is un-hinted."""
    from techtalk_data_pipeline_snowpark_spark.operators.urls import (
        flag_blocklisted_domains,
    )

    docs = _docs_with_urls(spark, sf_dir)
    out = flag_blocklisted_domains(
        docs,
        "doc_id",
        ["src5.org", "src11.org", "WWW.Banned.example.com"],
        text_col="text2",
        include_subdomains=True,
    )
    return out.select("doc_id", "blocklisted")


_BLOCKLIST_FLAG_ORACLE = _URL_DOCS_CTE + r""",
sfx AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(dom, '.'), CAST(s.i AS BIGINT),
                                    len(string_split(dom, '.'))), '.') AS suffix
  FROM doms, unnest(generate_series(1, greatest(len(string_split(dom, '.')) - 1, 1))) AS s(i)
),
hits AS (
  SELECT DISTINCT doc_id FROM sfx
  WHERE suffix IN ('src5.org', 'src11.org', 'banned.example.com')
)
SELECT doc.doc_id, (h.doc_id IS NOT NULL) AS blocklisted
FROM documents doc LEFT JOIN hits h USING (doc_id)
"""


def exact_percentiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile_disc over o_totalprice without a global sort:
    distinct-collapse → range-repartition prefix sum (partition-local
    window + ≤num_partitions-row offset map) → one partial-aggregated
    min-over-threshold pass. The oracle is the explicit row_number rank
    definition, so the distributed decomposition is value-checked against
    the single-node sort."""
    from techtalk_data_pipeline_snowpark_spark.operators.percentiles import (
        exact_percentiles,
    )

    orders = _t(spark, sf_dir, "orders")
    return exact_percentiles(orders, "o_totalprice", [0.25, 0.5, 0.9, 0.99])


_EXACT_PERCENTILES_ORACLE = r"""
WITH v AS (SELECT o_totalprice AS val FROM orders WHERE o_totalprice IS NOT NULL),
s AS (SELECT val, row_number() OVER (ORDER BY val) AS rn, count(*) OVER () AS n FROM v)
SELECT CAST(p AS DOUBLE) AS p, val AS value
FROM s, (VALUES (0.25), (0.5), (0.9), (0.99)) ps(p)
WHERE rn = CAST(ceil(p * n) AS BIGINT)
"""


def percentiles_by_lang_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact doc-length percentiles: ONE window + ONE
    conditional-aggregation pass for all fractions (plan-asserted in
    tests); the per-group sort costs distinct values per group, never
    rows per group."""
    from techtalk_data_pipeline_snowpark_spark.operators.percentiles import (
        exact_percentiles_by_group,
    )

    docs = _t(spark, sf_dir, "documents")
    return exact_percentiles_by_group(docs, ["lang"], "n_chars", [0.5, 0.9])


_PERCENTILES_BY_LANG_ORACLE = r"""
WITH v AS (SELECT lang, n_chars AS val FROM documents WHERE n_chars IS NOT NULL),
s AS (SELECT lang, val, row_number() OVER (PARTITION BY lang ORDER BY val) AS rn,
             count(*) OVER (PARTITION BY lang) AS n FROM v)
SELECT lang, CAST(p AS DOUBLE) AS p, val AS value
FROM s, (VALUES (0.5), (0.9)) ps(p)
WHERE rn = CAST(ceil(p * n) AS BIGINT)
"""


def length_outlier_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-driven outlier filter (the Gopher length gate with
    data-derived cutoffs): keep docs whose n_chars lies within the exact
    [p05, p95] band. The band is a 2-row bounded collect from the
    distributed percentile pass; the filter itself is map-only."""
    from techtalk_data_pipeline_snowpark_spark.operators.percentiles import (
        exact_percentiles,
    )

    docs = _t(spark, sf_dir, "documents")
    band = {
        r["p"]: r["value"]
        for r in exact_percentiles(docs, "n_chars", [0.05, 0.95]).collect()
    }
    return docs.where(
        (F.col("n_chars") >= F.lit(band[0.05])) & (F.col("n_chars") <= F.lit(band[0.95]))
    ).select("doc_id", "n_chars")


_LENGTH_OUTLIER_ORACLE = r"""
WITH v AS (SELECT n_chars AS val FROM documents WHERE n_chars IS NOT NULL),
s AS (SELECT val, row_number() OVER (ORDER BY val) AS rn, count(*) OVER () AS n FROM v),
lo AS (SELECT val FROM s WHERE rn = CAST(ceil(0.05 * n) AS BIGINT)),
hi AS (SELECT val FROM s WHERE rn = CAST(ceil(0.95 * n) AS BIGINT))
SELECT doc_id, n_chars FROM documents
WHERE n_chars >= (SELECT val FROM lo) AND n_chars <= (SELECT val FROM hi)
"""


def ingest_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-ingest (`operators/dedup.py dedup_ingest`): a corpus
    arriving in three batches, each applied as an insert-only MERGE keyed
    on sha256(text) into a lake table — only corpus-NEW content is ever
    admitted, so per-batch cost is O(batch), never O(corpus). Duplicates
    are planted (every doc_id % 7 == 0 document re-arrives under
    id+1_000_000 — an offset beyond any real doc_id at every SF, so a
    planted id can never collide with a genuine document's), and batch =
    doc_id % 3, so for a third of the planted contents the COPY lands in
    an earlier batch than the original and must win. The oracle is the
    declarative argmin-(batch, id) rank over the same stream, checking the
    whole multi-batch merge lifecycle against first-seen-wins SQL
    semantics."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    stream = docs.unionByName(dups).withColumn("batch", F.col("doc_id") % 3)
    root = tempfile.mkdtemp(prefix="dedup_ingest_")
    schema = T.StructType(
        [
            T.StructField("content_hash", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("batch", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(root, "t"), schema,
        key_cols=["content_hash"], num_buckets=8,
    )
    for b in range(3):
        dedup_ingest(t, stream.where(F.col("batch") == b), "text", "doc_id")
    return t.read().select("content_hash", "doc_id", "batch")


_INGEST_DEDUP_ORACLE = """
WITH stream AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
b AS (SELECT doc_id, doc_id % 3 AS batch, sha256(text) AS content_hash FROM stream),
r AS (SELECT *, row_number() OVER (PARTITION BY content_hash
                                   ORDER BY batch, doc_id) AS rn FROM b)
SELECT content_hash, doc_id, batch FROM r WHERE rn = 1
"""


def stream_dedup_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-on-ingest (`streaming/file_ingest.py
    stream_dedup_ingest`): the SAME planted-duplicate three-wave stream as
    ingest_dedup_docs, but arriving as landed JSON-lines files consumed by
    a checkpointed Structured Streaming file source (availableNow per
    wave), each micro-batch admitted through the insert-only hash MERGE.
    Exactly-once twice over — checkpoint manifest for delivery, idempotent
    hash merge for redelivery — and the final corpus must equal the
    declarative argmin-(wave, id) oracle exactly."""
    from techtalk_data_pipeline_snowpark_spark.streaming.file_ingest import (
        create_stage,
        land_file,
        stream_dedup_ingest,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    stream = docs.unionByName(dups).withColumn("wave", F.col("doc_id") % 3)
    root = tempfile.mkdtemp(prefix="stream_dedup_")
    stage = create_stage(os.path.join(root, "stage"))
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    for w in range(3):
        rows = stream.where(F.col("wave") == w).select("doc_id", "text").toJSON().collect()
        land_file(stage, "\n".join(rows))
        q = stream_dedup_ingest(
            spark, stage, os.path.join(root, "ckpt"), os.path.join(root, "t"), schema
        )
        q.awaitTermination()
    return LakeTable(spark, os.path.join(root, "t")).read().select(
        "content_hash", "doc_id"
    )


_STREAM_DEDUP_INGEST_ORACLE = """
WITH stream AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
b AS (SELECT doc_id, doc_id % 3 AS wave, sha256(text) AS content_hash FROM stream),
r AS (SELECT *, row_number() OVER (PARTITION BY content_hash
                                   ORDER BY wave, doc_id) AS rn FROM b)
SELECT content_hash, doc_id FROM r WHERE rn = 1
"""


def incremental_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (`operators/dedup.py jaccard_against_corpus`):
    a new batch (doc_id % 4 == 0) checked against the existing corpus by
    exact blocked n-gram Jaccard, new→corpus pairs only — the daily-delta
    shape where corpus-vs-corpus pairs are never regenerated. Block cap on
    the corpus side bounds work per new doc; with a small delta AQE
    broadcasts the new side. Exact oracle: the identical blocking, cap,
    shingling, and Jaccard restated declaratively."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 4 == 0)
    corpus = docs.where(F.col("doc_id") % 4 != 0)
    return jaccard_against_corpus(new, corpus, "doc_id", "text", 0.4)


_INCREMENTAL_JACCARD_ORACLE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents WHERE trim(text) <> ''
), s AS (
  SELECT doc_id,
         array_to_string(toks[1:2], ' ') AS blk,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks)-2, 1)+1)]) AS sh
  FROM t
),
new AS (SELECT * FROM s WHERE doc_id % 4 = 0),
corpus AS (SELECT * FROM s WHERE doc_id % 4 <> 0),
capped AS (
  SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY blk) AS _bs FROM corpus)
  WHERE _bs <= 64
)
SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
       round(CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, c.sh))), 6) AS jaccard
FROM new n JOIN capped c ON n.blk = c.blk AND n.doc_id <> c.doc_id
WHERE CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(n.sh, c.sh))) >= 0.4
"""


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language inspection quota (`operators/sharding.py
    stratified_sample`): exactly min(25, |lang|) docs per language, the 25
    smallest md5(id‖salt) — a pure function of ids, stable across runs and
    cluster sizes. Two-stage exact top-k: the shuffle carries ≤ k rows per
    (group, partition), never the hottest group on one task. The oracle is
    the rank-by-hash definition itself."""
    from techtalk_data_pipeline_snowpark_spark.operators.sharding import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, ["lang"], "doc_id", 25, salt="r5")


_STRATIFIED_SAMPLE_ORACLE = """
SELECT lang, doc_id, sample_rank FROM (
  SELECT lang, doc_id,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR) || 'r5'), doc_id
         ) AS BIGINT) AS sample_rank
  FROM documents
) WHERE sample_rank <= 25
"""


def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style vocabulary coverage (`operators/vocab.py`): the corpus's
    top-500 tokens (rank cut by the total order count desc, token asc —
    TakeOrdered, no global sort) broadcast back as a left-semi join to
    score every document by in-vocabulary occurrence fraction. Counts are
    integers and coverage is ONE double division, so the result is
    hash-exact across engines."""
    from techtalk_data_pipeline_snowpark_spark.operators.vocab import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, "doc_id", "text", 500)


_VOCAB_COVERAGE_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
occ AS (SELECT doc_id, unnest(toks) AS token FROM tk),
vc AS (SELECT token, count(*) AS c FROM occ GROUP BY token),
vocab AS (SELECT token FROM vc ORDER BY c DESC, token LIMIT 500),
inv AS (SELECT doc_id, count(*) AS iv FROM occ JOIN vocab USING (token) GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(iv, 0) AS BIGINT) AS in_vocab_tokens,
       CASE WHEN len(toks) > 0
            THEN CAST(coalesce(iv, 0) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       END AS coverage
FROM tk t LEFT JOIN inv USING (doc_id)
"""


def tfidf_top_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction): smooth-idf
    weighting, ranked on the 6-decimal-rounded score with the term as
    tie-break — the rounding makes rank order an exact SQL twin
    (`operators/retrieval.py`)."""
    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", top_n=3)


_TFIDF_TOP_TERMS_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
n AS (SELECT count(*) AS n FROM tk),
scored AS (
  SELECT doc_id, term,
         round(tf * (ln((n.n + 1.0) / (dfc + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


_BM25_QUERY = "spark merge window customer vector"


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-25 for a fixed query — the embedding-free half of
    a hybrid retrieval stack (`operators/retrieval.py`): exploded corpus
    filtered to the query's terms BEFORE aggregation, ≤|query|-row df
    side broadcast, N/avgdl via broadcast one-row crossJoin, final cut a
    TakeOrderedAndProject. Scores round to 6 before ranking."""
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERY, "doc_id", "text", k=25)


_BM25_SEARCH_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
qt AS (SELECT unnest(['customer', 'merge', 'spark', 'vector', 'window']) AS term),
tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tk)
  WHERE term IN (SELECT term FROM qt)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tk),
scored AS (
  SELECT doc_id,
         round(sum(ln(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
           AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY doc_id
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 25
"""


def hybrid_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-50 fused with embedding-cosine
    top-50 (query = doc 0's vector, vec_id aligns with doc_id) by
    reciprocal-rank fusion (`operators/retrieval.py rrf_fuse`). Both
    branches and the fusion are exact-SQL twins, so the full hybrid stack
    is oracle-checked end to end. The fused join is metadata-sized
    (≤ 50 rows per side) regardless of corpus size."""
    from techtalk_data_pipeline_snowpark_spark.operators.similarity import (
        cosine_topk_brute,
    )

    docs = _t(spark, sf_dir, "documents")
    lex = bm25_topk(docs, _BM25_QUERY, "doc_id", "text", k=50).select(
        "doc_id", "rank"
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("embedding")
    )
    sem = cosine_topk_brute(
        emb, emb.where(F.col("vec_id") == 0), k=50, round_digits=9
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("int").alias("rank"))
    return rrf_fuse([lex, sem], "doc_id", top=10).select(
        "doc_id",
        F.col("rank_0").alias("lex_rank"),
        F.col("rank_1").alias("sem_rank"),
        "rrf",
        "rank",
    )


_HYBRID_SEARCH_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
qt AS (SELECT unnest(['customer', 'merge', 'spark', 'vector', 'window']) AS term),
tf AS (
  SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tk)
  WHERE term IN (SELECT term FROM qt)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
stats AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl FROM tk),
bm AS (
  SELECT doc_id,
         round(sum(ln(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
           AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY doc_id
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rank
  FROM bm ORDER BY score DESC, doc_id ASC LIMIT 50
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT v FROM e WHERE vec_id = 0),
sem_scored AS (
  SELECT c.vec_id AS doc_id,
         round(list_dot_product(qv.v, c.v)
               / (sqrt(list_dot_product(qv.v, qv.v))
                  * sqrt(list_dot_product(c.v, c.v))), 9) AS cs
  FROM e c CROSS JOIN qv WHERE c.vec_id <> 0
),
sem AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cs DESC, doc_id ASC) AS INT) AS sem_rank
  FROM sem_scored ORDER BY cs DESC, doc_id ASC LIMIT 50
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         l.lex_rank, s.sem_rank,
         round(coalesce(1.0 / (60.0 + l.lex_rank), 0)
               + coalesce(1.0 / (60.0 + s.sem_rank), 0), 9) AS rrf
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""


def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/importance.py): hashed
    unigram+bigram bag-of-words models for a target corpus (the English
    docs) vs the raw corpus, per-doc log importance weight as an exact
    DECIMAL dot product against the broadcast ≤B-row log-ratio table,
    Gumbel-top-k selection ∝ exp(logw) — fully deterministic, exact
    DuckDB twin (md5 buckets, ln, and Gumbel doubles are bit-identical
    across engines)."""
    from techtalk_data_pipeline_snowpark_spark.operators.importance import (
        dsir_select,
    )

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs,
        docs.where(F.col("lang") == "en"),
        "doc_id",
        "text",
        k=150,
        num_buckets=1024,
        alpha=1.0,
        salt="dsir",
    )


_DSIR_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id,
         list_concat(
           toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(generate_series(2, len(toks)),
                                    i -> toks[i-1] || ' ' || toks[i])
                ELSE CAST([] AS VARCHAR[]) END) AS fs
  FROM tk
),
occ AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(f), 1, 8)) AS UBIGINT) % 1024 AS bucket
  FROM (SELECT doc_id, unnest(fs) AS f FROM feats)
),
doc_counts AS (SELECT doc_id, bucket, count(*) AS cnt FROM occ GROUP BY 1, 2),
raw_model AS (SELECT bucket, sum(cnt) AS rc FROM doc_counts GROUP BY bucket),
target_model AS (
  SELECT bucket, count(*) AS tc
  FROM occ JOIN documents USING (doc_id)
  WHERE lang = 'en'
  GROUP BY bucket
),
tot AS (
  SELECT (SELECT sum(tc) FROM target_model) AS tt,
         (SELECT sum(rc) FROM raw_model) AS tr
),
ratio AS (
  SELECT coalesce(r.bucket, t.bucket) AS bucket,
         CAST(round(
           ln((coalesce(tc, 0) + 1.0) / (tt + 1024.0))
           - ln((coalesce(rc, 0) + 1.0) / (tr + 1024.0)), 9) AS DECIMAL(22,9))
           AS ratio
  FROM raw_model r FULL JOIN target_model t ON r.bucket = t.bucket
  CROSS JOIN tot
),
scored AS (
  SELECT doc_id, sum(CAST(cnt AS DECIMAL(9,0)) * ratio) AS logw_dec
  FROM doc_counts JOIN ratio USING (bucket)
  GROUP BY doc_id
),
allscored AS (
  SELECT d.doc_id,
         coalesce(logw_dec, CAST(0 AS DECIMAL(22,9))) AS logw_dec
  FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
),
keyed AS (
  SELECT doc_id,
         CAST(logw_dec AS DOUBLE) AS logw,
         round(CAST(logw_dec AS DOUBLE)
               + (-ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'dsir'), 1, 8))
                                AS UBIGINT) + 0.5) / 4294967296.0))), 6) AS sel_key
  FROM allscored
)
SELECT doc_id, logw, sel_key
FROM keyed ORDER BY sel_key DESC, doc_id ASC LIMIT 150
"""


# ------------------------------------------------------------- contract

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full CDC replay→merge convergence on sf0.001."""
    return cdc_replay_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_replay_events": cdc_replay_events,
        "stream_replay_events": stream_replay_events,
        "cdc_schema_evolution": cdc_schema_evolution,
        "multitable_replay": multitable_replay,
        "stream_multitable_replay": stream_multitable_replay,
        "latest_event_per_user": latest_event_per_user,
        "q1_pricing_summary": q1_pricing_summary,
        "dq_overpaid": dq_overpaid,
        "three_way_join": three_way_join,
        "top_customers_90d": top_customers_90d,
        "union_dedup_priorities": union_dedup_priorities,
        "name_prefix_stats": name_prefix_stats,
        "props_extract": props_extract,
        "json_flatten_props": json_flatten_props,
        "crud_update_delete": crud_update_delete,
        "merge_expression_key": merge_expression_key,
        "time_travel_orders": time_travel_orders,
        "restore_orders": restore_orders,
        "wap_publish_orders": wap_publish_orders,
        "dv_delete_orders": dv_delete_orders,
        "zorder_pruned_scan": zorder_pruned_scan,
        "bloom_merge_orders": bloom_merge_orders,
        "ivm_join_orders_customer": ivm_join_orders_customer,
        "ivm_left_join_orders_customer": ivm_left_join_orders_customer,
        "equality_delete_orders": equality_delete_orders,
        "rebucket_orders": rebucket_orders,
        "ivm_orders_by_status": ivm_orders_by_status,
        "ivm_minmax_orders": ivm_minmax_orders,
        "ivm_avg_orders": ivm_avg_orders,
        "ivm_count_distinct_orders": ivm_count_distinct_orders,
        "ingest_orders_roundtrip": ingest_orders_roundtrip,
        "read_changelog_orders": read_changelog_orders,
        "changefeed_cursor_orders": changefeed_cursor_orders,
        "replicate_orders_changefeed": replicate_orders_changefeed,
        "stream_ingest_orders": stream_ingest_orders,
        "cloud_event_ingest_orders": cloud_event_ingest_orders,
        "employee_industry_join": employee_industry_join,
        "exact_dedup_docs": exact_dedup_docs,
        "ingest_dedup_docs": ingest_dedup_docs,
        "stream_dedup_ingest_docs": stream_dedup_ingest_docs,
        "incremental_jaccard_docs": incremental_jaccard_docs,
        "stratified_sample_docs": stratified_sample_docs,
        "vocab_coverage_docs": vocab_coverage_docs,
        "dsir_select_docs": dsir_select_docs,
        "tfidf_top_terms_docs": tfidf_top_terms_docs,
        "bm25_search_docs": bm25_search_docs,
        "hybrid_search_docs": hybrid_search_docs,
        "token_stats_docs": token_stats_docs,
        "lang_id_docs": lang_id_docs,
        "quality_docs": quality_docs,
        "doc_fingerprint_docs": doc_fingerprint_docs,
        "asof_attribution_events": asof_attribution_events,
        "interval_join_error_sessions": interval_join_error_sessions,
        "session_stats_events": session_stats_events,
        "session_window_events": session_window_events,
        "cosine_topk": cosine_topk,
        "embedding_near_dups_docs": embedding_near_dups_docs,
        "ngram_jaccard_docs": ngram_jaccard_docs,
        "dedup_clusters_docs": dedup_clusters_docs,
        "hash_split_docs": hash_split_docs,
        "decontaminate_docs": decontaminate_docs,
        "pack_shards_docs": pack_shards_docs,
        "pack_sequences_docs": pack_sequences_docs,
        "shuffle_rank_docs": shuffle_rank_docs,
        "chunk_docs": chunk_docs,
        "kmeans_clusters_embeddings": kmeans_clusters_embeddings,
        "semantic_dedup_embeddings": semantic_dedup_embeddings,
        "ann_kmeans_ivf_embeddings": ann_kmeans_ivf_embeddings,
        "mixture_resample_docs": mixture_resample_docs,
        "repetition_stats_docs": repetition_stats_docs,
        "redact_pii_docs": redact_pii_docs,
        "line_dedup_docs": line_dedup_docs,
        "metadata_agg_orders": metadata_agg_orders,
        "corpus_pipeline_docs": corpus_pipeline_docs,
        "frequent_tokens_docs": frequent_tokens_docs,
        "url_domains_docs": url_domains_docs,
        "blocklist_flag_docs": blocklist_flag_docs,
        "exact_percentiles_orders": exact_percentiles_orders,
        "percentiles_by_lang_docs": percentiles_by_lang_docs,
        "length_outlier_filter_docs": length_outlier_filter_docs,
        "minhash_near_dup_docs": minhash_near_dup_docs,
        "simhash_docs": simhash_docs,
        "cosine_topk_ann": cosine_topk_ann,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_replay_events": _CDC_REPLAY_ORACLE,
        "stream_replay_events": _CDC_REPLAY_ORACLE,
        "cdc_schema_evolution": _SCHEMA_EVOLUTION_ORACLE,
        "multitable_replay": _MULTITABLE_ORACLE,
        "stream_multitable_replay": _MULTITABLE_ORACLE,
        "latest_event_per_user": _LATEST_EVENT_ORACLE,
        "q1_pricing_summary": _Q1_ORACLE,
        "dq_overpaid": _DQ_OVERPAID_ORACLE,
        "three_way_join": _THREE_WAY_ORACLE,
        "top_customers_90d": _TOP_CUSTOMERS_ORACLE,
        "union_dedup_priorities": _UNION_DEDUP_ORACLE,
        "name_prefix_stats": _NAME_PREFIX_ORACLE,
        "props_extract": _PROPS_EXTRACT_ORACLE,
        "json_flatten_props": _PROPS_EXTRACT_ORACLE,
        "crud_update_delete": _CRUD_ORACLE,
        "merge_expression_key": _MERGE_EXPR_ORACLE,
        "time_travel_orders": _TIME_TRAVEL_ORACLE,
        "restore_orders": _RESTORE_ORACLE,
        "wap_publish_orders": _WAP_ORACLE,
        "dv_delete_orders": _DV_DELETE_ORACLE,
        "zorder_pruned_scan": _ZORDER_ORACLE,
        "bloom_merge_orders": _BLOOM_MERGE_ORACLE,
        "ivm_join_orders_customer": _IVM_JOIN_ORACLE,
        "ivm_left_join_orders_customer": _IVM_LEFT_JOIN_ORACLE,
        "equality_delete_orders": _EQUALITY_DELETE_ORACLE,
        "rebucket_orders": _REBUCKET_ORACLE,
        "ivm_orders_by_status": _IVM_ORACLE,
        "ivm_minmax_orders": _IVM_MINMAX_ORACLE,
        "ivm_avg_orders": _IVM_AVG_ORACLE,
        "ivm_count_distinct_orders": _IVM_COUNT_DISTINCT_ORACLE,
        "ingest_orders_roundtrip": _INGEST_ORACLE,
        "read_changelog_orders": _CHANGELOG_ORACLE,
        "changefeed_cursor_orders": _CHANGEFEED_CURSOR_ORACLE,
        "replicate_orders_changefeed": _REPLICATE_ORACLE,
        "stream_ingest_orders": _STREAM_INGEST_ORACLE,
        "cloud_event_ingest_orders": _CLOUD_INGEST_ORACLE,
        "employee_industry_join": _EMPLOYEE_INDUSTRY_ORACLE,
        "exact_dedup_docs": _EXACT_DEDUP_ORACLE,
        "ingest_dedup_docs": _INGEST_DEDUP_ORACLE,
        "stream_dedup_ingest_docs": _STREAM_DEDUP_INGEST_ORACLE,
        "incremental_jaccard_docs": _INCREMENTAL_JACCARD_ORACLE,
        "stratified_sample_docs": _STRATIFIED_SAMPLE_ORACLE,
        "vocab_coverage_docs": _VOCAB_COVERAGE_ORACLE,
        "dsir_select_docs": _DSIR_ORACLE,
        "tfidf_top_terms_docs": _TFIDF_TOP_TERMS_ORACLE,
        "bm25_search_docs": _BM25_SEARCH_ORACLE,
        "hybrid_search_docs": _HYBRID_SEARCH_ORACLE,
        "token_stats_docs": _TOKEN_STATS_ORACLE,
        "lang_id_docs": _lang_id_oracle(),
        "quality_docs": _QUALITY_ORACLE,
        "doc_fingerprint_docs": _FINGERPRINT_ORACLE,
        "asof_attribution_events": _ASOF_ATTRIBUTION_ORACLE,
        "interval_join_error_sessions": _INTERVAL_JOIN_ORACLE,
        "session_stats_events": _SESSIONS_ORACLE,
        "session_window_events": _SESSION_WINDOW_ORACLE,
        "cosine_topk": _COSINE_TOPK_ORACLE,
        "embedding_near_dups_docs": _NEAR_DUPS_ORACLE,
        "ngram_jaccard_docs": _NGRAM_JACCARD_ORACLE,
        "dedup_clusters_docs": _DEDUP_CLUSTERS_ORACLE,
        "hash_split_docs": _hash_split_oracle(),
        "decontaminate_docs": _decontaminate_oracle(),
        "pack_shards_docs": _PACK_SHARDS_ORACLE,
        "pack_sequences_docs": _PACK_SEQUENCES_ORACLE,
        "shuffle_rank_docs": _SHUFFLE_RANK_ORACLE,
        "chunk_docs": _chunk_docs_oracle(),
        "kmeans_clusters_embeddings": _kmeans_oracle(),
        "semantic_dedup_embeddings": _semantic_dedup_oracle(),
        "ann_kmeans_ivf_embeddings": _ann_kmeans_ivf_oracle(),
        "mixture_resample_docs": _mixture_oracle(),
        "repetition_stats_docs": _REPETITION_ORACLE,
        "redact_pii_docs": _redact_oracle(),
        "line_dedup_docs": _LINE_DEDUP_ORACLE,
        "metadata_agg_orders": _METADATA_AGG_ORACLE,
        "corpus_pipeline_docs": _corpus_pipeline_oracle(),
        "frequent_tokens_docs": _FREQUENT_TOKENS_ORACLE,
        "url_domains_docs": _URL_DOMAINS_ORACLE,
        "blocklist_flag_docs": _BLOCKLIST_FLAG_ORACLE,
        "exact_percentiles_orders": _EXACT_PERCENTILES_ORACLE,
        "percentiles_by_lang_docs": _PERCENTILES_BY_LANG_ORACLE,
        "length_outlier_filter_docs": _LENGTH_OUTLIER_ORACLE,
        # minhash_near_dup_docs / simhash_docs / cosine_topk_ann: xxhash64-
        # bucketed approximations — not SQL-expressible; rows-only check.
    }
