"""Core reference-parity queries (SURVEY.md §2 ★ operators).

Each query binds a reference operator to the driver's synthetic star
schema per FIXTURES.md §5 (lineitem/events stand in for
daily_stock_price, supplier/part for company). Docstrings cite the
reference site the semantics come from.

Determinism rules (SURVEY.md §7.5): money aggregates go through integer
cents (functions/money.py) so double summation order can't break oracle
parity; every per-group argmax carries an explicit total-order tiebreak;
"today" is always a pinned literal date.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime import format_api_date, format_ts
from ..functions.money import avg_money, sql_avg_money, sql_cents, sql_sum_money, sum_money
from ..operators.dedup import argmax_dedup, topk_per_group
from ..operators.merge import classify_merge, merge_dataframes
from ..operators.watermark import incremental_windows, watermarks
from ..sources.catalog import load_table
from .registry import register

# Pinned business dates (deterministic stand-ins for Manila "today", T3).
TODAY = "2001-11-01"
RECENT = "2001-06-01"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Flagship: the reference's semantic core in one plan — dedup the fact,
# take the latest row per key (A2/O3), join the dimension (J5).
# Reference: pse_edge.py:259 (argmax dedup) + daily_stock_price FK join
# (src/db/postgres/daily_stock_price.sql:17).
# --------------------------------------------------------------------------
@register(
    "flagship_latest_price",
    oracle="""
    WITH ranked AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate DESC, l_orderkey ASC, l_linenumber ASC,
                        l_extendedprice DESC
             ) AS rn
      FROM lineitem
    )
    SELECT r.l_suppkey AS suppkey, s.s_name AS supplier_name,
           s.s_nationkey AS nationkey,
           r.l_shipdate AS latest_shipdate,
           r.l_extendedprice AS latest_price
    FROM ranked r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rn = 1
    """,
    tags=("A2", "O3", "J5"),
    bench=True,
)
def flagship_latest_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest fact row per key joined to its dimension — 'current price
    per symbol' (reference pse_edge.py:259 + star join).

    k=1 argmax as max_by over a lexicographic struct key instead of a
    window: plans as a hash aggregate with map-side partial combine — no
    per-partition sort, shuffle carries one row per (task, key). Asc
    tiebreak columns enter the struct negated so struct-max equals the
    window order (shipdate DESC, orderkey ASC, linenumber ASC,
    extendedprice DESC — extendedprice because (orderkey, linenumber)
    repeats across suppliers in the synthetic data). ~30% faster than
    the WindowGroupLimit form at sf0.1."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    order_key = F.struct(
        F.col("l_shipdate"),
        (-F.col("l_orderkey")).alias("neg_orderkey"),
        (-F.col("l_linenumber")).alias("neg_linenumber"),
        F.col("l_extendedprice"),
    )
    row = F.struct("l_shipdate", "l_extendedprice")
    latest = li.groupBy("l_suppkey").agg(F.max_by(row, order_key).alias("r"))
    return latest.join(sup, latest.l_suppkey == sup.s_suppkey).select(
        F.col("l_suppkey").alias("suppkey"),
        F.col("s_name").alias("supplier_name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("r.l_shipdate").alias("latest_shipdate"),
        F.col("r.l_extendedprice").alias("latest_price"),
    )


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           {sql_sum_money('l_extendedprice')} AS sum_base_price,
           (SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) / 10000.0)
             AS sum_disc_price,
           (SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})
                * (100 + {sql_cents('l_tax')})) / 1000000.0) AS sum_charge,
           (SUM(CAST(l_quantity AS BIGINT)) / (COUNT(*) * 1.0)) AS avg_qty,
           {sql_avg_money('l_extendedprice')} AS avg_price,
           (SUM({sql_cents('l_discount')}) / (COUNT(*) * 100.0)) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A1", "A5", "O1"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the wide-agg scan pattern the
    engine's agg surface generalizes (SURVEY.md §2.5)."""
    from ..functions.money import cents

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1999-06-30")
    ext_c, disc_c, tax_c = cents(F.col("l_extendedprice")), cents(F.col("l_discount")), cents(F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        sum_money(F.col("l_extendedprice")).alias("sum_base_price"),
        (F.sum(ext_c * (100 - disc_c)) / 10000.0).alias("sum_disc_price"),
        (F.sum(ext_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0).alias("sum_charge"),
        (F.sum(F.col("l_quantity").cast("long")) / (F.count("*") * 1.0)).alias("avg_qty"),
        avg_money(F.col("l_extendedprice")).alias("avg_price"),
        (F.sum(disc_c) / (F.count("*") * 100.0)).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --------------------------------------------------------------------------
# A1: per-key high watermark (reference postgres_sync.py:106-115,
# spark_deltalake_sync.py:209-216).
# --------------------------------------------------------------------------
@register(
    "watermark_per_key",
    oracle="""
    SELECT l_suppkey AS suppkey, CAST(MAX(l_shipdate) AS DATE) AS latest_date
    FROM lineitem GROUP BY l_suppkey
    """,
    tags=("A1", "T1"),
    bench=True,
)
def watermark_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), F.to_date("l_shipdate").alias("d")
    )
    return watermarks(li, "suppkey", "d")


# --------------------------------------------------------------------------
# A2: argmax dedup — one row per (user_id, event_type), max value,
# deterministic tiebreak (reference pse_edge.py:259; SURVEY.md §7.4).
# --------------------------------------------------------------------------
@register(
    "dedup_argmax",
    oracle="""
    WITH ranked AS (
      SELECT event_id, ts, user_id, event_type, value,
             row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY value DESC, event_id ASC
             ) AS rn
      FROM events
    )
    SELECT event_id, ts, user_id, event_type, value FROM ranked WHERE rn = 1
    """,
    tags=("A2",),
    bench=True,
)
def dedup_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    return argmax_dedup(ev, ["user_id", "event_type"], "value", tiebreak=["event_id"])


@register(
    "topk_per_group",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rnk
      FROM orders
    )
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           o_totalprice AS totalprice, rnk AS rank
    FROM ranked WHERE rnk <= 3
    """,
    tags=("O3",),
)
def topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k per group (generalizes the reference's k=1 argmax)."""
    o = _t(spark, sf_dir, "orders")
    out = topk_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
        rank_col="rank",
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_totalprice").alias("totalprice"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------
# P1+P2+P3: rename / select / filter (reference pse_edge.py:105-116,141-143).
# --------------------------------------------------------------------------
@register(
    "select_rename_filter",
    oracle="""
    SELECT p_partkey AS partkey, p_name AS part_name, p_brand AS brand,
           p_retailprice AS retail_price
    FROM part WHERE p_size >= 25
    """,
    tags=("P1", "P2", "P3"),
)
def select_rename_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size") >= 25)
        .withColumnsRenamed(
            {
                "p_partkey": "partkey",
                "p_name": "part_name",
                "p_brand": "brand",
                "p_retailprice": "retail_price",
            }
        )
        .select("partkey", "part_name", "brand", "retail_price")
    )


@register(
    "distinct_dims",
    oracle="SELECT DISTINCT c_mktsegment AS mktsegment, c_nationkey AS nationkey FROM customer",
    tags=("A3",),
)
def distinct_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: DISTINCT (reference deltalake_sync.py:53)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_mktsegment").alias("mktsegment"), F.col("c_nationkey").alias("nationkey")
    ).distinct()


@register(
    "union_all_batches",
    oracle=f"""
    WITH unioned AS (
      SELECT * FROM lineitem WHERE l_linenumber % 3 = 0
      UNION ALL SELECT * FROM lineitem WHERE l_linenumber % 3 = 1
      UNION ALL SELECT * FROM lineitem WHERE l_linenumber % 3 = 2
    )
    SELECT l_returnflag AS returnflag, COUNT(*) AS n_rows,
           {sql_sum_money('l_quantity')} AS sum_qty
    FROM unioned GROUP BY l_returnflag
    """,
    tags=("U1",),
)
def union_all_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union-all of homogeneous batches (reference pse_edge.py:104
    pd.concat; per-symbol CSV glob at deltalake_sync.py:229)."""
    li = _t(spark, sf_dir, "lineitem")
    parts = [li.filter(F.col("l_linenumber") % 3 == i) for i in range(3)]
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(F.count("*").alias("n_rows"), sum_money(F.col("l_quantity")).alias("sum_qty"))
    )


# --------------------------------------------------------------------------
# Merge family. Target/source are deterministic slices of `events`:
#   target = event_id % 4 != 0 rows (the "table")
#   source = event_id % 2 == 0 rows with bumped value and a shifted
#            extracted_at (so the freshness guard has both outcomes).
# Reference: K2 spark_deltalake_sync.py:296-300; K3/J1/P5
# bigquery_dml__upsert_daily_stock_price.sql:10-27.
# --------------------------------------------------------------------------
_MERGE_SRC_SQL = """
      SELECT event_id, user_id, event_type, value + 1000 AS value,
             ts + (event_id % 3) * INTERVAL 1 HOUR AS extracted_at
      FROM events WHERE event_id % 2 = 0
"""
_MERGE_TGT_SQL = """
      SELECT event_id, user_id, event_type, value,
             ts + INTERVAL 1 HOUR AS extracted_at
      FROM events WHERE event_id % 4 != 0
"""


def _merge_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = _t(spark, sf_dir, "events")
    shift = F.expr("make_interval(0, 0, 0, 0, CAST(event_id % 3 AS INT), 0, 0)")
    source = (
        ev.filter(F.col("event_id") % 2 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            (F.col("value") + 1000).alias("value"),
            (F.col("ts") + shift).alias("extracted_at"),
        )
    )
    target = ev.filter(F.col("event_id") % 4 != 0).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("extracted_at"),
    )
    return target, source


@register(
    "classify_freshness",
    oracle=f"""
    WITH source AS ({_MERGE_SRC_SQL}), target AS ({_MERGE_TGT_SQL})
    SELECT s.event_id,
           CASE WHEN t.event_id IS NULL THEN 'insert'
                WHEN s.extracted_at >= t.extracted_at THEN 'update'
                ELSE 'skip' END AS merge_action
    FROM source s LEFT JOIN target t USING (event_id)
    """,
    tags=("J1", "P5"),
)
def classify_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+P5: left-outer classify of an ingest batch against the target
    with the freshness guard (bigquery_dml__upsert_daily_stock_price.sql:10-16)."""
    target, source = _merge_frames(spark, sf_dir)
    return classify_merge(target, source, ["event_id"], freshness_col="extracted_at").select(
        "event_id", "merge_action"
    )


@register(
    "merge_upsert_preview",
    oracle=f"""
    WITH source AS ({_MERGE_SRC_SQL}), target AS ({_MERGE_TGT_SQL}),
    kept AS (
      SELECT t.* FROM target t ANTI JOIN source s USING (event_id)
    )
    SELECT * FROM kept
    UNION ALL SELECT event_id, user_id, event_type, value, extracted_at FROM source
    """,
    tags=("K2", "J2"),
)
def merge_upsert_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: unconditional keyed upsert — matched rows replaced, new rows
    inserted (spark_deltalake_sync.py:296-300)."""
    target, source = _merge_frames(spark, sf_dir)
    return merge_dataframes(target, source, ["event_id"])


@register(
    "freshness_merge_preview",
    oracle=f"""
    WITH source AS ({_MERGE_SRC_SQL}), target AS ({_MERGE_TGT_SQL}),
    winners AS (
      SELECT s.* FROM source s LEFT JOIN target t USING (event_id)
      WHERE t.event_id IS NULL OR s.extracted_at >= t.extracted_at
    ),
    kept AS (
      SELECT t.* FROM target t ANTI JOIN winners w USING (event_id)
    )
    SELECT * FROM kept
    UNION ALL SELECT event_id, user_id, event_type, value, extracted_at FROM winners
    """,
    tags=("K3", "P5", "T4"),
    bench=True,
)
def freshness_merge_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: freshness-guarded upsert — the idempotent-replay merge
    (bigquery_dml__upsert_daily_stock_price.sql:15-16)."""
    target, source = _merge_frames(spark, sf_dir)
    return merge_dataframes(target, source, ["event_id"], freshness_col="extracted_at")


@register(
    "semi_join_in",
    oracle="""
    SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
           l.l_extendedprice AS extendedprice
    FROM lineitem l
    WHERE l.l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
    """,
    tags=("J3",),
)
def semi_join_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: left-semi join (the reference's IN-subquery delete,
    bigquery_dml__upsert_daily_stock_price.sql:19-20)."""
    li = _t(spark, sf_dir, "lineitem")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000).select("o_orderkey")
    return li.join(big, li.l_orderkey == big.o_orderkey, "left_semi").select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_extendedprice").alias("extendedprice"),
    )


@register(
    "anti_join_uptodate",
    oracle="""
    SELECT p_partkey AS partkey, p_name AS part_name
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey
        AND l.l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
    )
    """,
    tags=("P7",),
)
def anti_join_uptodate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 as an anti-join: keys with nothing recent to fetch
    (reference skips them with a python `if`, postgres_sync.py:205-206)."""
    p = _t(spark, sf_dir, "part")
    recent = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "2001-01-01")
    return p.join(recent, p.p_partkey == recent.l_partkey, "left_anti").select(
        F.col("p_partkey").alias("partkey"), F.col("p_name").alias("part_name")
    )


@register(
    "broadcast_watermark_join",
    oracle=f"""
    WITH wm AS (
      SELECT l_suppkey, CAST(MAX(l_shipdate) AS DATE) AS latest_date
      FROM lineitem WHERE l_shipdate >= TIMESTAMP '{RECENT} 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey, w.latest_date,
           COALESCE(w.latest_date, DATE '1970-01-01') AS watermark
    FROM supplier s LEFT JOIN wm w ON s.s_suppkey = w.l_suppkey
    """,
    tags=("J4", "F3"),
)
def broadcast_watermark_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: the reference's driver-side dict lookup (postgres_sync.py:200)
    as a broadcast hash join, epoch default on miss (F3)."""
    from ..functions.datetime import epoch_default

    sup = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("suppkey"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= RECENT)
    wm = watermarks(
        li.select("l_suppkey", F.to_date("l_shipdate").alias("d")), "l_suppkey", "d"
    ).withColumnRenamed("l_suppkey", "suppkey")
    return sup.join(F.broadcast(wm), "suppkey", "left").select(
        "suppkey",
        "latest_date",
        epoch_default(F.col("latest_date")).alias("watermark"),
    )


@register(
    "incremental_windows",
    oracle=f"""
    WITH wm AS (
      SELECT l_suppkey AS suppkey, CAST(MAX(l_shipdate) AS DATE) AS latest_date
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS suppkey,
           COALESCE(w.latest_date, DATE '1970-01-01') AS watermark,
           COALESCE(w.latest_date, DATE '1970-01-01') + 1 AS target_start,
           DATE '{TODAY}' - 1 AS target_end,
           (COALESCE(w.latest_date, DATE '1970-01-01') + 1 > DATE '{TODAY}' - 1)
             AS up_to_date
    FROM supplier s LEFT JOIN wm w ON s.s_suppkey = w.suppkey
    """,
    tags=("F2", "F3", "T1", "T2", "T3", "P7"),
)
def incremental_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+T1-T3: the per-key incremental fetch plan with the reference's
    exact date arithmetic (postgres_sync.py:199-206), pinned 'today'."""
    sup = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("suppkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), F.to_date("l_shipdate").alias("d")
    )
    wm = watermarks(li, "suppkey", "d")
    return incremental_windows(sup, wm, "suppkey", lookback_days=0, today=TODAY)


@register(
    "date_parse_format",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           strftime(ts, '%m-%d-%Y') AS api_date,
           CAST(date_trunc('day', ts) AS DATE) AS event_date
    FROM events
    """,
    tags=("F1", "F7"),
)
def date_parse_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F7: timestamp formatting exactly as the reference renders
    extracted_at / API request dates (pse_edge.py:114,222-223)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        format_ts(F.col("ts")).alias("ts_str"),
        format_api_date(F.col("ts")).alias("api_date"),
        F.to_date("ts").alias("event_date"),
    )


@register(
    "top_n_orders",
    oracle="""
    SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_totalprice AS totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
    """,
    tags=("O1", "O2"),
)
def top_n_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: global order-by + limit with a total-order tiebreak."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(5)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


# --------------------------------------------------------------------------
# Beyond-reference analytics surface (SURVEY.md §2.5 note, §7 M5): the
# window/rollup/pivot/sessionization operators a real analytics engine
# exposes. All built-in ops — one shuffle each, AQE-coalesced.
# --------------------------------------------------------------------------
@register(
    "sessionization",
    oracle=f"""
    WITH g AS (
      -- ts IS NOT NULL on BOTH engines: sessions are defined over rows
      -- WITH event time (a NULL ts would sort NULLS FIRST in Spark but
      -- NULLS LAST here, silently reshaping sessions on a regenerated
      -- feed — tests/test_null_events_parity.py pins the class)
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           {sql_sum_money('value')} AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
    tags=("window", "sessionization"),
    bench=True,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running sum —
    the common-OLAP pattern the engine exposes beyond reference parity."""
    from ..functions.datetime import epoch_micros

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_micros("ts") - F.lag(epoch_micros("ts")).over(w)
    is_new = F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        sum_money(F.col("value")).alias("sum_value"),
    )


@register(
    "hourly_event_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n, {sql_sum_money('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("window-agg", "streaming-analog"),
    # benched as the batch twin of streaming_hourly_counts: the pair
    # quantifies the micro-batch runtime's overhead on identical logic
    bench=True,
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch analog of the Structured
    Streaming windowed agg in streaming/)."""
    ev = _t(spark, sf_dir, "events")
    # date_trunc would route NTZ through the session timezone; building
    # the hour from components is wall-clock-pure (driver sessions may
    # run in any timezone).
    hour = F.expr("make_timestamp_ntz(year(ts), month(ts), day(ts), hour(ts), 0, 0)")
    return ev.groupBy(hour.alias("hour"), "event_type").agg(
        F.count("*").alias("n"), sum_money(F.col("value")).alias("sum_value")
    )


@register(
    "sliding_window_counts",
    # Sliding (hopping) windows: 1-hour windows every 15 minutes, so
    # each event lands in exactly length/slide = 4 windows. The oracle
    # reconstructs the window set per event explicitly (15-min bucket
    # minus k slides, k=0..3); both engines' buckets align because 15
    # minutes divides the distance between their bucket origins.
    oracle="""
    WITH w AS (
      -- ts IS NOT NULL: Spark's window() DROPS NULL-event-time rows,
      -- while time_bucket(NULL) would emit a NULL window here — pin
      -- the dropped semantics on both engines
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - (u.k * INTERVAL '15 minutes') AS window_start,
             event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events, UNNEST(range(0, 4)) AS u(k)
      WHERE ts IS NOT NULL
    )
    SELECT window_start, event_type, COUNT(*) AS n,
           (SUM(vc) / 100.0) AS sum_value
    FROM w GROUP BY 1, 2
    """,
    tags=("window-agg", "sliding-window"),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (`window(ts, '1 hour', '15 minutes')`):
    the smoothing/trend form of the tumbling rollup — usable identically
    in batch and Structured Streaming. Spark expands each row into
    length/slide window assignments before the aggregation; that 4x row
    expansion is the inherent cost of hopping windows at any scale
    (keep slide a small divisor of length), and the aggregation itself
    stays map-side combinable on (window, key). NTZ event time keeps
    window boundaries wall-clock-pure under any session timezone."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            sum_money(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "rollup_orders",
    oracle=f"""
    SELECT o_orderstatus AS orderstatus, o_orderpriority AS orderpriority,
           COUNT(*) AS n, {sql_sum_money('o_totalprice')} AS sum_total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    -- no-op on any non-empty group; on an EMPTY table it drops the
    -- SQL-standard grand-total row Spark's Expand-based rollup never
    -- produces (empty-input matrix)
    HAVING COUNT(*) > 0
    """,
    tags=("rollup",),
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate (free in Spark; listed as an engine extension in
    SURVEY.md §2.5 note)."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup(
        F.col("o_orderstatus").alias("orderstatus"),
        F.col("o_orderpriority").alias("orderpriority"),
    ).agg(F.count("*").alias("n"), sum_money(F.col("o_totalprice")).alias("sum_total"))


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'view')     AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'error')    AS error
    FROM events GROUP BY user_id
    """,
    tags=("pivot",),
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot on a fixed category list (explicit list → no extra pass to
    discover categories; required posture at 100 TB)."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ["click", "view", "purchase", "signup", "error"]],
    )


@register(
    "star_join_revenue",
    oracle=f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_orders, {sql_sum_money('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    tags=("J5", "A1"),
    bench=True,
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 generalized: multi-hop star join — nation/region carry
    explicit broadcast hints (25/5 rows at ANY scale); customer is
    left to AQE, which broadcasts it when it fits and shuffles when
    it doesn't (customer scales with sf, so a forced hint is a
    scale hazard; r7 VERDICT item 3)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_orders"),
            sum_money(F.col("o_totalprice")).alias("revenue"),
        )
    )


@register(
    "shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS orderkey,
           (SUM({sql_cents('l.l_extendedprice')} * (100 - {sql_cents('l.l_discount')}))
            / 10000.0) AS revenue,
           o.o_orderdate AS orderdate, o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey ASC LIMIT 10
    """,
    tags=("tpch-q3", "J5", "topn"),
    bench=True,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: selective dimension filter →
    fact join → grouped revenue → global top-N. Customer is broadcast
    (selective + small); revenue in exact integer 10⁻⁴ units."""
    from ..functions.money import cents

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
        .select("orderkey", "revenue", "orderdate", "orderpriority")
    )


@register(
    "local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           (SUM({sql_cents('l.l_extendedprice')} * (100 - {sql_cents('l.l_discount')}))
            / 10000.0) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("tpch-q5", "J5"),
    bench=True,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: the 6-table star join with
    a cross-dimension predicate (customer and supplier share a nation).
    Fact shuffles for the orders join; all dimensions broadcast."""
    from ..functions.money import cents

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg((F.sum(rev) / 10000.0).alias("revenue"))
    )
