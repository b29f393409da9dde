"""Reference-parity query registry (SURVEY.md §2 inventory).

Each entry pairs a PySpark implementation (built from the operator
library) with the exact ANSI-SQL twin DuckDB runs as the oracle. Column
names are aliased identically on both sides; double-typed aggregates are
rounded (identically on both sides) so cross-engine float-summation-order
noise cannot flip the value hash.

The dict maps query name -> (spark_fn, oracle_sql_or_None). spark_fn
signature: (spark, sf_dir) -> DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockpy_spark.operators.joins import salted_join
from stockpy_spark.operators.aggregate import grouping_sets_summary, unpivot_measures
from stockpy_spark.operators import (
    add_literal_column,
    anti_join,
    attach_group_stats,
    attach_group_stats_window,
    cast_columns,
    cube_summary,
    dedup_by_key_first,
    distinct_rows,
    drop_na_subset,
    enrich_left_join,
    filter_cross_column_equal,
    filter_not_null_positive,
    group_summary,
    lag_delta,
    pivot_summary,
    rename_columns,
    rolling_mean,
    rollup_summary,
    row_number_in_group,
    running_sum,
    select_with_conditional_cast,
    semi_join,
    sessionize,
    top_k,
    topk_per_group,
    union_by_name,
)
from stockpy_spark.functions import strip_time_suffix
from stockpy_spark.sources.testdata import _t


# --- flagship: the reference's richest query shape (transform_stocks
# requirements A+B+C fused; transform_stocks_job.py:169-199) on events ---

def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type avg/sum attached to every row (J2) + per-user lag delta
    (W1/W2), the StockPy per-sector/per-ticker analytics re-expressed on
    the events table."""
    ev = _t(spark, sf_dir, "events")
    ev = filter_not_null_positive(ev, not_null=["event_type"], positive=["value"])
    ev = attach_group_stats(
        ev,
        ["event_type"],
        {"avg_value_type": F.round(F.avg("value"), 4), "total_value_type": F.round(F.sum("value"), 2)},
    )
    ev = lag_delta(ev, "value", ["user_id"], ["ts", "event_id"], delta_name="value_delta")
    return ev.select(
        "event_id", "user_id", "event_type", "ts", "value",
        "avg_value_type", "total_value_type", "value_delta",
    )


SQL_FLAGSHIP = """
WITH base AS (
    SELECT * FROM events WHERE event_type IS NOT NULL AND value > 0
), stats AS (
    SELECT event_type,
           round(avg(value), 4) AS avg_value_type,
           round(sum(value), 2) AS total_value_type
    FROM base GROUP BY event_type
)
SELECT b.event_id, b.user_id, b.event_type, b.ts, b.value,
       s.avg_value_type, s.total_value_type,
       b.value - lag(b.value) OVER (PARTITION BY b.user_id ORDER BY b.ts, b.event_id)
           AS value_delta
FROM base b LEFT JOIN stats s USING (event_type)
"""


# --- projections / filters (P1-P9) ---

def q_p1_conditional_cast(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = select_with_conditional_cast(
        ev, {"value": T.DoubleType()}, keep=["event_id", "event_type"]
    )
    return out.withColumnRenamed("value", "value_clean")


SQL_P1 = """
SELECT event_id, event_type,
       CASE WHEN value IS NOT NULL AND NOT isnan(value)
            THEN CAST(value AS DOUBLE) END AS value_clean
FROM events
"""


def q_p2_rename_literal(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    out = rename_columns(li, {"l_orderkey": "order_id", "l_linenumber": "line_no", "l_quantity": "qty"})
    return add_literal_column(out, "dataproc", "20260813")


SQL_P2 = """
SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty,
       '20260813' AS dataproc
FROM lineitem
"""


def q_p4_fuzzy_align(spark, sf_dir):
    """P4 with schema drift: incoming headers are cased/spaced/fused
    variants of the expected names ("Doc ID" -> doc_id, " TEXT " ->
    text, "nchars" -> n_chars); the fuzzy ladder in align_to_columns
    must claim them and null-fill only the truly-missing column
    (reference: transform_news_job.py:52-84)."""
    from stockpy_spark.operators import align_to_columns

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("Doc ID"),
        F.col("text").alias(" TEXT "),
        F.col("lang").alias("Lang"),
        F.col("n_chars").alias("nchars"),
    )
    return align_to_columns(
        docs,
        {
            "doc_id": T.LongType(),
            "text": T.StringType(),
            "lang": T.StringType(),
            "n_chars": T.LongType(),
            "editor_note": T.StringType(),
        },
    )


SQL_P4 = """
SELECT doc_id, text, lang, n_chars, CAST(NULL AS VARCHAR) AS editor_note
FROM documents
"""


def q_p6_filter_range(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = filter_not_null_positive(
        li, not_null=["l_returnflag"], positive=["l_quantity"]
    ).filter(F.col("l_extendedprice") > 30000)
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


SQL_P6 = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_quantity > 0 AND l_extendedprice > 30000
"""


def q_p7_cross_column_equal(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = filter_cross_column_equal(li, "l_tax", "l_discount")
    return out.select("l_orderkey", "l_linenumber", "l_tax", "l_discount")


SQL_P7 = """
SELECT l_orderkey, l_linenumber, l_tax, l_discount
FROM lineitem
WHERE l_tax IS NOT NULL AND l_discount IS NOT NULL AND l_tax = l_discount
"""


def q_p8_p9_dropna_cast(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = drop_na_subset(ev, ["props", "event_type"])
    out = cast_columns(out, {"user_id": T.LongType(), "value": T.DoubleType()})
    return out.select("event_id", "user_id", "event_type", "value", "props")


SQL_P8 = """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type,
       CAST(value AS DOUBLE) AS value, props
FROM events
WHERE props IS NOT NULL AND event_type IS NOT NULL
"""


# --- joins (J1/J2 + semi/anti/inner) ---

def q_j1_broadcast_enrich(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").withColumnRenamed("r_name", "region_name")
    out = enrich_left_join(
        nation, region, on=nation["n_regionkey"] == region["r_regionkey"]
    )
    return out.select("n_nationkey", "n_name", "region_name")


SQL_J1 = """
SELECT n_nationkey, n_name, r.r_name AS region_name
FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def q_j2_agg_backjoin(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    out = attach_group_stats(
        cust,
        ["c_mktsegment"],
        {"seg_avg_bal": F.round(F.avg("c_acctbal"), 4), "seg_count": F.count(F.lit(1))},
    )
    return out.select("c_custkey", "c_mktsegment", "seg_avg_bal", "seg_count")


SQL_J2 = """
WITH stats AS (
    SELECT c_mktsegment, round(avg(c_acctbal), 4) AS seg_avg_bal,
           count(*) AS seg_count
    FROM customer GROUP BY c_mktsegment
)
SELECT c.c_custkey, c.c_mktsegment, s.seg_avg_bal, s.seg_count
FROM customer c LEFT JOIN stats s USING (c_mktsegment)
"""


def q_j2w_window_stats(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    out = attach_group_stats_window(
        sup,
        ["s_nationkey"],
        {"nation_avg_bal": F.avg("s_acctbal"), "nation_max_bal": F.max("s_acctbal")},
    )
    return out.select(
        "s_suppkey",
        "s_nationkey",
        F.round("nation_avg_bal", 4).alias("nation_avg_bal"),
        "nation_max_bal",
    )


SQL_J2W = """
SELECT s_suppkey, s_nationkey,
       round(avg(s_acctbal) OVER (PARTITION BY s_nationkey), 4) AS nation_avg_bal,
       max(s_acctbal) OVER (PARTITION BY s_nationkey) AS nation_max_bal
FROM supplier
"""


def q_j3_inner_join_agg(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "inner")
    return group_summary(
        joined,
        ["c_mktsegment"],
        {"n_orders": F.count(F.lit(1)), "revenue": F.round(F.sum("o_totalprice"), 2)},
    )


SQL_J3 = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
"""


def q_j4_semi_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return semi_join(cust, orders.select("c_custkey"), "c_custkey").select(
        "c_custkey", "c_name"
    )


SQL_J4 = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_j5_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return anti_join(cust, orders.select("c_custkey"), "c_custkey").select(
        "c_custkey", "c_name"
    )


SQL_J5 = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# --- aggregations (A1-A7 + rollup/cube/pivot) ---

def q_a1_group_agg(spark, sf_dir):
    """TPC-H Q1 shape — the canonical grouped hash aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return group_summary(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "sum_base_price": F.round(F.sum("l_extendedprice"), 2),
            "sum_disc_price": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
            "avg_qty": F.round(F.avg("l_quantity"), 4),
            "avg_price": F.round(F.avg("l_extendedprice"), 4),
            "avg_disc": F.round(F.avg("l_discount"), 6),
            "count_order": F.count(F.lit(1)),
        },
    )


SQL_A1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_a2_count_star(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


SQL_A2 = "SELECT count(*) AS n FROM lineitem"


def q_a3_distinct(spark, sf_dir):
    return distinct_rows(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"]
    )


SQL_A3 = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q_a4_dedup_first(spark, sf_dir):
    """Deterministic keyed dedup: latest order per customer (reference A4
    semantics made deterministic via row_number, SURVEY.md §2.4)."""
    orders = _t(spark, sf_dir, "orders")
    out = dedup_by_key_first(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"], descending=True
    )
    return out.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


SQL_A4 = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
) = 1
"""


def q_a6_count_distinct(spark, sf_dir):
    return group_summary(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        {"n_customers": F.countDistinct("o_custkey"), "n_orders": F.count(F.lit(1))},
    )


SQL_A6 = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


def q_a7_minmax_stddev(spark, sf_dir):
    return group_summary(
        _t(spark, sf_dir, "customer"),
        ["c_mktsegment"],
        {
            "min_bal": F.min("c_acctbal"),
            "max_bal": F.max("c_acctbal"),
            "stddev_bal": F.round(F.stddev_samp("c_acctbal"), 4),
        },
    )


SQL_A7 = """
SELECT c_mktsegment, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
       round(stddev_samp(c_acctbal), 4) AS stddev_bal
FROM customer GROUP BY c_mktsegment
"""


def q_a8_rollup(spark, sf_dir):
    return rollup_summary(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        {"n": F.count(F.lit(1)), "total": F.round(F.sum("o_totalprice"), 2)},
    )


SQL_A8 = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_a9_cube(spark, sf_dir):
    return cube_summary(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        {"n": F.count(F.lit(1)), "sum_qty": F.round(F.sum("l_quantity"), 2)},
    )


SQL_A9 = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_a10_pivot(spark, sf_dir):
    out = pivot_summary(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_linestatus",
        ["O", "F"],
        F.round(F.sum("l_quantity"), 2),
    )
    return out


SQL_A10 = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
FROM lineitem GROUP BY l_returnflag
"""


# --- windows (W1-W5) ---

def q_w1_lag_delta(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = lag_delta(ev, "value", ["user_id"], ["ts", "event_id"], delta_name="value_delta")
    return out.select("event_id", "user_id", "ts", "value", "value_delta")


SQL_W1 = """
SELECT event_id, user_id, ts, value,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS value_delta
FROM events
"""


def q_w2_rolling_mean(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = rolling_mean(ev, "value", ["user_id"], ["ts", "event_id"], 7, "rolling_avg")
    return out.select(
        "event_id", "user_id", "ts", F.round("rolling_avg", 4).alias("rolling_avg")
    )


SQL_W2 = """
SELECT event_id, user_id, ts,
       round(avg(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rolling_avg
FROM events
"""


def q_w3_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = topk_per_group(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice")


SQL_W3 = """
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
) <= 3
"""


def q_w4_running_sum(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = running_sum(
        li, "l_quantity", ["l_suppkey"], ["l_shipdate", "l_orderkey", "l_linenumber"],
        "cum_qty",
    )
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "cum_qty")


SQL_W4 = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       sum(l_quantity) OVER (
           PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS UNBOUNDED PRECEDING) AS cum_qty
FROM lineitem
"""


def q_w5_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessionize(
        ev, ["user_id"], "ts", 1800, "session_id", order_by=["ts", "event_id"]
    )
    return out.select("event_id", "user_id", "ts", "session_id")


SQL_W5 = """
WITH g AS (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR CAST(floor(epoch(ts)) AS BIGINT)
                        - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, ts,
       CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM g
"""


# --- sort / limit / set ops / scalar functions ---

def q_o1_topk(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = top_k(orders, ["o_totalprice", "o_orderkey"], 10, descending=True)
    return out.select("o_orderkey", "o_totalprice", "o_orderpriority")


SQL_O1 = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10
"""


def q_set1_union_by_name(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("side"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("side"),
    )
    return union_by_name(cust, sup)


SQL_SET1 = """
SELECT c_custkey AS id, c_name AS name, 'customer' AS side FROM customer
UNION ALL
SELECT s_suppkey AS id, s_name AS name, 'supplier' AS side FROM supplier
"""


def q_f1_regexp_date_json(spark, sf_dir):
    """F1/F2 news-style normalization: format, strip time suffix, to_date;
    plus JSON field extraction (reference regexp/date family,
    transform_news_job.py:104-110)."""
    ev = _t(spark, sf_dir, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    day = strip_time_suffix(iso)
    return ev.select(
        "event_id",
        F.to_date(day, "yyyy-MM-dd").alias("event_date"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


SQL_F1 = """
SELECT event_id,
       CAST(regexp_replace(strftime(ts, '%Y-%m-%dT%H:%M:%S'), 'T.*', '') AS DATE)
           AS event_date,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
FROM events
"""


def q_f7_string_funcs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.lower(F.trim("source")).alias("source_norm"),
        F.length("text").alias("text_len"),
        F.substring("text", 1, 10).alias("text_head"),
    )


SQL_F7 = """
SELECT doc_id, upper(lang) AS lang_upper, lower(trim(source)) AS source_norm,
       length(text) AS text_len, substr(text, 1, 10) AS text_head
FROM documents
"""


# --- multi-table analytics (TPC-H-style shapes; the scale stress tests) ---

def q_q5_multi_join(spark, sf_dir):
    """TPC-H Q5 shape: fact-fact join (lineitem x orders) + dimension
    joins, grouped revenue per nation. The plan to want at 100 TB: one
    big-side shuffle (or SMJ) for the fact join, broadcasts for the
    structurally-tiny dims (nation/region), partial aggregation before
    the final exchange. customer GROWS with scale factor, so its join
    strategy is left to Catalyst/AQE — broadcast at test scale, shuffle
    join on a real cluster."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return group_summary(
        joined.filter(F.col("o_orderstatus") == "F"),
        ["r_name", "n_name"],
        {
            "revenue": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
            "n_items": F.count(F.lit(1)),
        },
    )


SQL_Q5 = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'F'
GROUP BY r_name, n_name
"""


def q_q3_top_unshipped(spark, sf_dir):
    """TPC-H Q3 shape: join + group + top-k by aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .filter(li["l_shipdate"] > "1995-03-15")
    )
    agg = group_summary(
        joined,
        ["o_orderkey", "o_orderdate", "o_orderpriority"],
        {"revenue": F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)},
    )
    return top_k(agg, [F.col("revenue"), F.col("o_orderkey")], 10, descending=True)


SQL_Q3 = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING' AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey DESC LIMIT 10
"""


def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the canonical scan-heavy aggregate. No join, no
    skew — at 100 TB this is one pass over lineitem with map-side partial
    aggregation into a 4-row result; the only shuffle moves a handful of
    partial-agg rows. The filter and the 7-column projection both reach
    the parquet scan (pushdown + pruning)."""
    li = _t(spark, sf_dir, "lineitem")
    out = group_summary(
        li.filter(F.col("l_shipdate") <= "1998-09-02"),
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "sum_base_price": F.round(F.sum("l_extendedprice"), 2),
            "sum_disc_price": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
            "sum_charge": F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ),
            "avg_qty": F.round(F.avg("l_quantity"), 4),
            "avg_price": F.round(F.avg("l_extendedprice"), 4),
            "avg_disc": F.round(F.avg("l_discount"), 4),
            "count_order": F.count(F.lit(1)),
        },
    )
    return out.orderBy("l_returnflag", "l_linestatus")


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + global agg. The whole predicate is
    parquet-pushdown-able; the scan reads 4 columns and the shuffle is a
    single partial-sum row per task."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.03, 0.09))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return out


SQL_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.09
  AND l_quantity < 24
"""


def q_j6_salted_join(spark, sf_dir):
    """Skew-resistant salted join — result must equal the plain join."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    out = salted_join(li, orders, "l_orderkey", salt_buckets=8)
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "o_orderpriority")


SQL_J6 = """
SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


# --- second-wave aggregates / windows / reshaping ---

def q_a11_percentiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return group_summary(
        li,
        ["l_returnflag"],
        {
            "median_qty": F.round(F.expr("percentile(l_quantity, 0.5)"), 4),
            "p90_price": F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4),
        },
    )


SQL_A11 = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
FROM lineitem GROUP BY l_returnflag
"""


def q_a12_grouping_sets(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return grouping_sets_summary(
        orders,
        sets=[["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        all_keys=["o_orderstatus", "o_orderpriority"],
        agg_exprs={"n": "count(*)", "total": "round(sum(o_totalprice), 2)"},
    )


SQL_A12 = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_w6_rank_family(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    from pyspark.sql.window import Window

    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


SQL_W6 = """
SELECT s_suppkey, s_nationkey,
       CAST(rank() OVER w AS INTEGER) AS rnk,
       CAST(dense_rank() OVER w AS INTEGER) AS drnk,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


def q_w7_range_frame(spark, sf_dir):
    """Time-range window frame: per-user sum of value over the trailing
    1 hour (RANGE frame on epoch seconds — the rolling-window family
    from SURVEY.md §2.5 with a value-based frame instead of rows)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 4).alias("hour_sum"),
    )


SQL_W7 = """
SELECT event_id, user_id, ts,
       round(sum(value) OVER (
           PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS hour_sum
FROM events
"""


def q_p10_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return unpivot_measures(
        li,
        ids=["l_orderkey", "l_linenumber"],
        measures=["l_quantity", "l_extendedprice", "l_discount"],
        var_name="measure",
        value_name="val",
    )


SQL_P10 = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""


def q_f8_math_funcs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("ln_price"),
        F.ceil("l_discount").cast("long").alias("ceil_disc"),
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_decile"),
        F.round(F.pow(F.lit(1.0) + F.col("l_tax"), 2), 6).alias("tax_sq"),
    )


SQL_F8 = """
SELECT l_orderkey, l_linenumber,
       round(sqrt(l_quantity), 6) AS sqrt_qty,
       round(ln(l_extendedprice), 6) AS ln_price,
       CAST(ceil(l_discount) AS BIGINT) AS ceil_disc,
       CAST(floor(l_quantity / 10) AS BIGINT) AS qty_decile,
       round(pow(1.0 + l_tax, 2), 6) AS tax_sq
FROM lineitem
"""


def q_f9_posexplode_tokens(spark, sf_dir):
    """Array ops: tokenize + positional explode (the UDTF-shaped surface,
    built-in generator instead of a Python UDTF)."""
    from stockpy_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "token")
    )


def q_f13_array_funcs(spark, sf_dir):
    """Higher-order array functions over the embedding column: slice,
    transform, filter, aggregate (fold), array_sort + element_at — the
    lambda-expression surface that keeps array math JVM-side instead of
    in a Python UDF."""
    emb = _t(spark, sf_dir, "embeddings")
    head8 = F.slice(F.col("embedding"), 1, 8)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                head8, F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            6,
        ).alias("head_sum"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.element_at(F.array_sort(head8), -1).cast("double"), 6
        ).alias("head_max"),
        F.round(
            F.aggregate(
                F.transform(head8, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("head_sq_sum"),
    )


SQL_F13 = """
SELECT vec_id,
       len(embedding) AS dim,
       round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6)
           AS head_sum,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       round(CAST(list_max(embedding[1:8]) AS DOUBLE), 6) AS head_max,
       round(list_sum(list_transform(embedding[1:8],
                                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)
           AS head_sq_sum
FROM embeddings
"""


SQL_F9 = """
SELECT doc_id,
       unnest(range(0, len(regexp_split_to_array(trim(text), '\\s+')))) AS pos,
       unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
FROM documents
WHERE text IS NOT NULL AND trim(text) <> ''
"""


# --- third wave: set ops, function families, subquery shapes ---

def q_set2_intersect(spark, sf_dir):
    """INTERSECT (distinct): nations that have both customers and
    suppliers."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return cust.intersect(sup)


SQL_SET2 = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


def q_set3_except(spark, sf_dir):
    """EXCEPT (distinct): order priorities never seen on 'F' orders."""
    all_p = _t(spark, sf_dir, "orders").select("o_orderpriority")
    f_p = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderpriority")
    )
    return all_p.subtract(f_p)


SQL_SET3 = """
SELECT o_orderpriority FROM orders
EXCEPT
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
"""


def q_f10_string_funcs(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_pad"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.instr(F.col("p_type"), "a").cast("long").alias("a_pos"),
        F.translate("p_brand", "#", "-").alias("brand_dash"),
    )


SQL_F10 = """
SELECT p_partkey,
       upper(p_brand) AS brand_up,
       CAST(length(p_name) AS BIGINT) AS name_len,
       substring(p_type, 1, 5) AS type5,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_pad,
       concat_ws('/', p_brand, p_type) AS brand_type,
       split_part(p_name, ' ', 1) AS first_word,
       CAST(strpos(p_type, 'a') AS BIGINT) AS a_pos,
       replace(p_brand, '#', '-') AS brand_dash
FROM part
"""


def q_f11_date_funcs(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("isodow"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.lit("1996-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_96"),
    )


SQL_F11 = """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(day(o_orderdate) AS INTEGER) AS dom,
       CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01') AS days_to_96
FROM orders
"""


def q_f12_conditional(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("seg"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nb"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_cap"),
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_tier"),
    )


SQL_F12 = """
SELECT c_custkey,
       coalesce(c_mktsegment, 'UNKNOWN') AS seg,
       nullif(c_mktsegment, 'BUILDING') AS seg_nb,
       greatest(c_acctbal, 0.0) AS bal_floor,
       least(c_acctbal, 5000.0) AS bal_cap,
       CASE WHEN c_acctbal < 0 THEN 'overdrawn'
            WHEN c_acctbal < 1000 THEN 'low'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'high' END AS bal_tier
FROM customer
"""


def q_q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join fact to dim, per-customer count
    (zero included), then the distribution of those counts — a
    two-level aggregation where losing the zero-order customers is the
    classic correctness bug."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return group_summary(per_cust, ["c_count"], {"custdist": F.count(F.lit(1))})


SQL_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
) t
GROUP BY c_count
"""


def q_q17_small_qty(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-group threshold — lineitems below
    half their part's average quantity. Decorrelated as per-part
    aggregate + join (what a correlated scalar subquery plans to)."""
    li = _t(spark, sf_dir, "lineitem")
    avg_per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.round(F.avg("l_quantity") * 0.5, 6).alias("half_avg")
    )
    # no broadcast hint: one row per part GROWS with scale factor;
    # AQE broadcasts it at test scale, shuffles at 100 TB
    return (
        li.join(avg_per_part, li["l_partkey"] == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "half_avg")
    )


SQL_Q17 = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, half_avg
FROM lineitem
JOIN (
    SELECT l_partkey AS pk, round(avg(l_quantity) * 0.5, 6) AS half_avg
    FROM lineitem GROUP BY l_partkey
) a ON l_partkey = pk
WHERE l_quantity < half_avg
"""


def q_q15_scalar_subquery(spark, sf_dir):
    """Scalar-subquery shape: rows at the global maximum (exact, so the
    boundary is engine-stable). Decorrelated as a 1-row broadcast
    cross join."""
    li = _t(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_quantity").alias("max_qty"))
    return (
        li.crossJoin(F.broadcast(mx))
        .filter(F.col("l_quantity") == F.col("max_qty"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


SQL_Q15 = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity = (SELECT max(l_quantity) FROM lineitem)
"""


def q_w8_lead_first_last(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(wf).alias("first_type"),
        F.last("event_type").over(wf).alias("last_type"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


SQL_W8 = """
SELECT event_id, user_id,
       lead(event_type) OVER w AS next_type,
       first_value(event_type) OVER wf AS first_type,
       last_value(event_type) OVER wf AS last_type,
       round(percent_rank() OVER w, 6) AS pr
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wf AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_a13_conditional_agg(spark, sf_dir):
    """Conditional aggregation (FILTER-clause family): one pass, several
    predicated measures — the idiomatic replacement for N filtered
    scans."""
    li = _t(spark, sf_dir, "lineitem")
    return group_summary(
        li,
        ["l_linestatus"],
        {
            "n_returned": F.count(F.when(F.col("l_returnflag") == "R", 1)),
            "ret_revenue": F.round(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R",
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    ).otherwise(0.0)
                ),
                2,
            ),
            "avg_disc_hi": F.round(F.avg(F.when(F.col("l_quantity") > 25, F.col("l_discount"))), 6),
        },
    )


SQL_A13 = """
SELECT l_linestatus,
       count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
       round(sum(CASE WHEN l_returnflag = 'R'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END), 2) AS ret_revenue,
       round(avg(l_discount) FILTER (WHERE l_quantity > 25), 6) AS avg_disc_hi
FROM lineitem
GROUP BY l_linestatus
"""


def q_q4_priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: grouped count of orders in a date window that
    have at least one matching lineitem (EXISTS). Decorrelated as a
    left-semi join — Catalyst plans exactly this for the EXISTS form."""
    from stockpy_spark.operators.joins import semi_join

    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        semi_join(orders, returned, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q_q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average balance and no
    RECENT orders — scalar aggregate subquery (1-row broadcast) + anti
    join + grouped count/sum. (The date scope keeps the anti join
    non-trivial: in this data every customer has *some* order.)"""
    from stockpy_spark.operators.joins import anti_join

    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    with_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        anti_join(rich, with_orders, "c_custkey")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_Q22 = """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= DATE '1999-01-01')
GROUP BY c_nationkey
"""


def q_q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer — 4-way
    join, grouped revenue, top 20 (TakeOrderedAndProject). nation is
    structurally tiny -> explicit broadcast; customer is NOT (it grows
    with scale factor), so its join strategy is left to Catalyst/AQE —
    broadcast at test scale, shuffle join at 100 TB."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


CORE_QUERIES: dict[str, tuple] = {
    "q4_priority_exists": (q_q4_priority_exists, SQL_Q4),
    "q22_idle_rich_customers": (q_q22_idle_rich_customers, SQL_Q22),
    "q10_returned_revenue": (q_q10_returned_revenue, SQL_Q10),
    "set2_intersect": (q_set2_intersect, SQL_SET2),
    "set3_except": (q_set3_except, SQL_SET3),
    "f10_string_funcs": (q_f10_string_funcs, SQL_F10),
    "f11_date_funcs": (q_f11_date_funcs, SQL_F11),
    "f12_conditional": (q_f12_conditional, SQL_F12),
    "q13_custdist": (q_q13_custdist, SQL_Q13),
    "q17_small_qty": (q_q17_small_qty, SQL_Q17),
    "q15_scalar_subquery": (q_q15_scalar_subquery, SQL_Q15),
    "w8_lead_first_last": (q_w8_lead_first_last, SQL_W8),
    "a13_conditional_agg": (q_a13_conditional_agg, SQL_A13),
    "q5_multi_join": (q_q5_multi_join, SQL_Q5),
    "q3_top_unshipped": (q_q3_top_unshipped, SQL_Q3),
    "q1_pricing_summary": (q_q1_pricing_summary, SQL_Q1),
    "q6_forecast_revenue": (q_q6_forecast_revenue, SQL_Q6),
    "j6_salted_join": (q_j6_salted_join, SQL_J6),
    "a11_percentiles": (q_a11_percentiles, SQL_A11),
    "a12_grouping_sets": (q_a12_grouping_sets, SQL_A12),
    "w6_rank_family": (q_w6_rank_family, SQL_W6),
    "w7_range_frame": (q_w7_range_frame, SQL_W7),
    "p10_unpivot": (q_p10_unpivot, SQL_P10),
    "f8_math_funcs": (q_f8_math_funcs, SQL_F8),
    "f9_posexplode_tokens": (q_f9_posexplode_tokens, SQL_F9),
    "f13_array_funcs": (q_f13_array_funcs, SQL_F13),
    "flagship_event_enrichment": (q_flagship, SQL_FLAGSHIP),
    "p1_conditional_cast": (q_p1_conditional_cast, SQL_P1),
    "p2_rename_literal": (q_p2_rename_literal, SQL_P2),
    "p4_fuzzy_align": (q_p4_fuzzy_align, SQL_P4),
    "p6_filter_range": (q_p6_filter_range, SQL_P6),
    "p7_cross_column_equal": (q_p7_cross_column_equal, SQL_P7),
    "p8_p9_dropna_cast": (q_p8_p9_dropna_cast, SQL_P8),
    "j1_broadcast_enrich": (q_j1_broadcast_enrich, SQL_J1),
    "j2_agg_backjoin": (q_j2_agg_backjoin, SQL_J2),
    "j2w_window_stats": (q_j2w_window_stats, SQL_J2W),
    "j3_inner_join_agg": (q_j3_inner_join_agg, SQL_J3),
    "j4_semi_join": (q_j4_semi_join, SQL_J4),
    "j5_anti_join": (q_j5_anti_join, SQL_J5),
    "a1_group_agg": (q_a1_group_agg, SQL_A1),
    "a2_count_star": (q_a2_count_star, SQL_A2),
    "a3_distinct": (q_a3_distinct, SQL_A3),
    "a4_dedup_first": (q_a4_dedup_first, SQL_A4),
    "a6_count_distinct": (q_a6_count_distinct, SQL_A6),
    "a7_minmax_stddev": (q_a7_minmax_stddev, SQL_A7),
    "a8_rollup": (q_a8_rollup, SQL_A8),
    "a9_cube": (q_a9_cube, SQL_A9),
    "a10_pivot": (q_a10_pivot, SQL_A10),
    "w1_lag_delta": (q_w1_lag_delta, SQL_W1),
    "w2_rolling_mean": (q_w2_rolling_mean, SQL_W2),
    "w3_topk_per_group": (q_w3_topk_per_group, SQL_W3),
    "w4_running_sum": (q_w4_running_sum, SQL_W4),
    "w5_sessionize": (q_w5_sessionize, SQL_W5),
    "o1_topk": (q_o1_topk, SQL_O1),
    "set1_union_by_name": (q_set1_union_by_name, SQL_SET1),
    "f1_regexp_date_json": (q_f1_regexp_date_json, SQL_F1),
    "f7_string_funcs": (q_f7_string_funcs, SQL_F7),
}
