"""Second wave of TPC-H query shapes (Q7/8/9/12/14/18/19/21 families).

Same contract as registry_core: name -> (spark_fn, duckdb_sql). Shapes
are adapted where the driver testdata lacks TPC-H columns — there is no
partsupp table and lineitem has no commitdate/receiptdate/shipmode — so
Q9 uses p_retailprice as the cost proxy, Q12/Q21 define lateness as
l_shipdate > o_orderdate + interval (the reference semantics of the
original: classify/blame by delivery slack). Every aggregate is aliased
and rounded identically on both sides.

Scale notes: every query keeps the canonical plan — dims broadcast
(nation/region/part-by-filter), fact-fact joins shuffle once on the
join key, aggregates combine map-side, top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators import group_summary, semi_join, top_k
from stockpy_spark.sources.testdata import _t


def q_q7_volume_shipping(spark, sf_dir):
    """Q7 shape: revenue flow between distinct (supplier nation,
    customer nation) pairs by ship year. Two fact joins (li-orders,
    orders-customer) shuffle; both nation dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        # at lake scale l_year should come from the table's date
        # partition column (year=.../month=...) rather than
        # year(l_shipdate): the derivation is free AND a ship-year
        # predicate then prunes partitions instead of scanning 100 TB.
        # The driver testdata is unpartitioned, so derive it here.
        .withColumn("l_year", F.year("l_shipdate"))
    )
    # 4k+ groups make a float-summation-order rounding tie likely
    # somewhere: sum exact decimals (order-independent) instead of
    # rounding an order-dependent double sum. The FINAL output is cast
    # to double on both engines — DuckDB types the decimal aggregate as
    # DECIMAL(38,2), which driver hashers canonicalize differently from
    # Spark's decimal(18,2) even when values are identical (round-2
    # finding); a 2-dp value well under 2^53 converts to the same
    # double bit pattern on both sides.
    rev_term = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return group_summary(
        joined,
        ["supp_nation", "cust_nation", "l_year"],
        {"revenue": F.round(F.sum(rev_term), 2).cast("double")},
    )


SQL_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


def q_q8_market_share(spark, sf_dir):
    """Q8 shape: per order-year share of EUROPE-customer revenue on
    ECONOMY parts contributed by one supplier nation. The share is a
    conditional-sum / sum ratio over one aggregate pass."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nat_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .withColumn("o_year", F.year("o_orderdate"))
    )
    return group_summary(
        joined,
        ["o_year"],
        {
            "mkt_share": F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            )
        },
    )


SQL_Q8 = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_1'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part      ON l_partkey = p_partkey
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
GROUP BY year(o_orderdate)
"""


def q_q9_product_profit(spark, sf_dir):
    """Q9 shape: profit per (supplier nation, order year) on a part-name
    filter. No partsupp in the testdata, so cost = 10% of
    p_retailprice x quantity — the join/agg structure (two fact joins,
    part + nation broadcast, substring filter) is the point."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    nation = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    ).cast("decimal(18,4)")
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit.alias("amount"),
        )
    )
    # final double cast on both engines — see q7 note on decimal hashing
    return group_summary(
        joined,
        ["nation", "o_year"],
        {"sum_profit": F.round(F.sum("amount"), 2).cast("double")},
    )


SQL_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           - p_retailprice * CAST(0.1 AS DOUBLE) * l_quantity
                      AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


def q_q12_late_shipments(spark, sf_dir):
    """Q12 shape: per lateness class, conditional counts of
    critical-priority orders. The testdata has no
    commitdate/receiptdate/shipmode; lateness = shipped more than 60
    days after the order date, classes = late vs on-time."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).withColumn(
        "ship_class",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
            F.lit("LATE"),
        ).otherwise(F.lit("ON_TIME")),
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return group_summary(
        joined,
        ["ship_class"],
        {
            "high_line_count": F.sum(F.when(crit, 1).otherwise(0)),
            "low_line_count": F.sum(F.when(~crit, 1).otherwise(0)),
        },
    )


SQL_Q12 = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
            THEN 'LATE' ELSE 'ON_TIME' END AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q_q14_promo_revenue(spark, sf_dir):
    """Q14 shape: promo-type revenue share inside a ship-date window —
    one broadcast part join, one conditional/total ratio."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            6,
        ).alias("promo_revenue")
    )


SQL_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
"""


def q_q18_large_orders(spark, sf_dir):
    """Q18 shape: orders whose total quantity clears a threshold,
    joined back to customer, top-k by totalprice. The having-aggregate
    is computed once on the fact and semi-joins the detail — no
    re-aggregation after the join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    joined = (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
    )
    return top_k(joined, ["o_totalprice", "o_orderkey"], 20, descending=True)


SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(total_qty, 2) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey DESC
LIMIT 20
"""


def q_q19_disjunctive_predicates(spark, sf_dir):
    """Q19 shape: revenue under a disjunction of (brand, size-range,
    quantity-range) triples — the OR-of-ANDs predicate family the
    optimizer must evaluate post-join without falling into a
    cartesian plan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(5, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SQL_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 5 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""


def q_q21_blame_supplier(spark, sf_dir):
    """Q21 shape: suppliers solely responsible for a late
    multi-supplier order (EXISTS another supplier's line / NOT EXISTS
    another supplier's late line). Lateness = shipped > 30 days after
    the order date (no receipt/commit dates in the testdata). All
    set-probes are semi/anti joins on (orderkey, suppkey) pairs —
    never a per-row correlated subquery."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    late = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = pairs.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    other_exists = (
        late.join(
            other,
            (late["l_orderkey"] == other["o_k"]) & (late["l_suppkey"] != other["o_s"]),
            "left_semi",
        )
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    blamed = other_exists.join(
        other_late,
        (other_exists["l_orderkey"] == other_late["o_k"])
        & (other_exists["l_suppkey"] != other_late["o_s"]),
        "left_anti",
    )
    counted = group_summary(
        blamed.join(supp, blamed["l_suppkey"] == supp["s_suppkey"]),
        ["s_name"],
        {"numwait": F.count(F.lit(1))},
    )
    return top_k(counted, ["numwait", "s_name"], 20, descending=True)


SQL_Q21 = """
WITH late AS (
    SELECT DISTINCT l_orderkey, l_suppkey
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
), blamed AS (
    SELECT l1.l_orderkey, l1.l_suppkey
    FROM late l1
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
)
SELECT s_name, count(*) AS numwait
FROM blamed JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name DESC
LIMIT 20
"""


def q_q16_supplier_variety(spark, sf_dir):
    """Q16 shape: how many distinct suppliers serve each (brand, type,
    size) bucket, excluding one brand — a count-distinct AFTER a join,
    which Spark executes as expand + two-phase aggregate (no partsupp
    in the testdata; lineitem is the part-supplier link)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return group_summary(
        joined,
        ["p_brand", "p_type", "p_size"],
        {"supplier_cnt": F.countDistinct("l_suppkey")},
    )


SQL_Q16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
GROUP BY p_brand, p_type, p_size
"""


def q_q20_heavy_shippers(spark, sf_dir):
    """Q20 shape: suppliers that moved more than a threshold quantity
    of a filtered part family — nested aggregation feeding a semi-join
    (the original's NOT-IN/partsupp ladder collapses to the same
    aggregate -> semi-join chain without partsupp)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    heavy = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )
    out = semi_join(
        supp.withColumnRenamed("s_suppkey", "l_suppkey"), heavy, "l_suppkey"
    ).join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    return out.select(
        F.col("l_suppkey").alias("s_suppkey"), "s_name", F.col("n_name").alias("nation")
    )


SQL_Q20 = """
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100
)
"""


TPCH2_QUERIES = {
    "q16_supplier_variety": (q_q16_supplier_variety, SQL_Q16),
    "q20_heavy_shippers": (q_q20_heavy_shippers, SQL_Q20),
    "q7_volume_shipping": (q_q7_volume_shipping, SQL_Q7),
    "q8_market_share": (q_q8_market_share, SQL_Q8),
    "q9_product_profit": (q_q9_product_profit, SQL_Q9),
    "q12_late_shipments": (q_q12_late_shipments, SQL_Q12),
    "q14_promo_revenue": (q_q14_promo_revenue, SQL_Q14),
    "q18_large_orders": (q_q18_large_orders, SQL_Q18),
    "q19_disjunctive": (q_q19_disjunctive_predicates, SQL_Q19),
    "q21_blame_supplier": (q_q21_blame_supplier, SQL_Q21),
}
