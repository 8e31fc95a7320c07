"""Relational analytics — join/agg/top-k shapes over the TPC-H-ish
star schema (engine capability beyond the join-free reference; SURVEY.md
§2.3 note)."""

from __future__ import annotations

from kafkasparkstream_spark.operators import analytics  # noqa: E402
from kafkasparkstream_spark.tables import load_table
from kafkasparkstream_spark.util import current_scope
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from kafkasparkstream_spark.queries._shared import (  # noqa: E402
    register,
)

@register(
    "pricing_summary",
    oracle="""
    WITH u AS (
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(l_quantity, 0) AS BIGINT)            AS q,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS pc,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT)      AS dc,
               CAST(ROUND(l_tax * 100, 0) AS BIGINT)           AS tc
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(q) AS DOUBLE)                                 AS sum_qty,
           CAST(SUM(pc) AS DOUBLE) / 100.0                        AS sum_base_price,
           CAST(SUM(pc * (100 - dc)) AS DOUBLE) / 10000.0         AS sum_disc_price,
           CAST(SUM((pc * (100 - dc) * (100 + tc)) // 1000000) AS DOUBLE)
             + CAST(SUM((pc * (100 - dc) * (100 + tc)) % 1000000) AS DOUBLE)
               / 1000000.0                                        AS sum_charge,
           ROUND(CAST(SUM(q) AS DOUBLE) * 10000.0 / COUNT(*), 0) / 10000.0
                                                                  AS avg_qty,
           ROUND(CAST(SUM(pc) AS DOUBLE) * 100.0 / COUNT(*), 0) / 10000.0
                                                                  AS avg_price,
           ROUND(CAST(SUM(dc) AS DOUBLE) * 100.0 / COUNT(*), 0) / 10000.0
                                                                  AS avg_disc,
           COUNT(*)                                               AS count_order
    FROM u
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter (pushed down) → grouped multi-agg."""
    return analytics.pricing_summary(load_table(spark, "lineitem", sf_dir))


@register(
    "top_orders_by_revenue",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim filter → 3-way join → grouped revenue → top-k."""
    return analytics.top_orders_by_revenue(
        load_table(spark, "customer", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "lineitem", sf_dir),
    )


@register(
    "region_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY revenue DESC, n_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join with broadcast dims, per-nation revenue."""
    return analytics.region_revenue(
        load_table(spark, "region", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "supplier", sf_dir),
    )


@register(
    "brand_revenue_topk",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
           ROUND(SUM(l_quantity), 4)                         AS total_qty,
           COUNT(*)                                          AS line_count
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    ORDER BY revenue DESC, p_brand
    LIMIT 10
    """,
)
def brand_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join + grouped revenue + top-k brands."""
    return analytics.brand_revenue_topk(
        load_table(spark, "part", sf_dir), load_table(spark, "lineitem", sf_dir)
    )


@register(
    "order_priority_counts",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1998-06-01'
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join, counts per priority."""
    return analytics.order_priority_counts(
        load_table(spark, "orders", sf_dir), load_table(spark, "lineitem", sf_dir)
    )


@register(
    "customer_nation_rollup",
    oracle="""
    SELECT n_name,
           COUNT(*)                       AS order_count,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS total_spend,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) * 100.0
                 / COUNT(*), 0) / 10000.0 AS avg_spend
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY total_spend DESC, n_name
    """,
)
def customer_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + per-nation order stats."""
    return analytics.customer_nation_rollup(
        load_table(spark, "customer", sf_dir),
        load_table(spark, "nation", sf_dir),
        load_table(spark, "orders", sf_dir),
    )


@register(
    "bi_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_0', 'NATION_1')
      AND n2.n_name IN ('NATION_0', 'NATION_1')
      AND n1.n_name <> n2.n_name
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def bi_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between a nation pair, both directions."""
    return analytics.bi_nation_volume(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "customer", sf_dir),
        load_table(spark, "nation", sf_dir),
    )


@register(
    "small_quantity_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
                 * 100.0 / 7.0, 0) / 10000.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery, decorrelated into a
    pre-aggregate + join on the Spark side."""
    return analytics.small_quantity_revenue(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )


@register(
    "stale_order_counts",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '1998-06-01'
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def stale_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a left-anti join (dual of order_priority_counts)."""
    return analytics.stale_order_counts(
        load_table(spark, "orders", sf_dir), load_table(spark, "lineitem", sf_dir)
    )


@register(
    "revenue_change_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS revenue_increase
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_discount BETWEEN 0.05 - 0.01001 AND 0.05 + 0.01001
      AND l_quantity < 24
    """,
)
def revenue_change_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: all predicates pushed to one scan, one ungrouped agg."""
    return analytics.revenue_change_forecast(load_table(spark, "lineitem", sf_dir))


@register(
    "nation_market_share",
    oracle="""
    WITH u AS (
        SELECT year(o_orderdate) AS o_year, n_name,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS vu
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_0' THEN vu ELSE 0 END)
                      AS DOUBLE)
                 / CAST(SUM(vu) AS DOUBLE) * 10000.0, 0) / 10000.0 AS mkt_share
    FROM u
    GROUP BY 1 ORDER BY 1
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: per-year conditional-aggregate revenue share."""
    return analytics.nation_market_share(
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "nation", sf_dir),
    )


@register(
    "disjunctive_filter_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS line_count
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates across both join sides."""
    return analytics.disjunctive_filter_revenue(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )


@register(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + double aggregation."""
    return analytics.customer_order_distribution(
        load_table(spark, "customer", sf_dir), load_table(spark, "orders", sf_dir)
    )


@register(
    "promo_revenue_share",
    oracle="""
    WITH u AS (
        SELECT p_type,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                 * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS vu
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1998-06-01'
          AND l_shipdate <  TIMESTAMP '1998-07-01'
    )
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN vu ELSE 0 END)
                              AS DOUBLE)
                 / CAST(SUM(vu) AS DOUBLE) * 10000.0, 0) / 10000.0
               AS promo_revenue_pct
    FROM u
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (CASE inside SUM) ratio."""
    return analytics.promo_revenue_share(
        load_table(spark, "lineitem", sf_dir), load_table(spark, "part", sf_dir)
    )


@register(
    "top_supplier_revenue",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey, CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate <  TIMESTAMP '1998-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate → max-filter via 1-row broadcast join."""
    return analytics.top_supplier_revenue(
        load_table(spark, "supplier", sf_dir), load_table(spark, "lineitem", sf_dir)
    )


@register(
    "large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROUND(t.sum_qty, 4) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN (
        SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    ) t ON o_orderkey = t.l_orderkey
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered agg as a semi-join key list."""
    return analytics.large_volume_customers(
        load_table(spark, "customer", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "lineitem", sf_dir),
    )


@register(
    "wealthy_inactive_customers",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS totacctbal
    FROM customer c
    WHERE CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
            * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
          > (SELECT SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT))
             FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: global-avg scalar subquery + anti join + rollup."""
    return analytics.wealthy_inactive_customers(
        load_table(spark, "customer", sf_dir), load_table(spark, "orders", sf_dir)
    )


@register(
    "returned_items_by_customer",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, n_name, revenue, c_acctbal
    FROM rev
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_items_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned revenue in a quarter
    (fact-side filters pushed to both scans, revenue aggregated per custkey
    BEFORE the dimension joins, top-k as TakeOrderedAndProject)."""
    return analytics.returned_items_topk(
        load_table(spark, "customer", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "nation", sf_dir),
    )


@register(
    "waiting_suppliers",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_suppkey,
               l_shipdate >= TIMESTAMP '1998-06-01' AS is_late
        FROM lineitem
    ),
    per_order AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
        FROM li GROUP BY l_orderkey
    ),
    qualifying AS (
        SELECT p.l_orderkey
        FROM per_order p
        JOIN orders o ON o.o_orderkey = p.l_orderkey AND o.o_orderstatus = 'F'
        WHERE p.n_supp >= 2 AND p.n_late_supp = 1
    ),
    sole_late AS (
        SELECT DISTINCT li.l_orderkey, li.l_suppkey
        FROM li JOIN qualifying q ON li.l_orderkey = q.l_orderkey
        WHERE li.is_late
    )
    SELECT s_name, n_name, COUNT(*) AS numwait
    FROM sole_late
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY s_name, n_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the supplier who was the sole late shipper of a
    multi-supplier finished order, counted per supplier. One aggregation
    pass over lineitem replaces the textbook EXISTS / NOT-EXISTS double
    self-join (see operators/analytics.waiting_suppliers)."""
    return analytics.waiting_suppliers(
        load_table(spark, "supplier", sf_dir),
        load_table(spark, "lineitem", sf_dir),
        load_table(spark, "orders", sf_dir),
        load_table(spark, "nation", sf_dir),
    )


@register(
    "order_to_ship_latency",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(AVG(datediff('day', o_orderdate, l_shipdate)), 4)
               AS avg_days_to_ship,
           ROUND(quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.5), 4)
               AS p50_days_to_ship,
           ROUND(quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.95), 4)
               AS p95_days_to_ship,
           CAST(MIN(datediff('day', o_orderdate, l_shipdate)) AS INT)
               AS min_days_to_ship,
           CAST(MAX(datediff('day', o_orderdate, l_shipdate)) AS INT)
               AS max_days_to_ship
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def order_to_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority class — one keyed
    fact join + hash-agg with exact p50/p95."""
    return analytics.order_to_ship_latency(
        load_table(spark, "orders", sf_dir), load_table(spark, "lineitem", sf_dir)
    )


@register(
    "order_fanout_profile",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1
    )
    SELECT CAST(n_lines AS INT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(COUNT(*)) OVER (ORDER BY n_lines
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_orders
    FROM per_order GROUP BY n_lines ORDER BY n_lines
    """,
)
def order_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key fan-out histogram: how many lineitems each order key fans
    out to, with a cumulative curve — the profile that decides whether the
    orders⋈lineitem join needs skew handling (a long tail here is the skew;
    compare key_skew_report for the per-key view). Two hash aggregates over
    8-byte keys; the histogram itself is ~10 rows."""
    from pyspark.sql.window import Window

    lineitem = load_table(spark, "lineitem", sf_dir)
    per_order = lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    hist = per_order.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.orderBy("n_lines").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        hist.withColumn("cum_orders", F.sum("n_orders").over(w))
        .select(
            F.col("n_lines").cast("int").alias("n_lines"),
            "n_orders",
            F.col("cum_orders").cast("long").alias("cum_orders"),
        )
        .orderBy("n_lines")
    )


@register(
    "pareto_customers",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey, c.c_name, c.c_acctbal,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    )
    SELECT c_custkey, c_name, c_acctbal, n_orders
    FROM co r
    WHERE NOT EXISTS (
        SELECT 1 FROM co s
        WHERE s.c_acctbal > r.c_acctbal AND s.n_orders > r.n_orders
    )
    ORDER BY c_acctbal DESC, c_custkey
    """,
)
def pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over customers: the rows not strictly
    dominated on (account balance, order count) — "no one is both richer
    AND more active". Strict dominance on both axes keeps tie handling
    simple: equal-balance or equal-count rows never dominate each other.

    The oracle is the quadratic NOT EXISTS; the Spark plan is the
    distributed two-level sweep (Borzsony/Kossmann skyline literature,
    bucket-prune variant): bucket the x-axis into fixed-width ranges, take
    max(y) per (bucket, x) — one fact-sized shuffle — roll per-bucket maxima
    through a tiny ordered window to get each bucket's carry-in (the best y
    seen in any strictly-higher bucket), then finish with a per-bucket
    window (partitionBy bucket — parallel, never a global sort) computing
    the running max over strictly-greater x within the bucket. A row
    survives iff no strictly-greater x anywhere beat its y. Every step is an
    equi-join or keyed window; the only single-partition structure is the
    per-bucket carry-in table (~22 rows).
    """
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    co = (
        customer.join(
            orders.select(F.col("o_custkey").alias("c_custkey"), "o_orderkey"),
            "c_custkey",
            "left",
        )
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        analytics.skyline_2d(co, x="c_acctbal", y="n_orders", bucket_width=500.0)
        .select("c_custkey", "c_name", "c_acctbal", "n_orders")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
    )


@register(
    "brand_basket_lift",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    bc AS (SELECT p_brand, COUNT(*) AS cnt FROM items GROUP BY 1),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS pair_cnt
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    )
    SELECT brand_a, brand_b,
           CAST(pair_cnt AS BIGINT) AS pair_orders,
           ROUND(pair_cnt * 1.0 * tot.n_orders / (ca.cnt * cb.cnt), 6) AS lift
    FROM pairs
    JOIN bc ca ON ca.p_brand = pairs.brand_a
    JOIN bc cb ON cb.p_brand = pairs.brand_b
    CROSS JOIN tot
    WHERE pair_cnt >= 50
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 15
    """,
)
def brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift between part brands co-purchased in one order:
    lift = P(a,b) / (P(a)·P(b)) over order baskets, the association-rule
    screen (lift > 1 = brands bought together more than chance). Extends
    session_type_pairs (co-occurrence support) with marginal normalization.

    100 TB shape: part is the broadcast dim; the basket self-join is
    co-partitioned on l_orderkey with fan-out bounded by the max basket size
    (~13 distinct brands/order → ≤78 pairs), so the pair explosion is
    linear in facts, not quadratic in the catalog. Pair counts and brand
    marginals are |brands|² and |brands| rows — the lift join is all
    broadcast; the 1-row basket total rides a sanctioned broadcast.
    """
    lineitem = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    # one orderkey-keyed shuffle builds each basket's distinct-brand set
    # (collect_set dedups map-side); pair expansion is a JVM array comb —
    # no self-join, no second fact-sized shuffle
    baskets = (
        lineitem.select(F.col("l_partkey").alias("p_partkey"), "l_orderkey")
        .join(F.broadcast(part.select("p_partkey", "p_brand")), "p_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("p_brand").alias("bs"))
        # three consumers (total, marginals, pairs) — materialize the
        # basket-sized table once instead of re-running the fact join+agg
        .transform(current_scope().checkpoint)
    )
    tot = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    bc = baskets.select(F.explode("bs").alias("p_brand")).groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pair_expr = F.expr(
        "flatten(transform(bs, x -> "
        "transform(filter(bs, y -> y > x), y -> struct(x AS a, y AS b))))"
    )
    pairs = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .groupBy(
            F.col("p.a").alias("brand_a"), F.col("p.b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 50)
    )
    ca = bc.select(F.col("p_brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))
    cb = bc.select(F.col("p_brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .join(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            F.col("pair_cnt").cast("long").alias("pair_orders"),
            F.round(
                F.col("pair_cnt") * F.col("n_orders") / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(15)
    )


@register(
    "nation_revenue_gini",
    oracle="""
    WITH rev AS (
        SELECT c.c_nationkey, c.c_custkey,
               SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS r
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    rk AS (
        SELECT c_nationkey, r,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY r, c_custkey) AS i,
               COUNT(*) OVER (PARTITION BY c_nationkey) AS n,
               SUM(r) OVER (PARTITION BY c_nationkey) AS tot
        FROM rev
    )
    SELECT n.n_name,
           CAST(MAX(rk.n) AS BIGINT) AS n_customers,
           CAST(MAX(rk.tot) AS DOUBLE) / 100.0 AS total_revenue,
           ROUND((2.0 * CAST(SUM(rk.i * rk.r) AS DOUBLE)
                  / (CAST(MAX(rk.n) AS DOUBLE) * CAST(MAX(rk.tot) AS DOUBLE))
                  - (CAST(MAX(rk.n) AS DOUBLE) + 1.0) / CAST(MAX(rk.n) AS DOUBLE))
                 * 1000000.0, 0) / 1000000.0 AS gini
    FROM rk JOIN nation n ON n.n_nationkey = rk.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def nation_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation as a Gini coefficient — the
    inequality metric behind every 80/20 revenue claim, computed from the
    Lorenz-ordered rank sum: G = 2·Σ(i·rᵢ)/(n·Σr) − (n+1)/n with customers
    ranked ascending by revenue (ties broken by key for determinism).

    100 TB shape: one customers⋈orders equi-join pre-aggregated to
    (nation, customer) revenue, then rank/count/total ride a single
    nation-partitioned WindowExec pass — per-nation sequential work, all
    nations in parallel, never a global sort. The nation dim joins by
    broadcast; output is |nations| rows. A skewed mega-nation serializes
    its own partition only — the documented mitigation is two-phase rank
    (range-partition by revenue within nation, offset by per-range counts),
    same shape as peak_concurrency's distributed prefix sum."""
    customer = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    from pyspark.sql.window import Window

    rev = (
        customer.select("c_custkey", "c_nationkey")
        .join(
            orders.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice"),
            "c_custkey",
        )
        .groupBy("c_nationkey", "c_custkey")
        # Exact integer cents: the per-customer revenue, the rank order and
        # the nation totals are all order-independent integers; only the
        # final ratio touches floats (identical IEEE ops on identical
        # integers in both engines — the sf1.0 sweep caught the raw-double
        # variant flipping at the 9dp compare grid).
        .agg(F.sum(F.rint(F.col("o_totalprice") * 100).cast("long")).alias("r"))
    )
    wp = Window.partitionBy("c_nationkey")
    rk = (
        rev.withColumn("i", F.row_number().over(wp.orderBy("r", "c_custkey")))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("tot", F.sum("r").over(wp))
    )
    n_d = F.max("n").cast("double")
    tot_d = F.max("tot").cast("double")
    gini_raw = (
        2.0 * F.sum(F.col("i") * F.col("r")).cast("double") / (n_d * tot_d)
        - (n_d + 1.0) / n_d
    )
    return (
        rk.join(
            F.broadcast(
                nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")
            ),
            "c_nationkey",
        )
        .groupBy("n_name")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            (F.max("tot").cast("double") / 100.0).alias("total_revenue"),
            (F.round(gini_raw * 1000000.0, 0) / 1000000.0).alias("gini"),
        )
        .orderBy("n_name")
    )


@register(
    "lineitem_corr_matrix",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           ROUND(corr(l_quantity, l_discount), 6) AS qty_discount,
           ROUND(corr(l_extendedprice, l_discount), 6) AS price_discount,
           ROUND(corr(l_extendedprice, l_tax), 6) AS price_tax
    FROM lineitem
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations between the lineitem numeric measures,
    all in ONE scan: corr is a decomposable aggregate (sums of products),
    so four pairs cost one map-side-combined pass with no shuffle beyond
    the 1-row combine — the feature-redundancy screen run before any model
    sees the columns. Contrast with calling df.stat.corr per pair, which
    would scan the fact table four times."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("qty_discount"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("price_discount"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("price_tax"),
    )


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
               AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    ORDER BY fk
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table foreign-key audit: orphan counts for the four main FK
    edges, the first integrity gate a 100 TB warehouse runs after ingest.
    Each edge is a LEFT ANTI join — dimension sides (nation, part,
    customer) broadcast; the lineitem→orders edge is the one shuffled
    anti-join, co-partitioned on the key. Four tiny counts union to one
    4-row report; a healthy warehouse reads all zeros."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    part = load_table(spark, "part", sf_dir)

    def orphans(fact, key, dim, dkey, label, bcast=True):
        d = dim.select(F.col(dkey).alias(key)).distinct()
        d = F.broadcast(d) if bcast else d
        return (
            fact.select(key)
            .join(d, key, "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    return (
        orphans(li, "l_orderkey", orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "lineitem.l_orderkey->orders", bcast=False)
        .unionByName(orphans(orders, "o_custkey", customer, "c_custkey", "orders.o_custkey->customer"))
        .unionByName(orphans(customer, "c_nationkey", nation, "n_nationkey", "customer.c_nationkey->nation"))
        .unionByName(orphans(li, "l_partkey", part, "p_partkey", "lineitem.l_partkey->part"))
        .orderBy("fk")
    )


@register(
    "pricing_exact_decimal",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS DECIMAL(18,0)))
                AS BIGINT) AS sum_price_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS DECIMAL(18,0))
                    * CAST(100 - ROUND(l_discount * 100, 0) AS DECIMAL(18,0)))
                AS BIGINT) AS sum_disc_price_du,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pricing_exact_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pricing summary on EXACT decimal arithmetic — what a financial
    close needs, where the double-based twin (pricing_summary) carries
    ~1e-10 summation noise. The 2dp source doubles become integer cents
    via a scale-0 round (the portable quantization — casting a double
    straight to DECIMAL(18,2) re-rounds at the representation boundary and
    engines disagree by a cent); all sums then run in integer decimal
    space, exact and order-independent. The ledger columns are emitted as
    exact integer units (cents, and 1e-4 discount-units) in BIGINT — the
    repo's cross-engine grid convention: a DECIMAL output column is the
    same driver-hash-serialization hazard class as DuckDB's SUM(int)
    HUGEINT widening (r04), so integer units cross the gate instead.
    Still one map-side-combined hash agg; decimal costs ~2-3x double
    arithmetic, the price of auditable-to-the-cent results."""
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.rint(F.col("l_extendedprice") * 100).cast("decimal(18,0)")
    disc_c = (F.lit(100) - F.rint(F.col("l_discount") * 100)).cast("decimal(18,0)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents).cast("long").alias("sum_price_cents"),
            F.sum(cents * disc_c).cast("long").alias("sum_disc_price_du"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "revenue_rank_stability",
    oracle="""
    WITH h AS (SELECT MIN(o_orderdate)
                      + to_days(CAST(date_diff('day', MIN(o_orderdate),
                                               MAX(o_orderdate)) // 2 AS INT))
                   AS mid FROM orders),
    r1 AS (
        SELECT o_custkey, SUM(ROUND(o_totalprice * 100, 0)) AS rev1
        FROM orders, h WHERE o_orderdate < mid GROUP BY o_custkey
    ),
    r2 AS (
        SELECT o_custkey, SUM(ROUND(o_totalprice * 100, 0)) AS rev2
        FROM orders, h WHERE o_orderdate >= mid GROUP BY o_custkey
    ),
    top AS (
        SELECT o_custkey, rev1, rev2 FROM r1 JOIN r2 USING (o_custkey)
        ORDER BY rev1 DESC, o_custkey LIMIT 100
    ),
    pairs AS (
        SELECT CASE WHEN (a.rev1 - b.rev1) * (a.rev2 - b.rev2) > 0
                    THEN 1 ELSE 0 END AS conc
        FROM top a JOIN top b ON a.o_custkey < b.o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           ROUND(2.0 * SUM(conc) / COUNT(*) - 1.0, 6) AS kendall_tau
    FROM pairs
    """,
)
def revenue_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the revenue leaderboard stable? Kendall tau-a between customers'
    first-half and second-half revenue orderings, over the top-100
    first-half customers — ~1 means the ranking persists, ~0 means churn.
    Concordance needs only RELATIVE order, so no global rank window ever
    runs: the top slice comes from orderBy+limit (TakeOrderedAndProject —
    parallel partial top-k, never a full sort) and pairs compare revenue
    differences directly. The quadratic pair join runs only on the k-row
    slice (k²/2 pairs regardless of corpus size — the standard way to make
    rank correlation feasible at 100 TB), broadcast to itself. Revenues
    ride the integer-cents grid so cross-engine sums tie exactly."""
    orders = load_table(spark, "orders", sf_dir)
    h = orders.agg(
        F.expr(
            "DATE_ADD(MIN(o_orderdate), "
            "CAST(DATEDIFF(MAX(o_orderdate), MIN(o_orderdate)) / 2 AS INT))"
        ).alias("mid")
    )
    cents = F.rint(F.col("o_totalprice") * 100)
    o = orders.join(F.broadcast(h))
    r1 = (
        o.filter(F.col("o_orderdate") < F.col("mid"))
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("rev1"))
    )
    r2 = (
        o.filter(F.col("o_orderdate") >= F.col("mid"))
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("rev2"))
    )
    top = (
        r1.join(r2, "o_custkey")
        .orderBy(F.desc("rev1"), "o_custkey")
        .limit(100)
        .transform(current_scope().checkpoint)
    )
    a, b = top.alias("a"), top.alias("b")
    conc = F.when(
        (F.col("a.rev1") - F.col("b.rev1")) * (F.col("a.rev2") - F.col("b.rev2")) > 0,
        1,
    ).otherwise(0)
    return (
        a.join(F.broadcast(b), F.col("a.o_custkey") < F.col("b.o_custkey"))
        .select(conc.alias("conc"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("conc").cast("long").alias("concordant"),
            F.round(2.0 * F.sum("conc") / F.count(F.lit(1)) - 1.0, 6).alias("kendall_tau"),
        )
    )


@register(
    "rfm_segment_counts",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', MAX(o_orderdate),
                         (SELECT MAX(o_orderdate) FROM orders)) AS recency_d,
               COUNT(*) AS freq,
               SUM(ROUND(o_totalprice * 100, 0)) AS monetary_c
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(recency_d, 0.5) AS r_med,
               quantile_cont(freq, 0.5) AS f_med,
               quantile_cont(monetary_c, 0.5) AS m_med
        FROM rfm
    )
    SELECT CASE WHEN recency_d <= r_med THEN 'recent' ELSE 'lapsed' END AS r_seg,
           CASE WHEN freq > f_med THEN 'frequent' ELSE 'occasional' END AS f_seg,
           CASE WHEN monetary_c > m_med THEN 'high_value' ELSE 'low_value' END AS m_seg,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(monetary_c) / 100.0, 4) AS avg_monetary
    FROM rfm, cuts
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation, the marketing
    workhorse, built WITHOUT the global ntile sort: per-customer R/F/M from
    one orders aggregate, median cut points from an exact-percentile
    aggregate (a 1-row broadcast — the sanctioned shape), then segment
    assignment is a row-local CASE and the cell counts a tiny hash agg.
    At 100 TB the cut points swap to approx_percentile, same plan.
    Monetary rides integer cents; the recency anchor is the corpus max
    date so the result is replay-stable."""
    orders = load_table(spark, "orders", sf_dir)
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    rfm = (
        orders.join(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("maxd"), F.col("o_orderdate"))).alias("recency_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.rint(F.col("o_totalprice") * 100)).alias("monetary_c"),
        )
    )
    cuts = rfm.agg(
        F.percentile("recency_d", F.lit(0.5)).alias("r_med"),
        F.percentile("freq", F.lit(0.5)).alias("f_med"),
        F.percentile("monetary_c", F.lit(0.5)).alias("m_med"),
    )
    seg = rfm.join(F.broadcast(cuts)).select(
        F.when(F.col("recency_d") <= F.col("r_med"), "recent")
        .otherwise("lapsed")
        .alias("r_seg"),
        F.when(F.col("freq") > F.col("f_med"), "frequent")
        .otherwise("occasional")
        .alias("f_seg"),
        F.when(F.col("monetary_c") > F.col("m_med"), "high_value")
        .otherwise("low_value")
        .alias("m_seg"),
        "monetary_c",
    )
    return (
        seg.groupBy("r_seg", "f_seg", "m_seg")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("monetary_c") / 100.0, 4).alias("avg_monetary"),
        )
        .orderBy("r_seg", "f_seg", "m_seg")
    )


@register(
    "discount_quantity_elasticity",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(l.l_quantity, l.l_discount), 6) AS qty_per_discount,
           ROUND(regr_r2(l.l_quantity, l.l_discount), 6) AS r2
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def discount_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does discounting move volume? Per-brand OLS slope of quantity on
    discount (the elasticity proxy every pricing team asks for) with fit
    quality. regr_slope/regr_r2 are decomposable sums-of-products, so the
    whole answer is the broadcast part-dim join plus ONE map-side-combined
    hash aggregate to |brands| rows — no per-brand regression loop."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    return (
        li.select(F.col("l_partkey").alias("p_partkey"), "l_quantity", "l_discount")
        .join(F.broadcast(part.select("p_partkey", "p_brand")), "p_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("regr_slope(l_quantity, l_discount)"), 6).alias(
                "qty_per_discount"
            ),
            F.round(F.expr("regr_r2(l_quantity, l_discount)"), 6).alias("r2"),
        )
        .orderBy("p_brand")
    )


@register(
    "supplier_hhi_by_nation",
    oracle="""
    WITH r AS (
        SELECT s.s_nationkey, l.l_suppkey,
               SUM(ROUND(l.l_extendedprice * 100, 0)) AS rev
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    )
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(rev) / 100.0, 2) AS total_revenue,
           ROUND(SUM(rev * rev) / (SUM(rev) * SUM(rev)), 6) AS hhi
    FROM r JOIN nation n ON n.n_nationkey = r.s_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation as the Herfindahl-
    Hirschman index: Σ share² = Σr² / (Σr)², →1/n for even markets, →1 for
    a monopoly supplier — the concentration twin of nation_revenue_gini
    (which measures inequality on the customer side with a rank sum; HHI
    needs no ranks at all). One (nation, supplier) revenue aggregate — the
    only fact-sized shuffle, map-side combined — then pure arithmetic on
    the supplier-sized table; nation names ride a broadcast. Revenues are
    exact integer cents; the squared sums stay under 2^53 at test scale
    and the documented 100 TB variant squares the (double) shares
    instead, which is scale-free."""
    li = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    r = (
        li.select(F.col("l_suppkey").alias("s_suppkey"),
                  F.rint(F.col("l_extendedprice") * 100).alias("cents"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), "s_suppkey")
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum("cents").alias("rev"))
    )
    return (
        r.join(
            F.broadcast(
                nation.select(F.col("n_nationkey").alias("s_nationkey"), "n_name")
            ),
            "s_nationkey",
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("rev") / 100.0, 2).alias("total_revenue"),
            F.round(
                F.sum(F.col("rev") * F.col("rev")) / (F.sum("rev") * F.sum("rev")), 6
            ).alias("hhi"),
        )
        .orderBy("n_name")
    )


@register(
    "customer_order_concentration",
    oracle="""
    WITH per AS (
        SELECT o_custkey,
               MAX(ROUND(o_totalprice * 100, 0)) AS top_c,
               SUM(ROUND(o_totalprice * 100, 0)) AS tot_c,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
    ),
    sh AS (
        SELECT o_custkey, n_orders, top_c / tot_c AS top_share FROM per
        WHERE n_orders >= 2
    )
    SELECT CAST(FLOOR(top_share * 10) AS INT) AS share_decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(AVG(n_orders), 4) AS avg_orders
    FROM sh GROUP BY 1 ORDER BY 1
    """,
)
def customer_order_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wallet concentration: what fraction of each multi-order customer's
    spend sits in their single largest order, histogrammed by decile —
    near 1/n means even spending, near 1.0 means one-big-purchase
    customers (a different risk segment). One customer-grain aggregate
    (max and sum are the same map-side-combined pass), a row-local share
    and bucket, then a 10-row histogram. Cents grid keeps the share's
    decile assignment engine-stable (an exact decile boundary would flip
    on float sum noise otherwise)."""
    orders = load_table(spark, "orders", sf_dir)
    cents = F.rint(F.col("o_totalprice") * 100)
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(cents).alias("top_c"),
            F.sum(cents).alias("tot_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 2)
    )
    return (
        per.select(
            F.floor(F.col("top_c") / F.col("tot_c") * 10).cast("int").alias("share_decile"),
            "n_orders",
        )
        .groupBy("share_decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("n_orders"), 4).alias("avg_orders"),
        )
        .orderBy("share_decile")
    )


@register(
    "nation_trade_balance",
    oracle="""
    WITH supply AS (
        SELECT s.s_nationkey AS nk,
               SUM(ROUND(l.l_extendedprice * 100, 0)) AS sell_c
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1
    ),
    demand AS (
        SELECT c.c_nationkey AS nk,
               SUM(ROUND(o.o_totalprice * 100, 0)) AS buy_c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    )
    SELECT n.n_name,
           ROUND(COALESCE(sell_c, 0) / 100.0, 2) AS supply_revenue,
           ROUND(COALESCE(buy_c, 0) / 100.0, 2) AS demand_spend,
           ROUND((COALESCE(sell_c, 0) - COALESCE(buy_c, 0)) / 100.0, 2)
               AS trade_balance
    FROM nation n
    LEFT JOIN supply ON supply.nk = n.n_nationkey
    LEFT JOIN demand ON demand.nk = n.n_nationkey
    ORDER BY n.n_name
    """,
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance: revenue its suppliers sell vs what its
    customers spend — the two fact aggregates every geo BI page overlays.
    Each side is one broadcast-dim join + hash agg to |nations| rows; the
    final three-way combine is all broadcast-sized. Cents grid keeps both
    sums exact; nations missing a side coalesce to zero rather than drop
    (LEFT joins from the dim)."""
    li = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    supply = (
        li.select(F.col("l_suppkey").alias("s_suppkey"),
                  F.rint(F.col("l_extendedprice") * 100).alias("c"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")), "s_suppkey")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.sum("c").alias("sell_c"))
    )
    demand = (
        orders.select(F.col("o_custkey").alias("c_custkey"),
                      F.rint(F.col("o_totalprice") * 100).alias("c"))
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")), "c_custkey")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.sum("c").alias("buy_c"))
    )
    n = nation.select(F.col("n_nationkey").alias("nk"), "n_name")
    return (
        n.join(F.broadcast(supply), "nk", "left")
        .join(F.broadcast(demand), "nk", "left")
        .select(
            "n_name",
            F.round(F.coalesce("sell_c", F.lit(0)) / 100.0, 2).alias("supply_revenue"),
            F.round(F.coalesce("buy_c", F.lit(0)) / 100.0, 2).alias("demand_spend"),
            F.round(
                (F.coalesce("sell_c", F.lit(0)) - F.coalesce("buy_c", F.lit(0))) / 100.0,
                2,
            ).alias("trade_balance"),
        )
        .orderBy("n_name")
    )


@register(
    "part_price_dispersion",
    oracle="""
    WITH u AS (
        SELECT l_partkey, l_extendedprice / l_quantity AS unit_price
        FROM lineitem WHERE l_quantity > 0
    ),
    d AS (
        SELECT l_partkey,
               COUNT(*) AS n_lines,
               AVG(unit_price) AS mean_up,
               stddev_samp(unit_price) AS sd_up
        FROM u GROUP BY l_partkey
        HAVING COUNT(*) >= 8
    )
    SELECT p.p_brand, d.l_partkey AS partkey,
           CAST(d.n_lines AS BIGINT) AS n_lines,
           ROUND(d.mean_up, 4) AS mean_unit_price,
           ROUND(d.sd_up / d.mean_up, 6) AS price_cv
    FROM d JOIN part p ON p.p_partkey = d.l_partkey
    ORDER BY price_cv DESC, partkey
    LIMIT 20
    """,
)
def part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-consistency audit: the 20 parts whose realized unit price
    (extended price / quantity) varies most across order lines, as a
    coefficient of variation — high CV flags discount leakage or data
    errors on that SKU. One part-keyed hash aggregate (count/avg/stddev
    all decomposable, map-side combined), brand attached by broadcast,
    TakeOrdered for the top slice. The HAVING floor keeps small-n noise
    out of the ranking."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    u = li.filter(F.col("l_quantity") > 0).select(
        "l_partkey", (F.col("l_extendedprice") / F.col("l_quantity")).alias("up")
    )
    d = (
        u.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.avg("up").alias("mean_up"),
            F.stddev_samp("up").alias("sd_up"),
        )
        .filter(F.col("n_lines") >= 8)
    )
    return (
        d.join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
            "l_partkey",
        )
        .select(
            "p_brand",
            F.col("l_partkey").alias("partkey"),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.round("mean_up", 4).alias("mean_unit_price"),
            F.round(F.col("sd_up") / F.col("mean_up"), 6).alias("price_cv"),
        )
        .orderBy(F.col("price_cv").desc(), "partkey")
        .limit(20)
    )


@register(
    "monthly_revenue_trend",
    oracle="""
    WITH m AS (
        SELECT date_trunc('month', o_orderdate) AS month,
               SUM(ROUND(o_totalprice * 100, 0)) AS rev_c,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT month,
           CAST(n_orders AS BIGINT) AS n_orders,
           ROUND(rev_c / 100.0, 2) AS revenue,
           COALESCE(ROUND((rev_c - LAG(rev_c) OVER (ORDER BY month))
                 / LAG(rev_c) OVER (ORDER BY month), 6), 0.0) AS mom_growth
    FROM m ORDER BY month
    """,
)
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month growth — the first chart on
    any revenue dashboard. The fact scan reduces straight to |months| rows
    (map-side combined, cents-exact); the growth lag is a window over that
    tiny table, so the 'global' sort orders ~a hundred rows, not the fact
    stream. The first month's undefined growth reads 0.0 on both sides
    (the driver's value-hash cannot order NULLs against floats)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, "orders", sf_dir)
    m = (
        orders.groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            F.sum(F.rint(F.col("o_totalprice") * 100)).alias("rev_c"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_c").over(w)
    return (
        m.select(
            "month",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
            F.coalesce(
                F.round((F.col("rev_c") - prev) / prev, 6), F.lit(0.0)
            ).alias("mom_growth"),
        )
        .orderBy("month")
    )
