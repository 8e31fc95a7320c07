"""Relational analytics over the star schema — joins, multi-aggs, top-k.

The reference itself contains no joins (SURVEY.md §2.3) — denormalization
happens at its producer — but join capability is part of the engine surface
(a reference user switching to this engine gets `df.join` with Catalyst
planning). These queries exercise the join shapes that matter at 100 TB:

- **Broadcast the dimension side.** region/nation are O(10^1) rows at any
  scale factor; customer/supplier/part grow but stay orders of magnitude
  smaller than the fact tables. We hint ``F.broadcast`` explicitly for the
  always-tiny dims so no sort-merge shuffle of the fact table ever happens on
  their account; AQE converts the rest to broadcast at runtime when the built
  side fits (`spark.sql.autoBroadcastJoinThreshold` / AQE local-shuffle-read).
- **One shuffle per fact-table grouping.** Aggregations after the joins group
  on low-cardinality keys → partial aggregation map-side, tiny exchange.
- **Top-k is TakeOrderedAndProject**, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkasparkstream_spark.operators.aggregates import FLOAT_DP
from kafkasparkstream_spark.util import current_scope


def _revenue_units():
    """Exact revenue units: cents × integer (100 − discount%), i.e.
    ``l_extendedprice·(1−l_discount)`` in 10^-4 dollars as an exact long —
    sums of these are order-independent where float revenue sums drift at
    1e10 magnitude (sf1.0 sweep finding). Oracle twin:
    ``CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
      * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT))``."""
    pc = F.rint(F.col("l_extendedprice") * 100).cast("long")
    dc = F.rint(F.col("l_discount") * 100).cast("long")
    return pc * (100 - dc)


def revenue_sum():
    """Portable revenue aggregate in dollars: exact long-unit sum, one
    double conversion (identical in any engine)."""
    return F.sum(_revenue_units()).cast("double") / 10000.0


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-01") -> DataFrame:
    """TPC-H Q1 shape: one scan, one grouped multi-aggregate.

    The filter pushes down to the parquet scan; the groupBy keys
    (returnflag, linestatus) have ~6 combinations → the exchange after
    map-side partial agg carries a handful of rows per input partition.

    All money arithmetic runs on exact integer units (cents; discount and
    tax factors as integer percents, so disc_price is exact in 10^-4
    dollars and charge in 10^-6 dollars): float sums of 1e10-magnitude
    dollars differ across partial-sum orders by more than any sane rounding
    grid (sf1.0 sweep finding), while exact integer sums are
    order-independent and convert to the identical double in any engine.

    Sums stay LONG (DECIMAL(38,0) falls off the vectorized hash-agg fast
    path — measured 3×). The charge units (≤ ~1.1e11/row) are the only sum
    that could overflow a long at scale, so they split into exact
    quotient/remainder halves at 10^6 (each sums safely past 10^10 rows per
    group) and recombine as ``Σhi + Σlo/1e6`` — identical double ops on
    identical integers in both engines. Averages use the scale-0 ROUND grid
    (the portable one).
    """
    qty = F.rint(F.col("l_quantity")).cast("long")  # integral by spec
    pc = F.rint(F.col("l_extendedprice") * 100).cast("long")  # cents
    dc = F.rint(F.col("l_discount") * 100).cast("long")  # percent
    tc = F.rint(F.col("l_tax") * 100).cast("long")  # percent
    cu = pc * (100 - dc) * (100 + tc)  # charge in 1e-6 dollars, ≥ 0
    base = lineitem.filter(
        F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        qty.alias("_q"),
        pc.alias("_pc"),
        dc.alias("_dc"),
        (pc * (100 - dc)).alias("_dp"),
        cu.alias("_cu"),
    )
    n = F.count(F.lit(1))
    return (
        base.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("_q").cast("double").alias("sum_qty"),
            (F.sum("_pc").cast("double") / 100.0).alias("sum_base_price"),
            (F.sum("_dp").cast("double") / 10000.0).alias("sum_disc_price"),
            (
                F.sum(F.expr("_cu DIV 1000000")).cast("double")
                + F.sum(F.expr("_cu % 1000000")).cast("double") / 1000000.0
            ).alias("sum_charge"),
            (F.round(F.sum("_q").cast("double") * 10000.0 / n, 0) / 10000.0).alias(
                "avg_qty"
            ),
            (F.round(F.sum("_pc").cast("double") * 100.0 / n, 0) / 10000.0).alias(
                "avg_price"
            ),
            (F.round(F.sum("_dc").cast("double") * 100.0 / n, 0) / 10000.0).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_orders_by_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join fact chain → grouped
    revenue → top-k.

    Join order: filter customer first (segment predicate prunes ~4/5), join
    orders on custkey, then lineitem on orderkey. customer is the small side
    → AQE broadcasts it; the orders↔lineitem join co-partitions on orderkey
    (both sides shuffle once on the same key — at 100 TB this is the join to
    bucket both tables on).
    """
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    ord_f = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    li = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(ord_f, li.l_orderkey == ord_f.o_orderkey)
        .join(F.broadcast(cust), ord_f.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            revenue_sum().alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(k)
    )


def region_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: five-way join, revenue per nation where the customer's
    and supplier's nation match.

    region(5)/nation(25) broadcast unconditionally; supplier and the filtered
    customer broadcast via AQE at test scale. The only large exchange is
    lineitem↔orders on orderkey. Group key cardinality = |nation| → trivial
    final exchange.
    """
    n = nation.select("n_nationkey", "n_name", "n_regionkey")
    r = region.select("r_regionkey", "r_name")
    dim = F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    cust = customer.select("c_custkey", "c_nationkey")
    supp = supplier.select("s_suppkey", "s_nationkey")
    ord_f = orders.select("o_orderkey", "o_custkey")
    li = lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    return (
        li.join(ord_f, li.l_orderkey == ord_f.o_orderkey)
        .join(cust, ord_f.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(dim, supp.s_nationkey == dim.n_nationkey)
        .groupBy("r_name", "n_name")
        .agg(
            revenue_sum().alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def brand_revenue_topk(part: DataFrame, lineitem: DataFrame, k: int = 10) -> DataFrame:
    """Part-dimension join + grouped revenue + top-k brands."""
    p = part.select("p_partkey", "p_brand")
    li = lineitem.select("l_partkey", "l_extendedprice", "l_discount", "l_quantity")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            revenue_sum().alias("revenue"),
            F.round(F.sum("l_quantity"), FLOAT_DP).alias("total_qty"),
            F.count(F.lit(1)).alias("line_count"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_brand"))
        .limit(k)
    )


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: semi-join (EXISTS) — orders having at least one
    lineitem shipped after order date, counted per priority.

    ``left_semi`` keeps the probe side un-duplicated, so no distinct is
    needed downstream; Spark plans a shuffled semi-join on orderkey.
    """
    li_late = lineitem.filter(F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp"))
    return (
        orders.join(li_late, orders.o_orderkey == li_late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def customer_nation_rollup(
    customer: DataFrame, nation: DataFrame, orders: DataFrame
) -> DataFrame:
    """Customer→nation broadcast join + per-nation order stats (grouped
    avg/sum over a join result; exercises double-agg rounding parity)."""
    c = customer.select("c_custkey", "c_nationkey")
    n = nation.select("n_nationkey", "n_name")
    o = orders.select("o_custkey", "o_totalprice")
    from kafkasparkstream_spark.operators.aggregates import grid_avg, value_units

    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(value_units("o_totalprice")).alias("_sc"),
        )
        .select(
            "n_name",
            "order_count",
            (F.col("_sc").cast("double") / 100.0).alias("total_spend"),
            grid_avg(F.col("_sc"), F.col("order_count")).alias("avg_spend"),
        )
        .orderBy(F.desc("total_spend"), F.asc("n_name"))
    )


def bi_nation_volume(
    lineitem: DataFrame,
    supplier: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    nations: tuple[str, str] = ("NATION_0", "NATION_1"),
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair, both
    directions. The nation filter is pushed into BOTH broadcast sides
    before the fact join, so only qualifying supplier/customer keys ever
    touch lineitem."""
    n = nation.filter(F.col("n_name").isin(*nations)).select("n_nationkey", "n_name")
    s = (
        supplier.join(F.broadcast(n), supplier.s_nationkey == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        customer.join(F.broadcast(n), customer.c_nationkey == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = orders.select("o_orderkey", "o_custkey")
    li = lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(revenue_sum().alias("revenue"))
        .orderBy("supp_nation", "cust_nation")
    )


def small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str = "Brand#1"
) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders — a correlated
    scalar subquery (per-part 0.2×avg(qty) threshold) decorrelated into a
    pre-aggregate + equi-join, the plan Catalyst itself would produce."""
    thresholds = lineitem.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    p = part.filter(F.col("p_brand") == brand).select("p_partkey")
    pc = F.rint(F.col("l_extendedprice") * 100).cast("long")
    return (
        lineitem.select("l_partkey", "l_quantity", pc.alias("_pc"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.round(F.sum("_pc").cast("double") * 100.0 / 7.0, 0) / 10000.0
            ).alias("avg_yearly")
        )
    )


def stale_order_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """NOT EXISTS as a left-anti join: orders with no lineitem shipped
    after the cutoff, counted per priority (the dual of
    order_priority_counts' semi join)."""
    li_late = lineitem.filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    ).select("l_orderkey")
    return (
        orders.join(li_late, orders.o_orderkey == li_late.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation — the
    distribution of orders-per-customer, zero-order customers included.

    The outer join shuffles both sides on custkey once; the first groupBy
    reuses that partitioning (no extra exchange), and the second groupBy's
    key (`c_count`, O(10^2) distinct values) makes the final exchange
    trivially small. At 100 TB the only big shuffle is the custkey one, and
    bucketing customer+orders on custkey removes even that.
    """
    o = orders.select("o_orderkey", "o_custkey")
    c = customer.select("c_custkey")
    per_cust = c.join(o, c.c_custkey == o.o_custkey, "left_outer").groupBy(
        "c_custkey"
    ).agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    month_start: str = "1998-06-01",
    month_end: str = "1998-07-01",
) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a fact↔dim join — the
    percentage of a month's revenue that came from PROMO parts.

    The shipdate range predicate pushes to the lineitem scan, so only one
    month of the fact table is ever joined; part broadcasts (or AQE
    converts). The CASE WHEN lives inside the same hash aggregate — one
    pass, no second join or self-union.
    """
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(month_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(month_end).cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = part.select("p_partkey", "p_type")
    ru = _revenue_units()
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        (
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", ru).otherwise(F.lit(0))
                ).cast("double")
                / F.sum(ru).cast("double")
                * 10000.0,
                0,
            )
            / 10000.0
        ).alias("promo_revenue_pct")
    )


def top_supplier_revenue(
    supplier: DataFrame,
    lineitem: DataFrame,
    period_start: str = "1998-01-01",
    period_end: str = "1998-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: aggregate-then-max-filter — the supplier(s) with the
    highest revenue in a quarter.

    Computed as revenue-per-supplier (one shuffled agg over the
    date-pruned fact slice) then a rank-by-max filter via a single
    unpartitioned max over the *aggregated* rows (|suppliers| rows, not
    |lineitem|), broadcast back as a 1-row join — the decorrelated form of
    Q15's `revenue = (SELECT max(...))` subquery.
    """
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(period_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(period_end).cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = li.groupBy("l_suppkey").agg(
        revenue_sum().alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = supplier.select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == max_rev.max_revenue)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    qty_threshold: float = 250.0,
) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate used as a semi-join key
    list — customers who placed orders above a total-quantity threshold.

    The per-order quantity sum is one shuffled agg on orderkey; the
    HAVING filter shrinks it to a key list orders of magnitude smaller
    than the fact table, which then drives broadcast joins against orders
    and (for the final sum) a re-join to lineitem that reuses the same
    orderkey partitioning.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > qty_threshold)
    )
    o = orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = customer.select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("sum_qty"), FLOAT_DP).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


def wealthy_inactive_customers(
    customer: DataFrame, orders: DataFrame, recent_cutoff: str = "2001-01-01"
) -> DataFrame:
    """TPC-H Q22 shape: ungrouped scalar subquery (global average) consumed
    as a broadcast 1-row cross join + NOT EXISTS as a left-anti join —
    above-average-balance customers with no recent orders, rolled up per
    nation.

    The global average reduces to one row before touching the big side, so
    the filter is a codegen'd comparison, not a join; the anti join's build
    side is the date-pruned orders key list.

    The above-average test cross-multiplies in exact integer cents
    (``bal_cents · n > Σcents`` ⟺ ``bal > avg``) — a float average differs
    across engines in the last ulp, and a customer sitting exactly on the
    threshold would flip in or out of the result set.
    """
    bc = F.rint(F.col("c_acctbal") * 100).cast("long")
    bal_stats = customer.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bc).alias("_sum_bc"), F.count(F.lit(1)).alias("_n_pos")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(recent_cutoff).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.select("c_custkey", "c_nationkey", bc.alias("_bc"))
        .join(F.broadcast(bal_stats))
        .filter(F.col("_bc") * F.col("_n_pos") > F.col("_sum_bc"))
        .join(recent, F.col("c_custkey") == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("_bc").cast("double") / 100.0).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def revenue_change_forecast(
    lineitem: DataFrame,
    year_start: str = "1998-01-01",
    year_end: str = "1999-01-01",
    discount_center: float = 0.05,
    qty_cap: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: the simplest possible plan that matters — one scan
    with every predicate (date range, discount band, quantity cap) pushed
    into the parquet reader, one ungrouped agg. At 100 TB this query is
    pure scan bandwidth; anything beyond a single pushed-filter scan +
    partial agg in the plan is a regression.
    """
    return lineitem.filter(
        (F.col("l_shipdate") >= F.lit(year_start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(year_end).cast("timestamp"))
        & (F.col("l_discount") >= discount_center - 0.01001)
        & (F.col("l_discount") <= discount_center + 0.01001)
        & (F.col("l_quantity") < qty_cap)
    ).agg(
        (
            F.sum(
                F.rint(F.col("l_extendedprice") * 100).cast("long")
                * F.rint(F.col("l_discount") * 100).cast("long")
            ).cast("double")
            / 10000.0
        ).alias("revenue_increase")
    )


def nation_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    target_nation: str = "NATION_0",
) -> DataFrame:
    """TPC-H Q8 shape: the target nation's share of supplier revenue per
    order-year — a per-group conditional-aggregate ratio over a fact⋈dim
    join. The nation tag rides the broadcast supplier side, so the CASE
    WHEN inside the aggregate needs no second join or self-union; one
    shuffle on the (year) group key.
    """
    n = nation.select("n_nationkey", "n_name")
    s = (
        supplier.join(F.broadcast(n), supplier.s_nationkey == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = orders.select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    li = lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    vu = _revenue_units()
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("o_year")
        .agg(
            (
                F.round(
                    F.sum(
                        F.when(F.col("supp_nation") == target_nation, vu).otherwise(
                            F.lit(0)
                        )
                    ).cast("double")
                    / F.sum(vu).cast("double")
                    * 10000.0,
                    0,
                )
                / 10000.0
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def disjunctive_filter_revenue(
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """TPC-H Q19 shape: revenue under OR-of-ANDs predicates spanning both
    join sides (brand × size-band × quantity-band). Catalyst extracts the
    common join key and pushes each side's single-table conjuncts into its
    scan; the residual disjunction evaluates post-join in codegen — the
    plan stays one broadcast hash join, never a union of three joins.
    """
    li = lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = part.select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            revenue_sum().alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


def returned_items_topk(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): customers who returned the
    most revenue in a quarter, with their nation.

    Plan, fact-first: both fact scans carry pushed filters (orderdate range,
    returnflag = 'R'), the only big-big exchange is lineitem ⋈ orders on
    l_orderkey, and revenue is aggregated down to one row per custkey BEFORE
    any dimension joins — so customer and nation join against an
    already-small aggregate (broadcast/AQE territory), not the fact stream.
    Final top-k is TakeOrderedAndProject, never a global sort.
    """
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev_by_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            revenue_sum().alias("revenue")
        )
    )
    return (
        rev_by_cust.join(customer, rev_by_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def waiting_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    late_date: str = "1998-06-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for finished
    orders involving at least two suppliers, find the supplier that was the
    ONLY late shipper, and count how often each supplier is that bottleneck.
    "Late" is ``l_shipdate >= late_date`` (the reduced schema has no
    commit/receipt dates to compare, reference-testdata parity).

    Plan: Q21's textbook EXISTS / NOT-EXISTS pair would self-join lineitem
    twice; instead ONE pass over lineitem computes, per order, the distinct
    supplier count and the distinct *late* supplier count (partial aggs
    map-side), and the per-(order, supplier) late set joins back against
    the qualifying orders — two shuffles on l_orderkey total, both sized to
    the order count, never a quadratic self-join. Supplier and nation are
    broadcast; the final top-k is TakeOrderedAndProject.
    """
    late = F.col("l_shipdate") >= F.lit(late_date).cast("timestamp")
    li = lineitem.select("l_orderkey", "l_suppkey", late.alias("is_late"))
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    finished = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    qualifying = (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(finished, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey")
    )
    sole_late = (
        li.filter(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(qualifying, "l_orderkey", "left_semi")
    )
    return (
        sole_late.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(k)
    )


def order_to_ship_latency(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Fulfillment-latency distribution per order priority: days from order
    placement to each line item's ship date, with exact p50/p95 — does the
    priority class actually ship faster?

    Shape: ONE fact-to-fact hash join on the order key (both sides shuffle
    on the key they're naturally keyed by — the same co-location a bucketed
    layout makes free, see ``write_bucketed``), a codegen date-diff
    projection, then a hash-agg to |priorities| rows whose partials
    collapse map-side. The exact per-group percentile buffers one
    priority's day counts per reducer; the documented 100 TB swap is
    ``approx_percentile``, identical shape.
    """
    o = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_shipdate")
    days = F.datediff("l_shipdate", "o_orderdate")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderpriority", days.alias("_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("_days"), 4).alias("avg_days_to_ship"),
            F.round(F.percentile("_days", F.lit(0.5)), 4).alias("p50_days_to_ship"),
            F.round(F.percentile("_days", F.lit(0.95)), 4).alias("p95_days_to_ship"),
            F.min("_days").alias("min_days_to_ship"),
            F.max("_days").alias("max_days_to_ship"),
        )
        .orderBy("o_orderpriority")
    )


def skyline_2d(
    df: DataFrame,
    x: str,
    y: str,
    bucket_width: float = 500.0,
    maximize: tuple[bool, bool] = (True, True),
) -> DataFrame:
    """Strict-dominance 2-D skyline: rows for which no other row is
    strictly better on BOTH axes (ties on either axis never dominate).
    ``maximize`` sets the better-direction per axis — (True, False) finds
    e.g. max-performance/min-cost frontiers. Returns the input rows
    (original columns) on the frontier.

    Distributed sweep, never a global sort: bucket the x-axis into
    fixed-width ranges; reduce to max(y) per (bucket, x) — the one
    fact-sized shuffle; roll per-bucket maxima through a tiny ordered
    window for each bucket's carry-in (the best y in any strictly-higher
    bucket — a strictly higher bucket implies strictly higher x); then a
    keyed within-bucket window computes the running max over strictly
    greater x (one row per distinct x makes ROWS ... 1 PRECEDING exact).
    A row survives iff nothing with strictly greater x beat its y.
    """
    from pyspark.sql.window import Window

    if not bucket_width > 0:
        raise ValueError("bucket_width must be positive")
    # minimize-direction axes run through negation: dominance on -v is
    # dominance-toward-smaller v, and the sweep below stays max-max
    mx, my = maximize
    xi = F.col(x) if mx else (-F.col(x))
    yi = F.col(y) if my else (-F.col(y))
    bkt = F.floor(xi / F.lit(bucket_width)).cast("long")
    # The input feeds both the threshold build AND the final filter join;
    # without materialization Catalyst re-executes the whole upstream plan
    # (often an aggregate over a fact join) once per consumer. One eager
    # localCheckpoint pins the (post-aggregate, key-sized) table on
    # executors until the query scope exits.
    co = (
        df.withColumn("_bkt", bkt)
        .withColumn("_xi", xi)
        .withColumn("_yi", yi)
        .transform(current_scope().checkpoint)
    )
    g = co.groupBy("_bkt", "_xi").agg(F.max("_yi").alias("_gmax"))
    b = g.groupBy("_bkt").agg(F.max("_gmax").alias("_bmax"))
    wb = Window.orderBy(F.col("_bkt").desc()).rowsBetween(Window.unboundedPreceding, -1)
    carry = b.withColumn("_carry", F.max("_bmax").over(wb)).select("_bkt", "_carry")
    wg = (
        Window.partitionBy("_bkt")
        .orderBy(F.col("_xi").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thresh = (
        g.join(F.broadcast(carry), "_bkt")
        .withColumn("_local", F.max("_gmax").over(wg))
        .withColumn("_best_above", F.greatest("_local", "_carry"))
        .select("_bkt", "_xi", "_best_above")
    )
    return (
        co.join(thresh, ["_bkt", "_xi"])
        .filter(
            F.col("_best_above").isNull() | (F.col("_best_above") <= F.col("_yi"))
        )
        .drop("_bkt", "_xi", "_yi", "_best_above")
    )
