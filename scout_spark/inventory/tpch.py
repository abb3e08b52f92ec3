"""TPC-H queries (SURVEY.md §2.2-§2.8) over the driver's TPC-H-ish
tables: the classic Q2-Q22 shapes, each with its DuckDB oracle.
Aggregate doubles are rounded identically on both sides so the
order-insensitive value hash is stable against summation-order ULPs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.inventory import register
from scout_spark.inventory.common import table


@register(
    "tpch_q16_supplier_diversity",
    "TPC-H Q16 shape: distinct-supplier counts per part attribute "
    "triple, with an exclusion predicate — COUNT(DISTINCT) after a "
    "fact⋈dim join (lineitem stands in for partsupp).",
    oracle="""
      SELECT p.p_brand, p.p_type, p.p_size,
             count(DISTINCT l.l_suppkey) AS supplier_cnt
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      WHERE p.p_brand <> 'Brand#10' AND p.p_size IN (1, 5, 10, 15, 20)
      GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#10")
        & F.col("p_size").isin(1, 5, 10, 15, 20)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q4_order_priority",
    "TPC-H Q4 shape: orders with ≥1 late lineitem (EXISTS → left-semi "
    "join), counted per priority.",
    oracle="""
      SELECT o_orderpriority AS priority, count(*) AS order_count
      FROM orders o
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate)
      GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q6_forecast_revenue",
    "TPC-H Q6 shape: pure filter + scalar aggregate — every predicate "
    "reaches the parquet scan (PushedFilters), zero joins, one shuffle "
    "of a single partial row. The canonical scan-bound benchmark query.",
    oracle="""
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 25
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 25)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q12_shipmode_priority",
    "TPC-H Q12 shape: lineitem⋈orders with two-way conditional counts "
    "(high/low priority split) per return flag — join + CASE aggregation "
    "in one pass.",
    oracle="""
      SELECT l.l_returnflag,
             sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
             sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END)::BIGINT AS low_line_count
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l.l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_revenue_ratio",
    "TPC-H Q14 shape: join + conditional-revenue ratio (promo share of "
    "total) — two aggregates over one pass, division guarded on both "
    "sides (try_divide ≙ nullif divisor).",
    oracle="""
      SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                    THEN l.l_extendedprice * (1 - l.l_discount)
                                    ELSE 0.0 END)
                   / nullif(sum(l.l_extendedprice * (1 - l.l_discount)), 0), 4)
               AS promo_revenue_pct,
             count(*) AS n_lines
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-06-01'
        AND l.l_shipdate <  TIMESTAMP '1997-08-01'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-08-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.round(
            100.0
            * F.try_divide(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)),
                F.sum(rev),
            ),
            4,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q7_nation_volume",
    "TPC-H Q7 shape: shipping volume between nation pairs — lineitem "
    "joined to BOTH supplier-nation and customer-nation dimensions, "
    "grouped by (supp_nation, cust_nation, year). Five-table join with "
    "every dimension broadcast; only lineitem⋈orders shuffles.",
    oracle="""
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             CAST(extract(year FROM l.l_shipdate) AS INTEGER) AS l_year,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS volume
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      WHERE ns.n_name IN ('NATION_1', 'NATION_2')
        AND nc.n_name IN ('NATION_1', 'NATION_2')
        AND ns.n_name <> nc.n_name
      GROUP BY 1, 2, 3
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("n_name").isin("NATION_1", "NATION_2"))
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("n_name").isin("NATION_1", "NATION_2"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
    )


@register(
    "tpch_q10_returned_items",
    "TPC-H Q10 shape: top-20 customers by lost revenue on returned items "
    "(l_returnflag='R') — 4-way join, grouped revenue, global top-k.",
    oracle="""
      SELECT c.c_custkey, c.c_name, n.n_name AS nation,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
      GROUP BY c.c_custkey, c.c_name, n.n_name
      ORDER BY revenue DESC, c.c_custkey
      LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "nation", "revenue")
    )


@register(
    "tpch_q15_top_supplier",
    "TPC-H Q15 shape: supplier(s) achieving the maximum quarterly "
    "revenue — aggregate, take the max of the aggregate (scalar "
    "subquery), filter to the achiever(s).",
    oracle="""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
      )
      SELECT s.s_suppkey, s.s_name, r.total_revenue
      FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
      WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# Second wave of classic TPC-H query shapes (SURVEY.md §2.3/§2.4
# exercise rows): Q5 (local-supplier volume, the cycle join), Q8 (market
# share — nested conditional ratio per year), Q9 (product profit by
# nation/year; adapted — testdata has no partsupp, so supply cost is
# proxied by ``p_retailprice``), Q13 (customer order-count distribution —
# left join + double aggregation), Q17 (small-quantity revenue —
# correlated per-part average), Q18 (large-volume customers — HAVING
# subquery via semi-join).
#
# Scale notes: every dimension (part, supplier, nation, region, customer
# at small SF) is explicitly broadcast; only fact-fact lineitem⋈orders
# shuffles, and each query has exactly one shuffle-agg after the joins.
# Q17's correlated average is a per-part aggregate broadcast back against
# the filtered part set — never a self-join of full lineitem.

@register(
    "tpch_q5_local_supplier_volume",
    "TPC-H Q5 shape: revenue from orders where the customer and the "
    "supplier share a nation inside one region — the 6-table cycle join "
    "(customer⋈orders⋈lineitem⋈supplier with c_nationkey = s_nationkey).",
    oracle="""
      SELECT n.n_name AS nation,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
                     AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n.n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q8_national_market_share",
    "TPC-H Q8 shape: one nation's share of regional revenue for one part "
    "type, per order year — conditional-sum ratio over a 7-table join "
    "(two roles of nation: customer-side region filter, supplier-side "
    "share attribution).",
    oracle="""
      SELECT CAST(extract(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             round(sum(CASE WHEN ns.n_name = 'NATION_3'
                            THEN l.l_extendedprice * (1 - l.l_discount)
                            ELSE 0.0 END)
                   / nullif(sum(l.l_extendedprice * (1 - l.l_discount)), 0), 6)
               AS mkt_share
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
      JOIN region r   ON nc.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
      GROUP BY 1
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(r), F.col("nc_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.try_divide(
                    F.sum(
                        F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                            0.0
                        )
                    ),
                    F.sum(rev),
                ),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q9_product_profit",
    "TPC-H Q9 shape: profit by supplier nation and year for parts "
    "matching a name pattern. Adapted: testdata has no partsupp, so "
    "supply cost is proxied as 50% of p_retailprice per unit "
    "(profit = revenue − 0.5·p_retailprice·l_quantity). The signed sum "
    "cancels, so double summation-order ULPs can cross a 2dp rounding "
    "boundary — both sides therefore sum in exact DECIMAL (inputs are "
    "exact at 2dp / integral, so the decimal sum is order-insensitive) "
    "and only then round and cast to double.",
    oracle="""
      SELECT n.n_name AS nation,
             CAST(extract(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(round(sum(
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(3,2)))
                 - CAST(0.5 AS DECIMAL(2,1))
                   * CAST(p.p_retailprice AS DECIMAL(18,2))
                   * CAST(l.l_quantity AS DECIMAL(9,0))
             ), 2) AS DOUBLE) AS profit
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%gear%'
      GROUP BY 1, 2
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(3,2)")
    ) - F.lit(0.5).cast("decimal(2,1)") * F.col("p_retailprice").cast(
        "decimal(18,2)"
    ) * F.col("l_quantity").cast("decimal(9,0)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
    )


@register(
    "tpch_q13_customer_order_distribution",
    "TPC-H Q13 shape: histogram of customers by order count — LEFT join "
    "with an extra join-side predicate (customers with zero qualifying "
    "orders must appear with c_count=0), then a second aggregation over "
    "the first. Adapted: the o_comment NOT LIKE filter becomes an "
    "order-priority exclusion (testdata has no o_comment).",
    oracle="""
      SELECT c_count, count(*) AS custdist
      FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
      )
      GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q17_small_quantity_revenue",
    "TPC-H Q17 shape: revenue from lineitems whose quantity is below "
    "20% of the per-part average — correlated scalar-average subquery, "
    "executed as a per-part aggregate broadcast back (never a self-join "
    "of full lineitem). Brand/size filter substitutes for the missing "
    "p_container column.",
    oracle="""
      SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
             count(*) AS n_lines
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#11' AND p.p_size <= 10
        AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey
        )
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#11") & (F.col("p_size") <= 10)
    )
    # Per-part average over ALL lineitems (the correlation target); the
    # part filter prunes it only after the agg, matching the subquery.
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("ap_key"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q18_large_volume_customers",
    "TPC-H Q18 shape: customers with orders whose total quantity exceeds "
    "a threshold — HAVING subquery realized as an aggregated semi-join, "
    "then re-join and re-aggregate; deterministic top-100 "
    "(rounded-totalprice desc, orderkey tiebreak).",
    oracle="""
      SELECT c.c_name, c.c_custkey, o.o_orderkey,
             strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
             round(o.o_totalprice, 2) AS totalprice,
             sum(l.l_quantity) AS total_qty
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 250
      )
      GROUP BY 1, 2, 3, 4, 5
      ORDER BY totalprice DESC, o.o_orderkey
      LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# Third wave of classic TPC-H query shapes, adapted where the testdata
# lacks a column (no partsupp / l_receiptdate / p_container / c_phone /
# o_comment — see each docstring for the substitution):
#
# - Q2  → min-unit-cost supplier per part (correlated MIN subquery), with
#         lineitem standing in for partsupp.
# - Q11 → important parts by shipped value vs a global-fraction threshold
#         (HAVING against a scalar subquery), exact-DECIMAL on both sides.
# - Q19 → disjunctive brand/size/quantity predicate join.
# - Q20 → nested IN-subqueries (parts → qualifying suppliers → nation).
# - Q21 → suppliers who were the sole faulty supplier on multi-supplier
#         finished orders (EXISTS + NOT EXISTS with inequality
#         correlation), with l_returnflag='R' standing in for
#         receipt-after-commit lateness.
# - Q22 → above-average-balance customers with no orders (anti join),
#         grouped by nation (standing in for phone country code); the
#         average threshold is compared in exact decimal cross-multiplied
#         form (bal·cnt > total) so no engine ever divides.
#
# Scale notes: each adapted subquery stays an aggregate + broadcast-back
# (never a self-join of full lineitem); semi/anti joins carry only the
# correlation keys.

@register(
    "tpch_q2_min_cost_supplier",
    "TPC-H Q2 shape: for each part in a size/type band, the supplier(s) "
    "offering the minimum unit cost — correlated MIN subquery realized "
    "as a per-part aggregate joined back. Unit cost is emitted RAW (it "
    "is a single per-row division, bit-identical on both engines — "
    "rounding would only add boundary risk).",
    oracle="""
      WITH cost AS (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
      ), best AS (
        SELECT l_partkey, min(unit_cost) AS best_cost FROM cost GROUP BY l_partkey
      )
      SELECT p.p_partkey, s.s_suppkey, s.s_name, c.unit_cost
      FROM cost c
      JOIN best b ON c.l_partkey = b.l_partkey AND c.unit_cost = b.best_cost
      JOIN part p ON p.p_partkey = c.l_partkey
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      WHERE p.p_size BETWEEN 10 AND 15 AND p.p_type = 'ECONOMY'
      ORDER BY p.p_partkey, s.s_suppkey
      LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 15) & (F.col("p_type") == "ECONOMY")
    )
    s = table(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = cost.groupBy(F.col("l_partkey").alias("b_key")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        cost.join(
            best,
            (cost.l_partkey == F.col("b_key"))
            & (cost.unit_cost == F.col("best_cost")),
        )
        .join(F.broadcast(p), cost.l_partkey == p.p_partkey)
        .join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .select("p_partkey", "s_suppkey", "s_name", "unit_cost")
        .orderBy("p_partkey", "s_suppkey")
        .limit(100)
    )


@register(
    "tpch_q11_important_part_value",
    "TPC-H Q11 shape: parts whose shipped value from two nations' "
    "suppliers exceeds a fraction of the total — HAVING vs a scalar "
    "subquery over the same aggregate. Both sides sum in exact DECIMAL "
    "so the global threshold comparison is order-insensitive.",
    oracle="""
      WITH val AS (
        SELECT l.l_partkey,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name IN ('NATION_3', 'NATION_7')
        GROUP BY l.l_partkey
      ), total AS (
        SELECT CAST(sum(value) AS DECIMAL(18,4)) AS t FROM val
      )
      SELECT v.l_partkey AS partkey,
             CAST(round(v.value, 2) AS DOUBLE) AS total_value
      FROM val v, total
      WHERE v.value > CAST(0.001 AS DECIMAL(4,3)) * total.t
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    value = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(3,2)")
    )
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("value"))
    )
    total = val.agg(F.sum("value").cast("decimal(18,4)").alias("t"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("value") > F.lit(0.001).cast("decimal(4,3)") * F.col("t"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("value"), 2).cast("double").alias("total_value"),
        )
    )


@register(
    "tpch_q19_disjunctive_predicates",
    "TPC-H Q19 shape: revenue under a three-way OR of conjunctive "
    "brand/size/quantity bands — the classic disjunctive join predicate "
    "that Catalyst must keep partially pushable (the part-only "
    "conjuncts reach the part scan).",
    oracle="""
      SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
         OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
         OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q20_excess_shippers",
    "TPC-H Q20 shape: suppliers in a nation set who shipped more than a "
    "quantity threshold of one part type in a year — two nested IN "
    "subqueries become a chain of semi-joins over an aggregate.",
    oracle="""
      SELECT s.s_suppkey, s.s_name
      FROM supplier s
      WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 100
      )
      AND s.s_nationkey IN (
        SELECT n_nationkey FROM nation
        WHERE n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4','NATION_5')
      )
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(
            "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"
        )
    )
    shippers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(shippers, s.s_suppkey == shippers.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "tpch_q21_sole_faulty_supplier",
    "TPC-H Q21 shape: suppliers in one nation who were the ONLY supplier "
    "with returned items on a multi-supplier finished order — EXISTS "
    "(another supplier on the order) + NOT EXISTS (another supplier "
    "also at fault), i.e. semi- then anti-join with an inequality "
    "correlation. l_returnflag='R' stands in for receipt-after-commit "
    "lateness (no l_receiptdate in testdata).",
    oracle="""
      SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
      FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o    ON o.o_orderkey = l1.l_orderkey
      JOIN nation n    ON s.s_nationkey = n.n_nationkey
      WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        AND n.n_name IN ('NATION_5', 'NATION_6')
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s.s_name
      ORDER BY numwait DESC, s.s_name
      LIMIT 100
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    n = table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_5", "NATION_6")
    )
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    ).alias("l2")
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
        .alias("l3")
    )
    faulty = (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("o2"))
            & (F.col("l1.l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("o3"))
            & (F.col("l1.l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        faulty.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count_distinct(F.col("l1.l_orderkey")).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@register(
    "tpch_q22_idle_rich_customers",
    "TPC-H Q22 shape: customers with above-average positive balance and "
    "no orders at all — scalar-average threshold + anti join, grouped "
    "by nation (standing in for the phone country code). The threshold "
    "compare is cross-multiplied in exact DECIMAL (bal·cnt > total) so "
    "neither engine divides — fully order-insensitive.",
    oracle="""
      WITH stats AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS total,
               CAST(count(*) AS DECIMAL(9,0)) AS cnt
        FROM customer WHERE c_acctbal > 0.0
      )
      SELECT n.n_name AS nation, count(*) AS numcust,
             CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS totacctbal
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey, stats
      WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * stats.cnt > stats.total
        AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY n.n_name
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    stats = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(bal).cast("decimal(28,2)").alias("total"),
            F.count(F.lit(1)).cast("decimal(9,0)").alias("cnt"),
        )
    )
    return (
        c.join(F.broadcast(stats))
        .where(bal * F.col("cnt") > F.col("total"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(bal), 2).cast("double").alias("totacctbal"),
        )
    )
