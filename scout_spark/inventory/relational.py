"""Relational operators (SURVEY.md §2.2-§2.9): aggregates, joins, windows,
set operations, scalar functions, SQL-path features and Python UDF
shapes over the TPC-H-ish tables.

The reference has no joins, GROUP BY, windows or set ops (SURVEY.md §2.3
J2-J4, §2.4 A4, §2.5 W2, §2.7 U2); these rows exercise the Spark
primitives those capabilities map to. Aggregate doubles are rounded
identically on both sides so the order-insensitive value hash is stable
against summation-order ULPs.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.inventory import register
from scout_spark.inventory.common import table, wide_table


# ---------------------------------------------------------------- A4: groupBy/agg
@register(
    "agg_pricing_summary",
    "TPC-H Q1-shaped hash aggregate with partial (map-side) combine "
    "(SURVEY.md §2.4 A4). groupBy keys are low-cardinality → the shuffle "
    "moves only 6 partial rows per map task at any scale.",
    oracle="""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2)                                 AS sum_qty,
             round(sum(l_extendedprice), 2)                            AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2)         AS sum_disc_price,
             round(avg(l_quantity), 6)                                 AS avg_qty,
             round(avg(l_extendedprice), 6)                            AS avg_price,
             round(avg(l_discount), 6)                                 AS avg_disc,
             count(*)                                                  AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------- J2: multi-way equi join
@register(
    "join_revenue_by_nation",
    "TPC-H Q5-shaped 5-way equi join + agg (SURVEY.md §2.3 J2). region/"
    "nation are broadcast by Catalyst (tiny dims); the orders⋈lineitem "
    "shuffle keys on orderkey — co-partitioned at scale by bucketing both "
    "on orderkey.",
    oracle="""
      SELECT n.n_name AS nation,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('ASIA', 'EUROPE') AND o.o_orderstatus = 'F'
      GROUP BY n.n_name
    """,
)
def join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(n.n_name.alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------- J3: semi / anti joins
@register(
    "join_semi_customers_with_orders",
    "Left-semi join: customers having ≥1 open order (SURVEY.md §2.3 J3). "
    "Semi join never duplicates the probe side and shuffles only the key.",
    oracle="""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_customers_without_big_orders",
    "Left-anti join: customers with no order above 400k (SURVEY.md §2.3 "
    "J3). The filter keeps the result non-empty so the check is "
    "non-vacuous at every scale factor.",
    oracle="""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 400000)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------- J1: broadcast range join
@register(
    "join_broadcast_range",
    "Broadcast range (theta) join — the Spark restatement of the "
    "reference's procedural bbox semi-join (reference repo.py:16-45 feeding "
    "repo.py:57-61; SURVEY.md §2.3 J1): a 1-row aggregate build side "
    "restricts the big probe side via BETWEEN. Build side is broadcast → "
    "BroadcastNestedLoopJoin, no shuffle of lineitem.",
    oracle="""
      SELECT l.l_returnflag,
             count(*)                          AS n_items,
             round(sum(l.l_extendedprice), 2)  AS sum_price
      FROM lineitem l
      CROSS JOIN (SELECT round(avg(o_totalprice) * 0.001, 2) AS lo,
                         round(avg(o_totalprice) * 0.010, 2) AS hi
                  FROM orders WHERE o_orderstatus = 'F') b
      WHERE l.l_extendedprice BETWEEN b.lo AND b.hi
      GROUP BY l.l_returnflag
    """,
)
def join_broadcast_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    bounds = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .agg(
            F.round(F.avg("o_totalprice") * 0.001, 2).alias("lo"),
            F.round(F.avg("o_totalprice") * 0.010, 2).alias("hi"),
        )
    )
    return (
        li.join(
            F.broadcast(bounds),
            F.col("l_extendedprice").between(F.col("lo"), F.col("hi")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------- A1: argmax per group
@register(
    "agg_argmax_top_customer_per_nation",
    "Per-group argmax via rank-1 window — the grouped generalization of "
    "the reference's largest-area-wins top-1 (reference repo.py:28-31; "
    "SURVEY.md §2.4 A1). Deterministic tie-break on custkey.",
    oracle="""
      SELECT n_name AS nation, c_custkey, c_name, c_acctbal
      FROM (
        SELECT n.n_name, c.c_custkey, c.c_name, c.c_acctbal,
               row_number() OVER (PARTITION BY n.n_name
                                  ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      ) WHERE rn = 1
    """,
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("n_name").alias("nation"), "c_custkey", "c_name", "c_acctbal")
    )


# ---------------------------------------------------------------- A4: rollup / cube / distinct
@register(
    "agg_rollup_region_nation",
    "ROLLUP over (region, nation) with count + sum (SURVEY.md §2.4 A4). "
    "Spark expands grouping sets before the shuffle — partial aggregation "
    "still applies.",
    oracle="""
      SELECT r.r_name AS region, n.n_name AS nation,
             count(*) AS n_customers,
             round(sum(c.c_acctbal), 2) AS total_acctbal
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@register(
    "agg_cube_status_priority",
    "CUBE over (orderstatus, orderpriority) (SURVEY.md §2.4 A4).",
    oracle="""
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.cube(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "agg_count_distinct",
    "Exact distinct aggregate per group (SURVEY.md §2.4 A4): distinct "
    "customers and order days per market segment via orders⋈customer.",
    oracle="""
      SELECT c.c_mktsegment AS segment,
             count(DISTINCT o.o_custkey)  AS n_customers,
             count(DISTINCT o.o_orderdate) AS n_order_days,
             count(*) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.countDistinct("o_orderdate").alias("n_order_days"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------- W1/W2: windows
@register(
    "window_rank_lag_running",
    "Ranking + analytic + frame window functions in one pass over a single "
    "shuffle-by-custkey (SURVEY.md §2.5 W2): rank of each order within its "
    "customer, previous order's price (lag), and running spend "
    "(rows-frame sum). Fully deterministic ordering incl. orderkey.",
    oracle="""
      SELECT o_orderkey, o_custkey,
             rank()       OVER w AS rnk,
             round(coalesce(lag(o_totalprice) OVER w, 0.0), 2) AS prev_price,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW), 2)
                 AS running_spend
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias(
            "prev_price"
        ),
        F.round(F.sum("o_totalprice").over(wf), 2).alias("running_spend"),
    )


@register(
    "window_global_row_number",
    "ROW_NUMBER over a global order — the reference synthesizes surrogate "
    "ids this way (reference scripts/build_gazetteer.py:42; SURVEY.md §2.5 "
    "W1). Single-partition window: acceptable for build-time id synthesis "
    "only; prefer monotonically_increasing_id when density isn't required.",
    oracle="""
      SELECT row_number() OVER (ORDER BY s_suppkey) AS rid, s_suppkey, s_name
      FROM supplier
    """,
)
def window_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    return s.select(
        F.row_number().over(Window.orderBy("s_suppkey")).alias("rid"),
        "s_suppkey",
        "s_name",
    )


# ---------------------------------------------------------------- T2: top-k
@register(
    "topk_orders_by_price",
    "Global top-k with deterministic tie-break → TakeOrderedAndProject "
    "(distributed per-partition top-k + driver merge; SURVEY.md §2.6 T2). "
    "Strictly better than the reference's full Python sort "
    "(reference ranking.py:113-114).",
    oracle="""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------- U1/U2: set operations
@register(
    "set_union_all",
    "UNION ALL of two filtered scans (SURVEY.md §2.7 U1 — reference builds "
    "its meta payload this way, build_gazetteer.py:91-99).",
    oracle="""
      SELECT c_custkey AS custkey, 'building' AS src
      FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT c_custkey AS custkey, 'rich' AS src
      FROM customer WHERE c_acctbal > 5000
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"), F.lit("building").alias("src")
    )
    b = c.where(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("custkey"), F.lit("rich").alias("src")
    )
    return a.unionAll(b)


@register(
    "set_intersect",
    "INTERSECT (distinct) of two key sets (SURVEY.md §2.7 U2).",
    oracle="""
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 1000
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.where(F.col("o_totalprice") > 1000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "set_except",
    "EXCEPT (distinct) — customers minus those with any 'F' order "
    "(SURVEY.md §2.7 U2).",
    oracle="""
      SELECT c_custkey AS custkey FROM customer
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    # subtract() IS EXCEPT DISTINCT (exceptAll().distinct() is not: for
    # left multiset [x,x] minus [x] it wrongly keeps x)
    return c.select(F.col("c_custkey").alias("custkey")).subtract(
        o.where(F.col("o_orderstatus") == "F").select(
            F.col("o_custkey").alias("custkey")
        )
    )


# ---------------------------------------------------------------- P6/F13: token containment filter
@register(
    "filter_token_like",
    "Dynamic token containment predicate — AND over tokens of OR over "
    "columns of LIKE '%tok%' (reference repo.py:5-13; SURVEY.md §2.2 P6). "
    "Filter is codegen'd and pushed against the parquet scan as a "
    "StringContains.",
    oracle="""
      SELECT doc_id, lang, n_chars
      FROM documents
      WHERE (text LIKE '%spark%' OR source LIKE '%spark%')
        AND (text LIKE '%merge%' OR source LIKE '%merge%')
    """,
)
def filter_token_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tokens, cols = ["spark", "merge"], ["text", "source"]
    pred = reduce(
        and_,
        [reduce(or_, [F.col(c).contains(t) for c in cols]) for t in tokens],
    )
    return d.where(pred).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------- P7: range predicates
@register(
    "filter_range_between",
    "Conjunctive range predicate — the bbox BETWEEN shape "
    "(reference repo.py:57-61; SURVEY.md §2.2 P7). Both bounds reach the "
    "scan as pushed filters + row-group min/max skipping.",
    oracle="""
      SELECT event_id, user_id, value
      FROM events
      WHERE value BETWEEN 50.0 AND 150.0
        AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-20'
    """,
)
def filter_range_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.where(
        F.col("value").between(50.0, 150.0)
        & F.col("ts").between(
            F.lit("2024-01-05").cast("timestamp"),
            F.lit("2024-01-20").cast("timestamp"),
        )
    ).select("event_id", "user_id", "value")


# ---------------------------------------------------------------- P1/F5-F11: projection + scalar funcs
@register(
    "project_scalar_functions",
    "Wide projection with computed columns (reference "
    "sql/migrations/001_pois.sql:16-46; SURVEY.md §2.2 P1): CASE-WHEN kind "
    "derivation + '||' concat (F7/F8), COALESCE/NULLIF (F5/F6), TRY_CAST "
    "(F10), LEAST saturation (F9) — all codegen'd, zero UDFs.",
    oracle="""
      SELECT p_partkey,
             lower(p_name) AS name_lower,
             CASE
               WHEN p_type = 'PROMO'   THEN 'promo:'   || p_brand
               WHEN p_type = 'ECONOMY' THEN 'economy:' || p_brand
               ELSE 'other'
             END AS kind,
             coalesce(nullif(p_type, 'STANDARD'), 'std') AS type_or_std,
             try_cast(substr(p_brand, 7, 2) AS INTEGER) AS brand_num,
             least(1.0, round(p_retailprice / 2000.0, 6)
                        + CASE WHEN p_size > 25 THEN 0.25 ELSE 0.0 END)
               AS importance
      FROM part
    """,
)
def project_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.when(F.col("p_type") == "PROMO", F.concat(F.lit("promo:"), F.col("p_brand")))
        .when(
            F.col("p_type") == "ECONOMY",
            F.concat(F.lit("economy:"), F.col("p_brand")),
        )
        .otherwise("other")
        .alias("kind"),
        F.coalesce(F.nullif(F.col("p_type"), F.lit("STANDARD")), F.lit("std")).alias(
            "type_or_std"
        ),
        F.substring("p_brand", 7, 2).try_cast("int").alias("brand_num"),
        F.least(
            F.lit(1.0),
            F.round(F.col("p_retailprice") / 2000.0, 6)
            + F.when(F.col("p_size") > 25, 0.25).otherwise(0.0),
        ).alias("importance"),
    )


# ---------------------------------------------------------------- F18: date + JSON scalar families
@register(
    "scalar_date_trunc_monthly",
    "date_trunc monthly revenue rollup (SURVEY.md §2.8 F18).",
    oracle="""
      SELECT date_trunc('month', o_orderdate) AS month,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders
      GROUP BY 1
    """,
)
def scalar_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "scalar_json_extract",
    "JSON field extraction from the events.props payload (SURVEY.md §2.8 "
    "F18): get_json_object ≙ DuckDB json_extract_string; aggregated so the "
    "extraction runs over every row.",
    oracle="""
      SELECT event_type,
             round(avg(try_cast(json_extract_string(props, '$.k') AS INTEGER)), 6)
               AS avg_k,
             count(*) AS n
      FROM events
      GROUP BY event_type
    """,
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = wide_table(spark, sf_dir, "events")  # Jackson parse per row — widen
    k = F.get_json_object("props", "$.k").try_cast("int")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"), F.count(F.lit(1)).alias("n")
    )


@register(
    "agg_pivot_status_by_segment",
    "Pivot (long→wide) aggregation: order counts per market segment "
    "pivoted on order status (SURVEY.md §2.4 A4). Expressed as "
    "conditional aggregation — identical plan shape to groupBy().pivot() "
    "with explicit values, and directly oracle-expressible.",
    oracle="""
      SELECT c.c_mktsegment AS segment,
             count(*) FILTER (o.o_orderstatus = 'F') AS n_f,
             count(*) FILTER (o.o_orderstatus = 'O') AS n_o,
             count(*) FILTER (o.o_orderstatus = 'P') AS n_p
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "segment",
            # pivot emits NULL for absent (segment, status) combos; the
            # oracle's count(*) FILTER emits 0 — pin 0 semantics
            F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        )
    )


@register(
    "window_grouped_topk_orders",
    "Per-group top-k via rank window (SURVEY.md §2.5 W2 — the batched "
    "generalization of the reference's global top-k, the shape used when "
    "scoring many geocode requests in one job): top-3 orders per market "
    "segment. One shuffle on the group key; rank prune happens before "
    "any further join.",
    oracle="""
      SELECT segment, o_orderkey, o_totalprice, rn
      FROM (
        SELECT c.c_mktsegment AS segment, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      ) WHERE rn <= 3
    """,
)
def window_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.topk import grouped_top_k

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("segment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("segment", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "subquery_scalar_above_nation_avg",
    "Correlated-aggregate comparison: customers with balance above their "
    "nation's average (SURVEY.md §2.3; decorrelated into a join against "
    "a pre-aggregated build side — the plan Catalyst produces for the "
    "correlated SQL form).",
    oracle="""
      SELECT c.c_custkey, c.c_nationkey
      FROM customer c
      WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    nation_avg = c.groupBy("c_nationkey").agg(
        F.avg("c_acctbal").alias("nation_avg")
    )
    return (
        c.join(F.broadcast(nation_avg.withColumnRenamed("c_nationkey", "nk")),
               F.col("c_nationkey") == F.col("nk"))
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey")
    )


@register(
    "scalar_array_map_functions",
    "Array/map scalar family (SURVEY.md §2.8 F18): split → transform → "
    "filter → sort → join over the documents table, plus element access. "
    "Everything codegen'd via higher-order functions.",
    oracle="""
      SELECT doc_id,
             coalesce(array_to_string(list_sort(list_distinct(
               list_filter(string_split(text, ' '), x -> length(x) > 5))), ','), '')
               AS long_tokens,
             string_split(text, ' ')[1] AS first_token,
             len(string_split(text, ' ')) AS n_raw_tokens
      FROM documents WHERE doc_id < 50
    """,
)
def scalar_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.array_join(
            F.array_sort(
                F.array_distinct(F.filter(toks, lambda x: F.length(x) > 5))
            ),
            ",",
        ).alias("long_tokens"),
        toks.getItem(0).alias("first_token"),
        F.size(toks).cast("bigint").alias("n_raw_tokens"),
    )


@register(
    "set_union_distinct",
    "UNION (distinct) — completes the set-op family (SURVEY.md §2.7 U2).",
    oracle="""
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
      UNION
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.where(F.col("o_totalprice") > 450000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.union(b).distinct()


@register(
    "window_range_frame_moving_avg",
    "RANGE-frame window: 7-day moving order count and price extrema per "
    "priority, ordered by orderdate (SURVEY.md §2.5 W2 — value-range "
    "frames, distinct from the ROWS frame in window_rank_lag_running). "
    "Frame aggregates are order-insensitive (count/min/max) because "
    "DuckDB evaluates windowed sums with segment trees — a different FP "
    "summation order that flips rounded sums at the ULP.",
    oracle="""
      SELECT o_orderkey, o_orderpriority,
             count(*) OVER w AS n_7d,
             min(o_totalprice) OVER w AS min_price_7d,
             max(o_totalprice) OVER w AS max_price_7d
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # rangeBetween needs a numeric ordering expression: epoch seconds.
    # o_orderdate reads as TIMESTAMP_NTZ, which won't cast to long
    # directly — go through timestamp_ltz (session tz is UTC).
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_orderdate").cast("timestamp_ltz").cast("long"))
        .rangeBetween(-604800, 0)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.min("o_totalprice").over(w).alias("min_price_7d"),
        F.max("o_totalprice").over(w).alias("max_price_7d"),
    )


@register(
    "agg_grouping_sets_sql_path",
    "GROUPING SETS through the spark.sql text path (SURVEY.md §2.2 P9 — "
    "the reference's only query interface is SQL text; this row proves "
    "the engine's SQL surface end-to-end, temp view + ANSI SQL).",
    oracle="""
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "scalar_string_family",
    "String scalar family (SURVEY.md §2.8 F18): regexp_extract, lpad, "
    "instr, reverse, repeat, substring arithmetic — all codegen'd.",
    oracle="""
      SELECT p_partkey,
             regexp_extract(p_brand, '#(\\d+)', 1)      AS brand_digits,
             lpad(CAST(p_size AS VARCHAR), 4, '0')      AS size_padded,
             instr(p_name, 'a')                         AS first_a,
             reverse(p_type)                            AS type_rev,
             repeat(substr(p_type, 1, 2), 2)            AS type_rep,
             upper(substr(p_name, 1, 1)) || lower(substr(p_name, 2)) AS name_cap
      FROM part
      WHERE p_partkey < 100
    """,
)
def scalar_string_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") < 100)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_digits"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.instr(F.col("p_name"), "a").cast("bigint").alias("first_a"),
        F.reverse("p_type").alias("type_rev"),
        F.repeat(F.substring("p_type", 1, 2), 2).alias("type_rep"),
        F.concat(
            F.upper(F.substring("p_name", 1, 1)),
            F.lower(F.expr("substring(p_name, 2)")),
        ).alias("name_cap"),
    )


@register(
    "join_group_topk_shipping_priority",
    "TPC-H Q3-shaped composite: 3-way join → grouped revenue → global "
    "top-10 (join + agg + TakeOrderedAndProject in one plan).",
    oracle="""
      SELECT l.l_orderkey AS orderkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
             o.o_orderdate AS orderdate
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
        AND l.l_shipdate  > TIMESTAMP '1998-01-01'
      GROUP BY l.l_orderkey, o.o_orderdate
      ORDER BY revenue DESC, orderkey
      LIMIT 10
    """,
)
def join_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
        .select("orderkey", "revenue", "orderdate")
    )


@register(
    "agg_having_filter",
    "HAVING — post-aggregation predicate (TPC-H Q18 shape): customers "
    "whose total order volume exceeds a threshold.",
    oracle="""
      SELECT o_custkey AS custkey,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_spend
      FROM orders
      GROUP BY o_custkey
      HAVING sum(o_totalprice) > 3500000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.sum("o_totalprice").alias("_raw"),
        )
        .where(F.col("_raw") > 3500000)
        .drop("_raw")
    )


@register(
    "sql_parameterized_query",
    "Parameterized SQL execution — named-parameter binding through "
    "spark.sql(sql, args=...) (SURVEY.md §2.2 P9; the reference binds "
    "``?`` placeholders via con.execute(sql, params), repo.py:31,42,71).",
    oracle="""
      SELECT o_orderstatus AS status, count(*) AS n,
             round(avg(o_totalprice), 4) AS avg_price
      FROM orders
      WHERE o_totalprice BETWEEN 100000 AND 300000
      GROUP BY o_orderstatus
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_param")
    return spark.sql(
        """
        SELECT o_orderstatus AS status, count(*) AS n,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders_param
        WHERE o_totalprice BETWEEN :lo AND :hi
        GROUP BY o_orderstatus
        """,
        args={"lo": 100000, "hi": 300000},
    )


@register(
    "join_left_outer_customer_orders",
    "Left outer join + aggregation with NULL-extension semantics "
    "(SURVEY.md §2.3): every customer appears, order-less customers get "
    "zero counts — coalesce over the null-extended side.",
    oracle="""
      SELECT c.c_custkey,
             count(o.o_orderkey) AS n_big_orders,
             round(coalesce(sum(o.o_totalprice), 0.0), 2) AS big_spend
      FROM customer c
      LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "big_spend"
            ),
        )
    )


@register(
    "join_full_outer_users_customers",
    "Full outer join: event-user activity vs customer order activity on "
    "the shared id space — rows survive from BOTH unmatched sides "
    "(SURVEY.md §2.3).",
    oracle="""
      WITH u AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
           c AS (SELECT o_custkey, count(*) AS n_orders FROM orders
                 WHERE o_custkey <= 30 GROUP BY o_custkey)
      SELECT coalesce(u.user_id, c.o_custkey) AS id,
             coalesce(u.n_events, 0) AS n_events,
             coalesce(c.n_orders, 0) AS n_orders
      FROM u FULL OUTER JOIN c ON u.user_id = c.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") <= 30)
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    c = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        u.join(c, u.user_id == c.o_custkey, "full_outer")
        .select(
            F.coalesce(F.col("user_id"), F.col("o_custkey")).alias("id"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "scalar_date_arithmetic",
    "Date/time arithmetic family (SURVEY.md §2.8 F18): extract parts, "
    "day difference, month shift, truncation — engine-portable forms "
    "(dayofweek numbering differs between engines, so ISO extract is "
    "used on both sides).",
    oracle="""
      SELECT o_orderkey,
             CAST(extract(year  FROM o_orderdate) AS INTEGER) AS y,
             CAST(extract(month FROM o_orderdate) AS INTEGER) AS m,
             CAST(extract(day   FROM o_orderdate) AS INTEGER) AS d,
             CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS BIGINT)
               AS days_to_2002,
             strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
             strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start
      FROM orders WHERE o_orderkey < 200
    """,
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate"))
        .cast("bigint")
        .alias("days_to_2002"),
        # string-format dates on both sides: pandas renders DATE columns
        # as midnight timestamps, which breaks value canonicalization
        F.date_format(F.add_months(F.col("o_orderdate"), 3), "yyyy-MM-dd").alias(
            "plus3m"
        ),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
    )


@register(
    "scalar_map_functions",
    "Map construction + manipulation family (SURVEY.md §2.8 F12/F18 — "
    "the reference's tags MAP column semantics): map_from_entries over "
    "grouped counts, NULL-safe key lookup (try_element_at ≙ DuckDB "
    "map_extract[1], both NULL→default on missing), sorted key list, "
    "cardinality.",
    oracle="""
      WITH per AS (SELECT user_id, event_type, count(*) AS c
                   FROM events GROUP BY 1, 2),
      m AS (SELECT user_id, map_from_entries(list({'key': event_type, 'value': c}))
                     AS mp
            FROM per GROUP BY user_id)
      SELECT user_id,
             array_to_string(list_sort(map_keys(mp)), ',') AS types,
             coalesce(map_extract(mp, 'purchase')[1], 0) AS n_purchases,
             CAST(cardinality(mp) AS BIGINT) AS n_types
      FROM m
    """,
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("event_type").alias("key"), F.col("c").alias("value"))
            )
        ).alias("mp")
    )
    return m.select(
        "user_id",
        F.array_join(F.array_sort(F.map_keys("mp")), ",").alias("types"),
        F.coalesce(F.try_element_at(F.col("mp"), F.lit("purchase")), F.lit(0)).alias(
            "n_purchases"
        ),
        F.size("mp").cast("bigint").alias("n_types"),
    )


@register(
    "udtf_python_table_function",
    "Python UDTF (SURVEY.md §2.9 X6 — Spark 3.5+ table function): "
    "expands each document into (doc_id, sentence_index, n_tokens) rows "
    "with per-row Python logic that a scalar UDF can't express "
    "(variable-arity output). Rows-only: Python UDTFs have no oracle "
    "equivalent; output shape pinned here by the deterministic split.",
    tags=("rows-only",),
)
def udtf_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, chunk_index: int, n_tokens: int")
    class ChunkCounter:
        def eval(self, doc_id: int, text: str):
            toks = (text or "").split()
            for i in range(0, len(toks), 50):
                yield doc_id, i // 50, len(toks[i : i + 50])

    d = table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    d.select("doc_id", "text").createOrReplaceTempView("_udtf_in")
    spark.udtf.register("chunk_counter", ChunkCounter)
    return spark.sql(
        "SELECT c.* FROM _udtf_in, LATERAL chunk_counter(doc_id, text) c"
    )


@register(
    "udaf_grouped_pandas_weighted_avg",
    "Custom UDAF via pandas GROUPED_AGG (SURVEY.md §2.9 X6): "
    "quantity-weighted average price per return flag — Arrow ships each "
    "group's columns as numpy-backed Series, the kernel is vectorized. "
    "Oracle-checked: the same weighted average is SQL-expressible, so "
    "this row also validates the Arrow aggregation path bit-for-bit "
    "(rounded).",
    oracle="""
      SELECT l_returnflag,
             round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
               AS weighted_avg_price
      FROM lineitem
      GROUP BY l_returnflag
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg("l_extendedprice", "l_quantity"), 4).alias(
            "weighted_avg_price"
        )
    )


@register(
    "agg_filtered_conditional",
    "Conditional aggregation with FILTER clauses — multiple disjoint "
    "aggregates in one pass over one shuffle (SURVEY.md §2.4 A4).",
    oracle="""
      SELECT l_linestatus,
             count(*) FILTER (l_discount > 0.05)                 AS n_discounted,
             count(*) FILTER (l_tax = 0)                         AS n_taxfree,
             round(sum(l_extendedprice) FILTER (l_quantity > 25), 2) AS big_qty_price
      FROM lineitem
      GROUP BY l_linestatus
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
        F.round(
            F.sum(F.when(F.col("l_quantity") > 25, F.col("l_extendedprice"))), 2
        ).alias("big_qty_price"),
    )


@register(
    "window_distribution_analytics",
    "Distribution analytics in one window pass (SURVEY.md §2.5 W2): "
    "ntile quartiles, percent_rank, cume_dist over account balance per "
    "nation — deterministic total order (balance, custkey).",
    oracle="""
      SELECT c_custkey, c_nationkey,
             ntile(4)       OVER w AS quartile,
             percent_rank() OVER w AS pct_rank,
             cume_dist()    OVER w AS cume
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    # pct_rank/cume are k/n rationals from identical integers — the raw
    # doubles are bit-identical across engines, while ROUNDING them hits
    # exact .5 boundaries (power-of-two group sizes) where Spark
    # (half-up) and DuckDB disagree. Compare unrounded.
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "window_first_last_nth",
    "first_value / last_value / nth_value with an explicit full-partition "
    "frame (SURVEY.md §2.5 W2) — cheapest/priciest/second order per "
    "customer attached to every row.",
    oracle="""
      SELECT o_orderkey, o_custkey,
             first_value(o_totalprice) OVER w AS cheapest,
             last_value(o_totalprice)  OVER w AS priciest,
             nth_value(o_totalprice, 2) OVER w AS second_cheapest
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(w).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_cheapest"),
    )


@register(
    "agg_ordered_string_digest",
    "Ordered string aggregation (SURVEY.md §2.4 A4): sorted region-name "
    "digest per region of nations — collect_list → array_sort → join, "
    "deterministic regardless of shuffle order (DuckDB: list_sort(list)).",
    oracle="""
      SELECT r.r_name AS region,
             array_to_string(list_sort(list(n.n_name)), '|') AS nations,
             count(*) AS n_nations
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
    """,
)
def agg_string_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@register(
    "grouped_map_apply_in_pandas_zscore",
    "Grouped-map applyInPandas (SURVEY.md §2.9 X6): per-customer z-score "
    "of order prices — each group's rows arrive as one Arrow-backed "
    "pandas DataFrame, the kernel is vectorized numpy. Oracle-checked "
    "against the SQL window formulation, proving the grouped-map path "
    "produces exactly what the declarative plan does. Scale note: "
    "grouped-map costs one Python invocation per key (measured ~3 ms/key here), so "
    "for tiny per-customer groups the declarative window (the oracle) "
    "IS the production plan; the entry pins the API surface on a "
    "deterministic o_custkey%32 slice to keep the invocation count — "
    "not the kernel work — from dominating.",
    oracle="""
      SELECT o_orderkey, o_custkey,
             round((o_totalprice - avg(o_totalprice) OVER w)
                   / stddev_samp(o_totalprice) OVER w, 6) AS price_z
      FROM orders
      WHERE o_custkey % 32 = 0
      WINDOW w AS (PARTITION BY o_custkey)
      QUALIFY stddev_samp(o_totalprice) OVER w > 0
    """,
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["o_totalprice"].std(ddof=1)
        if not sd or sd != sd:  # single-row group or zero variance
            return pdf.iloc[0:0][["o_orderkey", "o_custkey"]].assign(price_z=[])
        mean = pdf["o_totalprice"].mean()
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_custkey": pdf["o_custkey"],
                "price_z": ((pdf["o_totalprice"] - mean) / sd).round(6),
            }
        )

    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") % 32 == 0)
    return o.groupBy("o_custkey").applyInPandas(
        zscore, "o_orderkey long, o_custkey long, price_z double"
    )


@register(
    "filter_regex_predicates",
    "Regex predicate family (SURVEY.md §2.8 F13/F18): rlike filter, "
    "regexp_count, capture extraction — anchored and class patterns "
    "portable between Java regex and RE2.",
    oracle="""
      SELECT p_partkey, p_name,
             CAST(len(regexp_extract_all(p_name, 'a')) AS BIGINT) AS n_a,
             regexp_extract(p_type, '^(ECONOMY|PROMO)', 1) AS type_class
      FROM part
      WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+')
        AND p_type SIMILAR TO '(ECONOMY|PROMO).*'
    """,
)
def filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.where(
            F.col("p_name").rlike("^[a-z]+ [a-z]+")
            & F.col("p_type").rlike("^(ECONOMY|PROMO).*$")
        )
        .select(
            "p_partkey",
            "p_name",
            F.regexp_count(F.col("p_name"), F.lit("a")).cast("bigint").alias("n_a"),
            F.regexp_extract("p_type", "^(ECONOMY|PROMO)", 1).alias("type_class"),
        )
    )


@register(
    "recursive_cte_month_series",
    "Recursive CTE (Spark 4.x WITH RECURSIVE): generate a month index "
    "series recursively, join each month to its order volume — the "
    "iterate-until-done SQL shape (series generation, hierarchies, "
    "transitive closure) that needed driver loops before Spark 4.",
    oracle="""
      WITH RECURSIVE months(m) AS (
        SELECT 1
        UNION ALL
        SELECT m + 1 FROM months WHERE m < 12
      )
      SELECT m AS month_num,
             count(o_orderkey) AS n_orders,
             round(coalesce(sum(o_totalprice), 0.0), 2) AS revenue
      FROM months
      LEFT JOIN orders ON CAST(extract(month FROM o_orderdate) AS INTEGER) = m
      GROUP BY m
    """,
)
def recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_rec")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT 1
          UNION ALL
          SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT m AS month_num,
               count(o_orderkey) AS n_orders,
               round(coalesce(sum(o_totalprice), 0.0), 2) AS revenue
        FROM months
        LEFT JOIN orders_rec ON month(o_orderdate) = m
        GROUP BY m
        """
    )


@register(
    "unpivot_lineitem_measures",
    "Unpivot (wide→long reshape): four lineitem measures melted into "
    "(key, measure, value) rows — the inverse of the pivot row. Spark "
    "df.unpivot keeps NULL values; the DuckDB oracle pins the same "
    "semantics with UNPIVOT INCLUDE NULLS (its default drops them).",
    oracle="""
      SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
      FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax
            FROM lineitem WHERE l_orderkey < 100)
      UNPIVOT INCLUDE NULLS
        (val FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "raw_val",
    ).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round("raw_val", 2).alias("val"),
    )


@register(
    "set_except_all_multiset",
    "EXCEPT ALL — multiset difference preserving duplicate counts "
    "(SURVEY.md §2.7 U2): per-occurrence supplier keys of heavy lines "
    "minus those of discounted lines.",
    oracle="""
      SELECT l_suppkey FROM lineitem WHERE l_quantity > 45
      EXCEPT ALL
      SELECT l_suppkey FROM lineitem WHERE l_discount > 0.08
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 45).select("l_suppkey")
    b = li.where(F.col("l_discount") > 0.08).select("l_suppkey")
    return a.exceptAll(b)


@register(
    "set_intersect_all_multiset",
    "INTERSECT ALL — multiset intersection (SURVEY.md §2.7 U2).",
    oracle="""
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_totalprice") > 200000).select("o_custkey")
    return a.intersectAll(b)


@register(
    "scalar_levenshtein_rank",
    "Edit-distance candidate ranking — the fuzzy-geocoding core family "
    "(reference ranking.py uses rapidfuzz WRatio; Levenshtein is its "
    "SQL-portable sibling both engines implement natively): distance "
    "from every customer name to a probe string, top 25 by (distance, "
    "name, key) with a fully deterministic tie-break. JVM levenshtein "
    "inside whole-stage codegen — the scan-side compute pattern of the "
    "flagship filter-then-verify query.",
    oracle="""
      SELECT c_custkey, c_name,
             levenshtein(lower(c_name), 'customer#000000999') AS dist
      FROM customer
      ORDER BY dist, c_name, c_custkey
      LIMIT 25
    """,
)
def scalar_levenshtein_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_name",
            F.levenshtein(
                F.lower(F.col("c_name")), F.lit("customer#000000999")
            ).alias("dist"),
        )
        .orderBy("dist", "c_name", "c_custkey")
        .limit(25)
    )


@register(
    "merge_into_upsert_delete",
    "Full MERGE INTO semantics (Delta/Iceberg MERGE shape, no table "
    "format needed — etl/incremental.py::merge_into): customers as "
    "target, a deterministic source batch derived from orders activity; "
    "WHEN MATCHED AND acctbal < 0 THEN DELETE, WHEN MATCHED THEN "
    "UPDATE (comment + acctbal), WHEN NOT MATCHED THEN INSERT. One "
    "full-outer join on the key — co-locatable by bucketing at 100 TB. "
    "Oracle states the same three-way CASE in SQL.",
    oracle="""
      WITH src AS (
        SELECT c_custkey + 100000 AS c_custkey,
               'new customer ' || c_custkey AS c_name,
               round(c_acctbal - 50, 2) AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 1
        UNION ALL
        SELECT c_custkey, c_name, round(c_acctbal + 100, 2) AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 3
      ),
      merged AS (
        SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
               CASE WHEN t.c_custkey IS NULL THEN s.c_name
                    WHEN s.c_custkey IS NOT NULL THEN s.c_name
                    ELSE t.c_name END AS c_name,
               CASE WHEN t.c_custkey IS NULL THEN s.c_acctbal
                    WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                    ELSE round(t.c_acctbal, 2) END AS c_acctbal,
               t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
                 AS matched,
               t.c_acctbal AS t_bal
        FROM customer t FULL OUTER JOIN src s
          ON t.c_custkey = s.c_custkey
      )
      SELECT c_custkey, c_name, c_acctbal FROM merged
      WHERE NOT (matched AND t_bal < 0)
    """,
)
def merge_into_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.etl.incremental import merge_into

    c = table(spark, sf_dir, "customer")
    target = c.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    inserts = c.where(F.col("c_custkey") % 10 == 1).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.concat(F.lit("new customer "), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        F.round(F.col("c_acctbal") - 50, 2).alias("c_acctbal"),
    )
    updates = c.where(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
    )
    source = inserts.unionByName(updates)
    return merge_into(
        target,
        source,
        key="c_custkey",
        update_cols=["c_name", "c_acctbal"],
        delete_condition=F.col("t.c_acctbal") < 0,
    )


@register(
    "join_salted_skew",
    "Salted skewed join (operators/skew.py::salted_join, build-brief "
    "skew mitigation): the fact side gets a deterministic 8-way salt, "
    "the dim side is exploded to all salts, and the join keys on "
    "(key, salt) so one hot key spreads over 8 reducers instead of "
    "stalling one. Semantics-preserving — the oracle is the PLAIN join; "
    "equality under disabled-broadcast SortMergeJoin is pinned in "
    "tests/test_operators.py.",
    oracle="""
      SELECT s.s_nationkey AS nationkey,
             round(sum(l.l_extendedprice), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_extendedprice"
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        salted_join(li, sup, key="s_suppkey", salt=8)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "scd2_event_type_dimension",
    "Slowly-changing-dimension (type 2) build: collapse each user's "
    "event stream into validity intervals of their event_type attribute "
    "— consecutive equal-type runs become one versioned row with "
    "[valid_from, valid_to) and an is_current flag. Gaps-and-islands "
    "(lag-change flag + running sum) then lead() for the closing "
    "timestamp: two window passes over ONE shuffle on user_id, the "
    "standard warehouse CDC-to-SCD2 pipeline shape at any scale.",
    oracle="""
      WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), runs AS (
        SELECT user_id, ts, event_type,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)::BIGINT AS version
        FROM flagged
      ), dim AS (
        SELECT user_id, version,
               min(event_type) AS attr_event_type,
               min(ts) AS valid_from,
               count(*) AS n_events
        FROM runs GROUP BY user_id, version
      )
      SELECT user_id, version, attr_event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
             (lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               IS NULL) AS is_current,
             n_events
      FROM dim
    """,
)
def scd2_event_type_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            ~F.col("event_type").eqNullSafe(
                F.lag("event_type").over(w)
            ),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.withColumn(
        "version", F.sum("chg").over(wsum).cast("bigint")
    )
    dim = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("attr_event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return dim.select(
        "user_id",
        "version",
        "attr_event_type",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        "n_events",
    )


@register(
    "skyline_pareto_orders",
    "2-D Pareto skyline of orders — earliest-date/highest-price "
    "non-dominated frontier (an order is dominated if another has "
    "date <= AND price >= with one strict). The naive formulation is "
    "a quadratic non-equi anti-join (BroadcastNestedLoopJoin — a "
    "scale-killer); the 2-D skyline instead falls out of a running "
    "max: per-date max price, then a date-ordered cummax over STRICTLY "
    "EARLIER dates — frontier dates are where the per-date max exceeds "
    "it, O(n log n) with one window pass, the plan that survives "
    "100x. Comparisons only, no FP accumulation.",
    oracle="""
      WITH dmax AS (
        SELECT o_orderdate AS d, max(o_totalprice) AS pmax
        FROM orders GROUP BY o_orderdate
      ), run AS (
        SELECT d, pmax,
               max(pmax) OVER (ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS cmax
        FROM dmax
      ), fdates AS (
        SELECT d, pmax FROM run WHERE cmax IS NULL OR pmax > cmax
      )
      SELECT o.o_orderkey,
             strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
             o.o_totalprice
      FROM orders o JOIN fdates f
        ON o.o_orderdate = f.d AND o.o_totalprice = f.pmax
      ORDER BY o.o_orderdate, o.o_orderkey
    """,
)
def skyline_pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    dmax = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("pmax")
    )
    wrun = (
        Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    )
    run = dmax.withColumn("cmax", F.max("pmax").over(wrun))
    fdates = run.where(
        F.col("cmax").isNull() | (F.col("pmax") > F.col("cmax"))
    ).select("d", "pmax")
    return (
        o.join(
            F.broadcast(fdates),
            (F.col("o_orderdate") == F.col("d"))
            & (F.col("o_totalprice") == F.col("pmax")),
        )
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
        )
        .orderBy("order_date", "o_orderkey")
    )


@register(
    "join_lateral_topk_per_customer",
    "SQL LATERAL correlated subquery (Spark 4 lateral join surface): "
    "each BUILDING-segment customer paired with its top-3 orders by "
    "price via a correlated ORDER BY ... LIMIT subquery. Catalyst "
    "rewrites the lateral into a windowed join (same physical shape "
    "as window_grouped_topk_orders) — the entry pins the SQL surface, "
    "not a new physical operator.",
    oracle="""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
      WHERE c.c_mktsegment = 'BUILDING'
      ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
    """,
)
def join_lateral_topk_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("v_lat_customer")
    o.createOrReplaceTempView("v_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM v_lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM v_lat_orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) o
        WHERE c.c_mktsegment = 'BUILDING'
        ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey
        """
    )


@register(
    "window_count_distinct_running",
    "Running COUNT(DISTINCT) over a window — an aggregate Spark does "
    "NOT support natively (DISTINCT window aggregates raise "
    "UNSUPPORTED_EXPR): the standard rewrite marks each key's FIRST "
    "occurrence per partition (row_number over (user, type) = 1) and "
    "running-sums the markers — same one-shuffle cost class, exact "
    "result. The oracle runs DuckDB's native count(DISTINCT ...) OVER, "
    "so the rewrite is verified against the real semantics.",
    oracle="""
      SELECT user_id, ts, event_id, event_type,
             count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS distinct_types_seen
      FROM events
    """,
)
def window_count_distinct_running(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias(
            "first_seen"
        ),
    )
    return marked.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("first_seen").over(w_run).cast("bigint").alias(
            "distinct_types_seen"
        ),
    )


@register(
    "scalar_variant_json_path",
    "Spark 4 VARIANT ingestion of the events props JSON: parse_json "
    "into the native semi-structured type once, then typed "
    "variant_get path extraction — the open-format answer to "
    "schema-on-read JSON columns (binary-encoded, no per-query "
    "string re-parse, pushdown-friendly). Aggregates the extracted "
    "value per event_type. The oracle reads the same paths with "
    "DuckDB's JSON extraction.",
    oracle="""
      SELECT event_type,
             count(*) AS n_events,
             count(json_extract(props, '$.k')) AS n_with_k,
             sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
             min(json_extract(props, '$.k')::BIGINT) AS min_k,
             max(json_extract(props, '$.k')::BIGINT) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def scalar_variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "scalar_try_error_tolerant",
    "ANSI-mode error-tolerant scalar family (this repo runs Spark 4 "
    "with ANSI on, where a bad cast or /0 ABORTS the query): "
    "Column.try_cast turns deterministic parse failures into NULLs "
    "(every 3rd event's rendering is corrupted with a trailing 'x'), "
    "try_divide turns a zero denominator into NULL — the per-row "
    "quarantine pattern for dirty 100 TB inputs, where one malformed "
    "record must not kill a 1000-executor job. Counts good/bad parses "
    "and aggregates the survivors per event_type.",
    oracle="""
      WITH s AS (
        SELECT event_type,
               CASE WHEN event_id % 3 = 0
                    THEN value::VARCHAR || 'x'
                    ELSE value::VARCHAR END AS raw,
               value,
               event_id % 5 AS denom
        FROM events
      )
      SELECT event_type,
             count(*) AS n_rows,
             count(TRY_CAST(raw AS DOUBLE)) AS n_parsed,
             sum(CASE WHEN TRY_CAST(raw AS DOUBLE) IS NULL
                      THEN 1 ELSE 0 END)::BIGINT AS n_quarantined,
             CAST(round(sum(CAST(TRY_CAST(raw AS DOUBLE) AS DECIMAL(18,2))), 2)
                  AS DOUBLE) AS sum_parsed,
             count(value / nullif(denom, 0)) AS n_divisible
      FROM s GROUP BY event_type ORDER BY event_type
    """,
)
def scalar_try_error_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.col("value").cast("string"), F.lit("x")),
    ).otherwise(F.col("value").cast("string"))
    s = ev.select(
        "event_type",
        raw.alias("raw"),
        "value",
        (F.col("event_id") % 5).alias("denom"),
    )
    parsed = F.col("raw").try_cast("double")
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(parsed).alias("n_parsed"),
            F.sum(F.when(parsed.isNull(), 1).otherwise(0)).alias(
                "n_quarantined"
            ),
            F.round(F.sum(parsed.cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_parsed"),
            F.count(F.try_divide(F.col("value"), F.col("denom"))).alias(
                "n_divisible"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "udf_cogrouped_pandas_stats",
    "Cogrouped-map applyInPandas (the one pandas-UDF surface the "
    "registry didn't yet pin: two tables cogrouped on a key, the "
    "kernel sees BOTH sides' rows per key as pandas frames): per "
    "BUILDING-segment customer, order count and exact spend (integer-"
    "cent arithmetic inside the kernel — no FP summation-order "
    "drift), including zero-order customers via the empty right "
    "frame. The oracle recomputes with a LEFT JOIN + GROUP BY; the "
    "entry pins the cogroup API and its empty-side edge, not new "
    "relational semantics. Scale notes: (a) the orders side is "
    "semi-joined to the filtered customer keys BEFORE the cogroup — "
    "cogrouped-map invokes the Python kernel once per key, so keys "
    "that can only produce empty output must never reach it; (b) the "
    "deterministic c_custkey%8 slice keeps the per-key-invocation "
    "cost (measured ~3 ms/key here — the cogroup API's cost model) bounded — the "
    "declarative LEFT JOIN (the oracle) is the production plan for "
    "tiny groups; this entry pins the API surface.",
    oracle="""
      SELECT c.c_custkey,
             count(o.o_orderkey) AS n_orders,
             CAST(round(coalesce(sum(CAST(o.o_totalprice
                  AS DECIMAL(18,2))), 0), 2) AS DOUBLE) AS total_spend,
             c.c_acctbal
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING' AND c.c_custkey % 8 = 0
      GROUP BY c.c_custkey, c.c_acctbal
    """,
)
def udf_cogrouped_pandas_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    c = table(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING")
        & (F.col("c_custkey") % 8 == 0)
    )
    o = (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        # keys outside the customer filter would invoke the kernel
        # only to return an empty frame — prune them before Python
        .join(
            c.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_semi",
        )
    )

    def stats(cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
        if not len(cust):
            # orders for a customer outside the BUILDING filter: the
            # cogroup still delivers the key — emit nothing
            return pd.DataFrame(
                columns=["c_custkey", "n_orders", "total_spend", "c_acctbal"]
            )
        # exact integer-cent sum: 2dp doubles -> cents -> back (no
        # FP summation-order drift vs the oracle's DECIMAL sum)
        cents = (
            (orders["o_totalprice"].to_numpy() * 100).round().astype("int64")
        )
        return pd.DataFrame(
            {
                "c_custkey": [int(cust["c_custkey"].iloc[0])],
                "n_orders": [len(orders)],
                "total_spend": [round(int(cents.sum()) / 100.0, 2)],
                "c_acctbal": [float(cust["c_acctbal"].iloc[0])],
            }
        )

    return (
        c.groupBy("c_custkey")
        .cogroup(o.groupBy("o_custkey"))
        .applyInPandas(
            stats,
            "c_custkey long, n_orders long, total_spend double,"
            " c_acctbal double",
        )
    )


# ------------------------------------------------------ keyset paging


@register(
    "page_keyset_orders",
    "Keyset (seek-method) pagination — page 3 of orders under "
    "(o_totalprice DESC, o_orderkey): the cursor (the 40th row) is "
    "resolved at plan-build time as a bounded top-40 point lookup (the "
    "same driver-side parameter-resolve pattern as the ANN query "
    "vector; bench reports it in build_sec), then the page fetch is a "
    "pushed-down keyset predicate + TakeOrderedAndProject top-20. "
    "This is THE scalable pagination shape: OFFSET forces every "
    "executor to produce and discard 40+ rows per partition and the "
    "driver to merge them all, while the keyset predicate prunes at "
    "the scan and the top-k heap never holds more than a page. "
    "Returns empty (like the oracle) when the table has no 40th row.",
    oracle="""
      WITH b AS (
        SELECT o_totalprice AS bp, o_orderkey AS bk FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 40
      ),
      bd AS (SELECT bp, bk FROM b ORDER BY bp ASC, bk DESC LIMIT 1),
      nb AS (SELECT count(*) AS cnt FROM b)
      SELECT o.o_orderkey, o.o_custkey,
             round(o.o_totalprice, 2) AS o_totalprice,
             strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
      FROM orders o, bd, nb
      WHERE nb.cnt = 40
        AND (o.o_totalprice < bd.bp
             OR (o.o_totalprice = bd.bp AND o.o_orderkey > bd.bk))
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 20
    """,
)
def page_keyset_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    out_cols = (
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
    )
    # cursor resolution is a BOUNDED top-40 point lookup collected at
    # plan-build time: keyset pagination's defining property is that
    # the cursor arrives as a LITERAL in the page query — that is what
    # lets the predicate reach the parquet scan (PushedFilters /
    # row-group skipping, asserted in tests/test_scale_layout.py).
    # The r05 lazy-crossJoin variant launched zero build-time jobs but
    # demoted the predicate to a post-scan BroadcastNestedLoopJoin
    # filter — the wrong trade at 100 TB, reverted here (the build-time
    # job is the same driver-side parameter-resolve pattern as the ANN
    # query vector; bench reports it in build_sec).
    b = (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_totalprice", "o_orderkey")
        .limit(40)
        .collect()
    )
    if len(b) < 40:  # no 40th row: empty page, like the oracle's guard
        return o.select(*out_cols).where(F.lit(False))
    bp, bk = b[-1]["o_totalprice"], b[-1]["o_orderkey"]
    return (
        o.where(
            (F.col("o_totalprice") < F.lit(bp))
            | (
                (F.col("o_totalprice") == F.lit(bp))
                & (F.col("o_orderkey") > F.lit(bk))
            )
        )
        .select(*out_cols)
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


# ------------------------------- largest-remainder allocation

_ALLOC_SEATS = 1000


@register(
    "alloc_largest_remainder",
    "Proportional allocation by the LARGEST-REMAINDER method "
    "(Hamilton/Hare) — the 'split this budget/quota/sample-count "
    "across groups proportionally, in whole units, summing exactly to "
    "the total' operation every mixture/sampling pipeline needs (cf. "
    "sample_mixture_rebalance, which allocates fractionally): each "
    "nation's revenue cents earn floor(share * 1000) seats, and the "
    "unallocated remainder seats go to the largest fractional parts "
    "(tie-break nation key). All arithmetic is exact bigint "
    "(rev * 1000 div/mod total), so seats sum to exactly 1000 on both "
    "engines by construction. 100 TB: the fact scan collapses to one "
    "row per nation before the bounded (25-row) ranking window — the "
    "windows only ever see |groups| rows.",
    oracle=f"""
      WITH rev AS (
        SELECT n.n_name AS nation, n.n_nationkey AS nk,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, n.n_nationkey
      ),
      base AS (
        SELECT nation, nk, cents,
               (cents * {_ALLOC_SEATS}) // sum(cents) OVER () AS floor_seats,
               (cents * {_ALLOC_SEATS}) % sum(cents) OVER () AS rem
        FROM rev
      ),
      ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, nk) AS rr,
               {_ALLOC_SEATS} - sum(floor_seats) OVER () AS leftover
        FROM base
      )
      SELECT nation, cents,
             (floor_seats + CASE WHEN rr <= leftover THEN 1 ELSE 0 END)
               ::BIGINT AS seats
      FROM ranked
      ORDER BY seats DESC, nation
    """,
)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("n_nationkey").alias("nk"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    # every window below runs over the 25-row per-nation frame — the
    # single-partition totals are bounded by |nations|, never by facts.
    # `div` keeps the quotient in exact bigint arithmetic (Spark's `/`
    # on bigints is DOUBLE division — a rounding hazard near-integer)
    wall = Window.partitionBy()
    base = rev.withColumn("total", F.sum("cents").over(wall)).selectExpr(
        "nation",
        "nk",
        "cents",
        f"(cents * {_ALLOC_SEATS}) div total AS floor_seats",
        f"(cents * {_ALLOC_SEATS}) % total AS rem",
    )
    ranked = base.select(
        "nation",
        "cents",
        "floor_seats",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "nk"))
        .alias("rr"),
        (F.lit(_ALLOC_SEATS) - F.sum("floor_seats").over(wall)).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "nation",
        "cents",
        (
            F.col("floor_seats")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("seats"),
    ).orderBy(F.col("seats").desc(), "nation")


# ------------------------------------ business-day arithmetic

# business days in [epoch, epoch + m) for m = dd % 7, given that day 0
# (1970-01-01) was a THURSDAY: Thu,Fri count; Sat,Sun don't; Mon-Wed do.
_BD_CORR = [0, 1, 2, 2, 2, 3, 4]


def _busdays_sql(dd: str) -> str:
    case = " ".join(
        f"WHEN {m} THEN {c}" for m, c in enumerate(_BD_CORR)
    )
    return (
        f"(5 * (({dd}) // 7) + CASE ({dd}) % 7 {case} ELSE 0 END)"
    )


def _busdays_spark(dd: str) -> str:
    case = " ".join(
        f"WHEN {m} THEN {c}" for m, c in enumerate(_BD_CORR)
    )
    return (
        f"(5 * (({dd}) div 7) + CASE ({dd}) % 7 {case} ELSE 0 END)"
    )


@register(
    "scalar_business_days",
    "Business-day (weekday) calendar arithmetic WITHOUT a calendar "
    "table: the count of weekdays between order and ship date comes "
    "from a closed-form g(d) = 5*(d div 7) + correction[d mod 7] on "
    "the integer epoch-day index (day 0 = Thursday), so busdays = "
    "g(ship) - g(order) is pure integer expression work — no "
    "generate_series spine, no dayofweek() (whose numbering differs "
    "between engines; epoch-day mod 7 is engine-neutral by "
    "construction). Aggregated per order priority: count, mean and "
    "max weekday shipping delay. 100 TB: one equi join and a "
    "map-side-combinable groupBy; the calendar math is whole-stage "
    "codegen.",
    oracle=f"""
      WITH pairs AS (
        SELECT o.o_orderpriority AS priority,
               {_busdays_sql("epoch_us(l.l_shipdate) // 86400000000")}
               - {_busdays_sql("epoch_us(o.o_orderdate) // 86400000000")}
                 AS busdays
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      )
      SELECT priority,
             count(*) AS n_lineitems,
             round(sum(busdays)::DOUBLE / count(*), 6) AS mean_busdays,
             max(busdays)::BIGINT AS max_busdays
      FROM pairs GROUP BY priority ORDER BY priority
    """,
)
def scalar_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    pairs = o.join(li, o.o_orderkey == li.l_orderkey).selectExpr(
        "o_orderpriority AS priority",
        f"{_busdays_spark('unix_micros(l_shipdate) div 86400000000')}"
        f" - {_busdays_spark('unix_micros(o_orderdate) div 86400000000')}"
        " AS busdays",
    )
    return (
        pairs.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(
                F.sum("busdays").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_busdays"),
            F.max("busdays").cast("long").alias("max_busdays"),
        )
        .orderBy("priority")
    )


# --------------------------------------- rendezvous (HRW) sharding

_HRW_SHARDS = [f"shard-{i}" for i in range(8)]


def _hrw_values() -> str:
    return ", ".join(f"('{s}')" for s in _HRW_SHARDS)


@register(
    "shard_rendezvous_hashing",
    "Rendezvous (highest-random-weight) shard assignment — the "
    "stateless routing primitive behind consistent cache/shard "
    "placement (Thaler & Ravishankar 1998): each key goes to the "
    "shard with the highest md5(shard:key) weight, so adding or "
    "removing ONE shard remaps only that shard's keys (1/n of the "
    "keyspace, vs mod-n hashing's full reshuffle — the minimal-"
    "disruption pytest pins this). CROSS-ENGINE md5 kernel (60-bit "
    "hex prefix weights); the per-key argmax is a row-local greatest"
    "() over |shards| structs — no explode, no shuffle beyond the "
    "final |shards|-group count. Reports per-shard doc counts and "
    "keyspace share. 100 TB: assignment is embarrassingly parallel "
    "scan work; the agg moves |shards| rows per map task.",
    oracle=f"""
      WITH s(shard) AS (VALUES {_hrw_values()}),
      w AS (
        SELECT d.doc_id, s.shard,
               ('0x' || substr(md5(s.shard || ':' || d.doc_id::VARCHAR),
                               1, 15))::BIGINT AS wt
        FROM documents d, s
      ),
      pick AS (
        SELECT doc_id, shard,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY wt DESC, shard DESC) AS rn
        FROM w
      ),
      tot AS (SELECT count(*)::BIGINT AS n FROM documents)
      SELECT shard, count(*)::BIGINT AS n_docs,
             round(count(*)::DOUBLE / (SELECT n FROM tot), 6) AS share
      FROM pick WHERE rn = 1
      GROUP BY shard
      ORDER BY shard
    """,
)
def shard_rendezvous_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.rendezvous import hrw_shard

    d = table(spark, sf_dir, "documents")
    assigned = d.select(
        hrw_shard(F.col("doc_id").cast("string"), _HRW_SHARDS).alias("shard")
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        assigned.groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
        )
        .orderBy("shard")
    )


# ------------------------------- incremental aggregate maintenance

_IVM_CUT = "1999-01-01"


@register(
    "incremental_agg_maintenance",
    "Incremental materialized-view maintenance — the foreachBatch / "
    "Delta-merge pattern every streaming rollup relies on: a BASE "
    "aggregate (orders before "
    f"{_IVM_CUT}) and a DELTA aggregate (orders after) each reduce to "
    "decomposable partials (count, integer cent sum), and the view "
    "refresh merges PARTIALS — it never touches base rows again; "
    "derived algebraic stats (avg) come from the merged partials, "
    "demonstrating why views must store sums+counts, not averages. "
    "The oracle is the full recompute the maintained view must equal "
    "row-for-row. 100 TB: refresh cost is O(delta) + O(|groups|), "
    "independent of base size — the entire point.",
    oracle=f"""
      SELECT o_orderpriority,
             count(*)::BIGINT AS n_orders,
             sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents,
             round((sum(round(o_totalprice * 100)::BIGINT)::DOUBLE / 100)
                   / count(*), 6) AS avg_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority
    """,
)
def incremental_agg_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
    )
    cut = F.lit(_IVM_CUT).cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("c"),
        )

    base = partials(o.where(F.col("o_orderdate") < cut))
    delta = partials(o.where(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("n").alias("n"), F.sum("c").alias("c"))
    )
    return merged.select(
        "o_orderpriority",
        F.col("n").cast("long").alias("n_orders"),
        F.col("c").cast("long").alias("total_cents"),
        F.round(
            (F.col("c").cast("double") / 100) / F.col("n"), 6
        ).alias("avg_price"),
    ).orderBy("o_orderpriority")


# ------------------------------------ bloom-pruned shuffle join

_BJ_PRICE = 480_000
_BJ_K = 3
_BJ_M = 65_536  # sized for the build side: ~10x bits per member at bench scale


@register(
    "join_bloom_runtime_filter",
    "Bloom-PRUNED shuffle join — the runtime-filter technique behind "
    "spark.sql.optimizer.runtime.bloomFilter, made explicit and "
    "engine-exact: the selective build side (orders above "
    f"{_BJ_PRICE:,}) publishes a {_BJ_M}-bit / k={_BJ_K} md5 bloom; "
    "the probe side (lineitem) drops non-members MAP-SIDE via "
    f"{_BJ_K} broadcast hash-joins against the bit table BEFORE the "
    "big shuffle join (hinted merge — the big-big shape where "
    "neither side broadcasts), so the shuffle carries matching rows "
    "plus a provably-small false-positive tail instead of the whole "
    "fact table (asserted in tests/test_shuffle_volume.py). Bloom "
    "false positives are eliminated by the join itself — the filter "
    "is LOSSLESS for inner joins (no false negatives), which is why "
    "the plain-join oracle must match exactly. 100 TB: the bit "
    "table is <= m rows regardless of build cardinality; probe "
    "pruning is map-side; the shuffle shrinks by the join "
    "selectivity.",
    oracle=f"""
      WITH members AS (
        SELECT o_orderkey FROM orders WHERE o_totalprice > {_BJ_PRICE}
      )
      SELECT l.l_returnflag,
             count(*)::BIGINT AS n_items,
             sum(round(l.l_extendedprice * 100)::BIGINT)::BIGINT
               AS revenue_cents
      FROM lineitem l JOIN members m ON l.l_orderkey = m.o_orderkey
      GROUP BY l.l_returnflag
      ORDER BY l.l_returnflag
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    members = o.where(F.col("o_totalprice") > _BJ_PRICE).select(
        "o_orderkey"
    )

    def pos(key, s):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(key.cast("string"), F.lit(f":{s}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BJ_M
        )

    # bit table: <= m rows at ANY build cardinality -> broadcast
    bits = (
        members.select(
            F.explode(
                F.array(
                    *[pos(F.col("o_orderkey"), s) for s in range(_BJ_K)]
                )
            ).alias("pos")
        )
        .distinct()
        .persist()  # consumed by k probe joins
    )
    probe = li.select(
        "l_orderkey",
        "l_returnflag",
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias(
            "cents"
        ),
    )
    # k map-side broadcast joins set one hit flag each; a row survives
    # only if every bloom position is set — no shuffle yet
    for s in range(_BJ_K):
        b = F.broadcast(
            bits.select(F.col("pos").alias(f"p{s}"), F.lit(1).alias(f"h{s}"))
        )
        probe = probe.join(
            b, pos(F.col("l_orderkey"), s) == F.col(f"p{s}"), "left"
        ).drop(f"p{s}")
    pruned = probe.where(
        F.lit(True)
        & F.col("h0").isNotNull()
        & F.col("h1").isNotNull()
        & F.col("h2").isNotNull()
    ).drop("h0", "h1", "h2")
    # the big-big join: hinted merge so neither side broadcasts — the
    # shape where the bloom pruning is the only thing keeping the
    # shuffle small
    joined = pruned.join(
        members.hint("merge"),
        pruned.l_orderkey == members.o_orderkey,
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


_TKO_K = 3


@register(
    "agg_topk_plus_other_rollup",
    f"Top-{_TKO_K}-plus-OTHER reporting rollup — per nation, the "
    f"top-{_TKO_K} customers by exact revenue cents each get a row, "
    "and everyone else collapses into one 'OTHER' row carrying the "
    "remainder (count + revenue) — the shape every dashboard 'top N "
    "+ other' widget needs, done in ONE window pass + conditional "
    "re-aggregation instead of a top-k query plus a second full "
    "scan for the remainder. Rank ties broken by custkey; revenue "
    "in integer cents. 100 TB: per-nation windows parallelize by "
    "nation; WindowGroupLimit prunes rank > k+remainder map-side "
    "for the ranked branch, and the OTHER branch is a "
    "map-side-combinable re-agg of the same shuffled partition "
    "(one exchange total).",
    oracle=f"""
      WITH rev AS (
        SELECT c.c_nationkey AS nk, c.c_custkey,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents,
               count(*)::BIGINT AS n_orders
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
      ),
      ranked AS (
        SELECT nk, c_custkey, cents, n_orders,
               row_number() OVER (PARTITION BY nk
                                  ORDER BY cents DESC, c_custkey) AS rk
        FROM rev
      ),
      tops AS (
        SELECT nk, 'cust:' || c_custkey AS who, rk,
               cents, n_orders
        FROM ranked WHERE rk <= {_TKO_K}
      ),
      other AS (
        SELECT nk, 'OTHER' AS who, {_TKO_K + 1} AS rk,
               sum(cents)::BIGINT AS cents,
               sum(n_orders)::BIGINT AS n_orders
        FROM ranked WHERE rk > {_TKO_K}
        GROUP BY nk
      )
      SELECT nk AS nationkey, who, rk AS rank, cents, n_orders
      FROM (SELECT * FROM tops UNION ALL SELECT * FROM other)
      ORDER BY nationkey, rank
    """,
)
def agg_topk_plus_other_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rev = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(F.col("c_nationkey").alias("nk"), "c_custkey")
        .agg(
            F.expr(
                "sum(cast(round(o_totalprice * 100) as bigint))"
            ).alias("cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.partitionBy("nk").orderBy(
        F.col("cents").desc(), "c_custkey"
    )
    ranked = rev.select(
        "nk",
        "c_custkey",
        "cents",
        "n_orders",
        F.row_number().over(w).alias("rk"),
    ).persist()  # top branch + OTHER re-agg read the same window pass
    tops = ranked.where(F.col("rk") <= _TKO_K).select(
        "nk",
        F.concat(F.lit("cust:"), F.col("c_custkey")).alias("who"),
        F.col("rk").alias("rank"),
        "cents",
        "n_orders",
    )
    other = (
        ranked.where(F.col("rk") > _TKO_K)
        .groupBy("nk")
        .agg(
            F.sum("cents").cast("long").alias("cents"),
            F.sum("n_orders").cast("long").alias("n_orders"),
        )
        .select(
            "nk",
            F.lit("OTHER").alias("who"),
            F.lit(_TKO_K + 1).alias("rank"),
            "cents",
            "n_orders",
        )
    )
    return (
        tops.unionByName(other)
        .select(
            F.col("nk").alias("nationkey"),
            "who",
            "rank",
            F.col("cents").cast("long").alias("cents"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
        .orderBy("nationkey", "rank")
    )
