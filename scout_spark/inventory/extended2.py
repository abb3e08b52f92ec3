"""Second extension wave: UDTF-shaped explode (SURVEY.md §2.9 X6),
GROUPING SETS via the spark.sql text path (§2.2 P9 + §2.4 A4), the
string-function family (§2.8 F18), and the full gazetteer geocode
pipeline as a driver-visible rows-only item (SURVEY.md §3.1 — fixture
tables aren't registered in the oracle, so correctness is pinned by
tests/test_geocode_e2e.py instead).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.inventory import register
from scout_spark.inventory.core import _t
from scout_spark.sources.tables import shared_frame


@register(
    "explode_tokens_with_position",
    "UDTF-shaped row expansion (SURVEY.md §2.9 X6): posexplode of the "
    "token array — one row per (doc, position, token). The Spark "
    "generate operator is pipelined inside the scan stage, no shuffle.",
    oracle="""
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS token
      FROM documents
      WHERE doc_id < 20
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
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
    o = _t(spark, sf_dir, "orders")
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
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 100)
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
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
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
    o = _t(spark, sf_dir, "orders")
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
    o = _t(spark, sf_dir, "orders")
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
    "geocode_reverse_fixture",
    "Reverse geocoding (extension — the reference is forward-only): "
    "nearest POIs to a coordinate via haversine + TakeOrderedAndProject "
    "with a bbox prefilter that prunes the scan. Rows-only (fixture "
    "gazetteer); brute-force agreement pinned in tests/test_geocode_e2e.py.",
    tags=("rows-only",),
)
def geocode_reverse_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    engine = _fixture_engine(spark)
    return engine.reverse(3.139, 101.6869, limit=5)


# (pois, admin, engine): one engine for as long as shared_frame hands out
# the same fixture frames, so repeated calls neither collect the admin
# rows again nor register another temp view
_fixture: tuple | None = None
_fixture_lock = threading.Lock()


def _fixture_engine(spark: SparkSession):
    from scout_spark.etl.fixtures import raw_osm_fixture
    from scout_spark.etl.gazetteer import build_admin, build_pois
    from scout_spark.plans.geocode import ScoutEngine

    global _fixture
    key = (spark.sparkContext.applicationId,)
    pois = shared_frame(
        "fixture_pois",
        key,
        lambda: build_pois(raw_osm_fixture(spark, n_pois=300)),
    )
    admin = shared_frame(
        "fixture_admin",
        key,
        lambda: build_admin(raw_osm_fixture(spark, n_pois=300)),
    )
    with _fixture_lock:
        if _fixture is None or _fixture[0] is not pois or _fixture[1] is not admin:
            engine = ScoutEngine(spark, pois, admin)
            _fixture = (pois, admin, engine)
        return _fixture[2]


@register(
    "geocode_forward_fixture",
    "The COMPLETE reference pipeline end-to-end (SURVEY.md §3.1): "
    "deterministic fixture gazetteer (ETL: schema-adaptive binding → "
    "pois/admin build) → ScoutEngine.forward(candidates=['Monograph "
    "Dining'], country='malaysia', limit=5) — tokenize, bbox resolve "
    "(top-1 by area, a driver-side lookup over the admin rows), "
    "token-contains + bbox candidate scan, fuzzy score, top-k. "
    "Rows-only: gazetteer fixture tables are "
    "not registered in the driver's oracle; golden-hit assertions live "
    "in tests/test_geocode_e2e.py.",
    tags=("rows-only",),
)
def geocode_forward_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = _fixture_engine(spark).forward(
        ["Monograph Dining"], country="malaysia", limit=5
    )
    return spark.createDataFrame(
        hits,
        "name string, lat double, lon double, country string, state string,"
        " city string, osm_id bigint, kind string, score double",
    )
