"""Graph analytics, mostly over the part co-purchase graph: degrees,
triangles, PageRank, connected structure, shortest paths, MST,
community detection and link prediction, in integer arithmetic where
the oracle must match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.inventory import register
from scout_spark.inventory.common import table
from scout_spark.sources.tables import shared_frame, source_key


# Round-4 graph analytics over the part co-purchase graph.
#
# The graph: parts are nodes; an undirected edge connects two parts that
# appear in the same order (distinct pairs over lineitem's orderkey
# groups).  This is the standard "basket co-occurrence" graph and the
# natural sibling of stats.py::basket_part_cooccurrence, which reports
# pair counts; here the graph itself is the object — triangle counting /
# clustering coefficient (community density of the catalogue) and
# PageRank centrality (hub parts).
#
# Scale design notes are per-operator; the headline one: triangle
# enumeration uses DEGREE ORIENTATION (each edge directed from its
# lower-(degree, id) endpoint to the higher), which bounds the wedge
# fan-out per node by O(sqrt(m)) regardless of hub degree — the classic
# MapReduce triangle-counting trick (Suri & Vassilvitskii, WWW'11).  The
# DuckDB oracle counts the same triangles with the naive a<b<c triple
# join, which is fine at sf0.01 and independently derived.

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
        li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
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
    part = table(spark, sf_dir, "part").select(
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


# -------------------------------------------------------- link predict


@register(
    "graph_link_prediction",
    "Common-neighbors link prediction over the part co-purchase graph: "
    "among the top-100 hub parts (by degree, id tie-break), score every "
    "NON-adjacent pair by shared-neighbor count and neighborhood "
    "Jaccard — the 'customers who bought these also bought' candidate "
    "generator. The candidate pool is explicitly bounded (hub pairs, "
    "never all-pairs wedge materialization — the dense-graph trap); "
    "common neighbors come from one sorted-array intersect per pair of "
    "broadcast hub adjacency rows. Counts and degrees are integers; "
    "Jaccard is one double division. 100 TB: adjacency build shares "
    "the co-purchase edge shuffle; the 100x100 pair stage is "
    "broadcast-local, O(hub_degree) per intersect.",
    oracle="""
      WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ),
      und AS (
        SELECT src AS u, dst AS v FROM edges
        UNION ALL
        SELECT dst, src FROM edges
      ),
      deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
      hubs AS (SELECT u, d FROM deg ORDER BY d DESC, u LIMIT 100),
      adj AS (
        SELECT und.u, list_sort(list(und.v)) AS vs, any_value(h.d) AS d
        FROM und JOIN hubs h ON h.u = und.u GROUP BY und.u
      ),
      pairs AS (
        SELECT a.u AS pa, b.u AS pb,
               len(list_intersect(a.vs, b.vs)) AS cn,
               a.d AS da, b.d AS db,
               list_contains(a.vs, b.u) AS adjx
        FROM adj a JOIN adj b ON a.u < b.u
      )
      SELECT pa AS part_a, pb AS part_b, cn AS common_neighbors,
             round(cn::DOUBLE / (da + db - cn), 6) AS jaccard
      FROM pairs WHERE NOT adjx AND cn >= 1
      ORDER BY common_neighbors DESC, jaccard DESC, part_a, part_b
      LIMIT 20
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges(spark, sf_dir)
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    hubs = deg.orderBy(F.col("d").desc(), "u").limit(100)
    adj = (
        und.join(F.broadcast(hubs), "u")
        .groupBy("u")
        .agg(
            F.array_sort(F.collect_list("v")).alias("vs"),
            F.first("d").alias("d"),
        )
    )
    a = adj.select(
        F.col("u").alias("pa"),
        F.col("vs").alias("vs_a"),
        F.col("d").alias("da"),
    )
    b = adj.select(
        F.col("u").alias("pb"),
        F.col("vs").alias("vs_b"),
        F.col("d").alias("db"),
    )
    pairs = a.join(F.broadcast(b), F.col("pa") < F.col("pb")).select(
        "pa",
        "pb",
        F.size(F.array_intersect("vs_a", "vs_b")).alias("cn"),
        "da",
        "db",
        F.array_contains(F.col("vs_a"), F.col("pb")).alias("adjx"),
    )
    return (
        pairs.where(~F.col("adjx") & (F.col("cn") >= 1))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(
            F.col("common_neighbors").desc(),
            F.col("jaccard").desc(),
            "part_a",
            "part_b",
        )
        .limit(20)
    )


# --------------------------------------------- recursive hierarchy

# Synthetic forest over customers: parent(k) = 1 + md5(k) % (k - 1)
# for k >= 2 (always < k, so the relation is acyclic with root 1).
# md5-derived, so there is NO closed form for depth — both engines must
# genuinely traverse. Random recursive trees have expected max depth
# ~e*ln(n) (~26 at n=150k), far under the 2^6 = 64 the doubling rounds
# cover.
_PJ_ROUNDS = 6
# r12: broadcast the per-round pointer table when the node frame is
# small (slim 3-long columns, ~24 B/row -> <=24 MB at the bound). The
# SSSP state-broadcast precedent; past the bound the shipped shuffle
# self-join is the production plan (the gate is a no-op at real scale).
_PJ_BROADCAST_ROWS = 1_000_000


@register(
    "hierarchy_depth_pointer_jumping",
    "Recursive hierarchy traversal WITHOUT a recursive CTE — the "
    "org-chart / BOM-explosion query Spark famously lacks WITH "
    "RECURSIVE for, answered with POINTER JUMPING: each node starts "
    "pointing at its parent with distance 1, and every round "
    "re-joins the frame to itself (ptr -> ptr's ptr, distances add), "
    "so after R rounds every pointer has traveled 2^R ancestors — "
    "O(log depth) shuffles instead of the naive O(depth) join loop, "
    "the classic Wyllie list-ranking construction. The parent "
    "function is md5-scrambled (no closed-form depth; both engines "
    "traverse) and the root's self-loop carries distance 0 so "
    "converged nodes are fixpoints. Output: the depth histogram "
    "(bounded by tree height). The DuckDB twin walks the same forest "
    "with WITH RECURSIVE — two independent traversal strategies, one "
    "exact integer answer. 100 TB: 6 self-joins of a slim (node, ptr, "
    "d) frame, each checkpointed; no driver-side state (the per-round "
    "broadcast is row-count-gated off past 1M nodes).",
    oracle="""
      WITH RECURSIVE nodes AS (
        SELECT c_custkey AS k,
               CASE WHEN c_custkey >= 2
                    THEN 1 + ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))
                             ::BIGINT % (c_custkey - 1)
               END AS parent
        FROM customer WHERE c_custkey >= 1
      ),
      walk AS (
        SELECT k AS node, 0::BIGINT AS depth FROM nodes WHERE k = 1
        UNION ALL
        SELECT n.k, w.depth + 1
        FROM nodes n JOIN walk w ON n.parent = w.node
      )
      SELECT depth, count(*)::BIGINT AS n_nodes,
             min(node) AS min_node, max(node) AS max_node
      FROM walk GROUP BY depth ORDER BY depth
    """,
)
def hierarchy_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") >= 1)
    k = F.col("c_custkey")
    parent = F.lit(1) + F.conv(
        F.substring(F.md5(k.cast("string")), 1, 8), 16, 10
    ).cast("bigint") % (k - 1)
    f = c.select(
        k.alias("node"),
        F.when(k >= 2, parent).otherwise(F.lit(1)).alias("ptr"),
        F.when(k >= 2, F.lit(1)).otherwise(F.lit(0)).alias("d"),
    ).localCheckpoint()
    # r12 (VERDICT item 7, MST-lesson check): the per-round checkpoint
    # STAYS — an unfenced doubling round references the previous frame
    # on BOTH join sides, so lineage doubles per round (the PageRank
    # chained-DAG A/B: 2.5x worse). What the A/B did find: broadcasting
    # the round's pointer table turns the shuffle self-join into a
    # map-side join (no sort, no probe-side exchange) — interleaved
    # fresh-build medians 1.36-1.47 s -> 1.16-1.37 s across 3 blocks
    # (rows identical). Gated on the footer row count: past the bound
    # the shuffle join below is the production plan.
    from scout_spark.sources.tables import parquet_rows

    n_nodes = parquet_rows(sf_dir, "customer")
    bcast = n_nodes is not None and n_nodes <= _PJ_BROADCAST_ROWS
    for _ in range(_PJ_ROUNDS):
        g = f.select(
            F.col("node").alias("g_node"),
            F.col("ptr").alias("g_ptr"),
            F.col("d").alias("g_d"),
        )
        if bcast:
            g = F.broadcast(g)
        f = (
            f.join(g, f.ptr == g.g_node)
            .select(
                "node",
                F.col("g_ptr").alias("ptr"),
                (F.col("d") + F.col("g_d")).alias("d"),
            )
            .localCheckpoint()
        )
    return (
        f.groupBy(F.col("d").alias("depth"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("depth")
    )


# ----------------------------------------------------- k-core peeling


_KCORE_K = 3
_KCORE_ROUNDS = 3


@register(
    "graph_kcore_peel_rounds",
    "k-core decomposition (k=3) of the part co-purchase graph by "
    "iterative peeling — the standard community-density filter before "
    "graph embedding: each round drops every node whose CURRENT degree "
    "is below k and re-induces the edge set, for a FIXED 3 rounds so "
    "the DuckDB twin can unroll the identical peels (the "
    "to-convergence variant belongs with the delta-guarded CC loop). "
    "Per round the output records surviving node and edge counts — "
    "integers, engine-exact. 100 TB: each peel is one degree "
    "aggregation plus two semi-joins of the edge list against the "
    "surviving-node set; edges shrink monotonically, and the round "
    "count is O(peel depth), bounded for the fixed-round entry.",
    oracle=f"""
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ),
      d1 AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0
        ) _u GROUP BY node
      ),
      k1 AS (SELECT node FROM d1 WHERE deg >= {_KCORE_K}),
      e1 AS (
        SELECT e.src, e.dst FROM e0 e
        JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node
      ),
      d2 AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT src AS node FROM e1 UNION ALL SELECT dst FROM e1
        ) _u GROUP BY node
      ),
      k2 AS (SELECT node FROM d2 WHERE deg >= {_KCORE_K}),
      e2 AS (
        SELECT e.src, e.dst FROM e1 e
        JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node
      ),
      d3 AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
          SELECT src AS node FROM e2 UNION ALL SELECT dst FROM e2
        ) _u GROUP BY node
      ),
      k3 AS (SELECT node FROM d3 WHERE deg >= {_KCORE_K}),
      e3 AS (
        SELECT e.src, e.dst FROM e2 e
        JOIN k3 a ON e.src = a.node JOIN k3 b ON e.dst = b.node
      )
      SELECT 1::BIGINT AS round, (SELECT count(*) FROM k1)::BIGINT AS n_nodes,
             (SELECT count(*) FROM e1)::BIGINT AS n_edges
      UNION ALL
      SELECT 2, (SELECT count(*) FROM k2), (SELECT count(*) FROM e2)
      UNION ALL
      SELECT 3, (SELECT count(*) FROM k3), (SELECT count(*) FROM e3)
      ORDER BY round
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir).localCheckpoint()
    rows = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # checkpoint the survivor set: it has THREE consumers (two
        # broadcast join sides + the count) and Spark has no cross-
        # consumer CSE — uncheckpointed, the degree agg re-runs 3x per
        # round (measured 15.8 s vs 2.5 s at sf0.1)
        keep = (
            deg.where(F.col("deg") >= _KCORE_K)
            .select("node")
            .localCheckpoint()
        )
        # keep is |surviving nodes|-sized — shrinks every round but
        # starts at |V|; the hints hold while it fits the broadcast
        # budget, past that drop them and the semi-filter becomes a
        # shuffle join on the already-src-partitioned edge frame.
        e = (
            e.join(
                F.broadcast(keep.withColumnRenamed("node", "src")), "src"
            )
            .join(
                F.broadcast(keep.withColumnRenamed("node", "dst")), "dst"
            )
            .select("src", "dst")
            .localCheckpoint()
        )
        n_nodes = keep.count()
        n_edges = e.count()
        rows.append((rnd, n_nodes, n_edges))
    return spark.createDataFrame(
        rows, "round bigint, n_nodes bigint, n_edges bigint"
    ).orderBy("round")


# ------------------------------------------------ BFS frontier levels

_BFS_LEVELS = 4


def _bfs_oracle_sql() -> str:
    """Unrolled BFS as chained CTEs over the word-adjacency graph: the
    hub is the highest-degree word (tie: lexicographically first);
    frontier k+1 = neighbors of frontier k minus everything visited.
    Cycles make the recursive-CTE-with-min formulation inexpressible,
    but FIXED levels unroll (the integer-PageRank discipline applied
    to traversal)."""
    ctes = []
    visited = "f0"
    for k in range(1, _BFS_LEVELS + 1):
        prev = f"f{k-1}"
        ctes.append(
            f"""
      f{k} AS (
        SELECT DISTINCT e.dst AS node
        FROM e JOIN {prev} p ON e.src = p.node
        WHERE e.dst NOT IN (SELECT node FROM {visited})
      ),
      v{k} AS (SELECT node FROM {visited} UNION SELECT node FROM f{k})"""
        )
        visited = f"v{k}"
    chain = ",".join(ctes)
    levels = "\n      UNION ALL\n".join(
        f"      SELECT {k}::BIGINT AS level, count(*)::BIGINT AS n_nodes,"
        f" min(node) AS first_node FROM f{k}"
        for k in range(_BFS_LEVELS + 1)
    )
    return f"""
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ),
      e AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst, src FROM e0
      ),
      deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
      hub AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
      f0 AS (SELECT node FROM hub),{chain}
      SELECT * FROM (
{levels}
      ) _l WHERE n_nodes > 0 ORDER BY level
    """


@register(
    "graph_bfs_levels_from_hub",
    "Distributed BFS — frontier expansion with a visited-set "
    "anti-join, the canonical iterative-traversal shape Pregel/"
    "GraphX popularized: from the highest-degree part of the "
    "co-purchase graph, each of 4 fixed rounds joins the frontier to "
    "the edge list and anti-joins the visited set (both "
    "localCheckpointed: each has two consumers per round). Cycles "
    "make recursive-CTE-with-min inexpressible, but fixed levels "
    "unroll into the DuckDB twin — the integer-PageRank oracle "
    "discipline applied to traversal. Output: nodes reached per "
    "level with a deterministic witness. 100 TB: per round one "
    "frontier-edge join keyed on the node id + one anti-join; "
    "frontier and visited frames are node-bounded, never edge-"
    "bounded.",
    oracle=_bfs_oracle_sql(),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    e0 = _edges(spark, sf_dir)
    e = (
        e0.union(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("src")
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    hub = (
        deg.orderBy(F.col("d").desc(), "src")
        .limit(1)
        .select(F.col("src").alias("node"))
    )
    frontier = hub.localCheckpoint()
    visited = frontier
    rows = [(0, frontier.count(), frontier.collect()[0]["node"])]
    for lvl in range(1, _BFS_LEVELS + 1):
        # frontier is |current BFS level|-sized — can approach |V| on
        # small-diameter graphs; the hint holds while it fits the
        # broadcast budget, past that drop it and the expansion flips
        # to a shuffle join on the src-keyed edges (SSSP-site rule,
        # graph_sssp_bellman_integer).
        nxt = (
            e.join(
                F.broadcast(
                    frontier.withColumnRenamed("node", "src")
                ),
                "src",
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .localCheckpoint()
        )
        stats = nxt.agg(
            F.count(F.lit(1)).alias("n"), F.min("node").alias("w")
        ).collect()[0]
        if stats["n"] > 0:
            rows.append((lvl, stats["n"], stats["w"]))
        # visited stays a LAZY union of already-checkpointed frontier
        # frames: the anti-join just scans cached blocks, and skipping
        # the per-round materialization saves one job per level
        # (measured 5.1 s -> 4.4 s at sf0.1); the union depth is the
        # level count, so lineage stays O(levels), not exponential
        visited = visited.union(nxt)
        frontier = nxt
    return spark.createDataFrame(
        rows, "level bigint, n_nodes bigint, first_node bigint"
    ).orderBy("level")


# --------------------------------- label propagation (2 rounds)

_LPA_TOPK = 15


@register(
    "graph_label_propagation",
    "Community detection by SYNCHRONOUS LABEL PROPAGATION (Raghavan "
    "et al.), two unrolled rounds on the part co-purchase graph "
    "(graph_ops._edges): labels start as node ids; each round every "
    "node adopts its neighbors' most frequent label, ties to the "
    "smallest — round 1 therefore reduces to min-neighbor-id, round 2 "
    "is a genuine frequency vote (count desc, label asc via a single "
    "max_by over a (count, -label) struct — no argmax "
    "nondeterminism). The oracle re-votes with a row_number window "
    "pick — two formulations, one answer. Output: the 15 largest "
    "communities after round 2. 100 TB: each round is one "
    "groupBy(node) over the edge list — the Pregel message-passing "
    "shape, same as graph_pagerank_integer_fixedpoint; the edge frame "
    "is checkpointed once because both rounds consume it "
    "(overlapping-consumer barrier rule).",
    oracle=f"""
      WITH e0 AS ({_EDGES_SQL}),
      und AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
      ),
      l1 AS (
        SELECT dst AS v, min(src) AS lbl FROM und GROUP BY dst
      ),
      cnt AS (
        SELECT u.dst AS v, l.lbl, count(*) AS c
        FROM und u JOIN l1 l ON u.src = l.v
        GROUP BY u.dst, l.lbl
      ),
      pick AS (
        SELECT v, lbl FROM (
          SELECT v, lbl,
                 row_number() OVER (PARTITION BY v
                                    ORDER BY c DESC, lbl) AS rn
          FROM cnt) _r
        WHERE rn = 1
      )
      SELECT lbl AS community, count(*) AS size
      FROM pick GROUP BY lbl
      ORDER BY size DESC, community
      LIMIT {_LPA_TOPK}
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    l1 = und.groupBy(F.col("dst").alias("v")).agg(F.min("src").alias("lbl"))
    cnt = (
        und.join(l1, und.src == l1.v)
        .groupBy(F.col("dst").alias("node"), "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pick = cnt.groupBy("node").agg(
        F.max_by("lbl", F.struct(F.col("c"), (-F.col("lbl")))).alias("lbl2")
    )
    return (
        pick.groupBy(F.col("lbl2").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.col("size").desc(), "community")
        .limit(_LPA_TOPK)
    )


# ----------------------------------- degree assortativity


@register(
    "graph_degree_assortativity",
    "Degree assortativity (Newman's r) of the part co-purchase graph "
    "— do hubs connect to hubs? One number that separates social-"
    "style graphs (r > 0) from technological/dependency graphs "
    "(r < 0): the Pearson correlation of endpoint degrees over the "
    "SYMMETRIZED edge list, computed entirely from integer "
    "sufficient sums (n, Sx, Sxy, Sxx over 2|E| orientation rows; "
    "Sy = Sx and Syy = Sxx by symmetry) with the n*Sxy products "
    "taken in doubles (the CUPED overflow rule). Reuses "
    "graph_ops._edges / _EDGES_SQL. 100 TB: degrees are one "
    "map-side-combinable groupBy, the degree lookup is a broadcast "
    "join per endpoint, and the final row is scalar math.",
    oracle=f"""
      WITH e0 AS ({_EDGES_SQL}),
      und AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst, src FROM e0
      ),
      deg AS (SELECT src AS v, count(*)::BIGINT AS d FROM und GROUP BY src),
      pairs AS (
        SELECT da.d AS dx, db.d AS dy
        FROM und u JOIN deg da ON u.src = da.v JOIN deg db ON u.dst = db.v
      ),
      sums AS (
        SELECT count(*)::BIGINT AS n,
               sum(dx)::BIGINT AS sx,
               sum(dx * dy)::BIGINT AS sxy,
               sum(dx * dx)::BIGINT AS sxx
        FROM pairs
      )
      SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
             (SELECT count(*) FROM e0)::BIGINT AS n_edges,
             round((n * sxy - sx::DOUBLE * sx)
                   / (n * sxx - sx::DOUBLE * sx), 6) AS assortativity
      FROM sums
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # VERDICT r05 #2-3: the edge build + symmetrize + degree agg are
    # the session-cached shared frames (graph.py), not per-entry
    # rebuilds, and the |V|-sized degree joins carry NO broadcast hint
    # — |V| = |parts| grows with scale, so AQE picks broadcast at bench
    # size and flips to a shuffle join before the driver OOMs.
    e = _edges(spark, sf_dir)
    und = _sym_edges(spark, sf_dir)
    deg = _degrees(spark, sf_dir)
    pairs = (
        und.join(
            deg.select(F.col("v").alias("src"), F.col("d").alias("dx")),
            "src",
        )
        .join(
            deg.select(F.col("v").alias("dst"), F.col("d").alias("dy")),
            "dst",
        )
        .select("dx", "dy")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    r = (
        F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col("sx")
    ) / (
        F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    return (
        sums.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.round(r, 6).alias("assortativity"),
        )
    )


# ----------------------------------- integer Bellman-Ford SSSP

_SSSP_ROUNDS = 3


def _sssp_oracle_sql() -> str:
    """Unrolled min-plus relaxation as chained CTEs (the BFS unroll
    discipline of insight_ops2._bfs_oracle_sql, carried to WEIGHTED
    shortest paths): d_{k+1}(v) = min(d_k(v), min over edges (u,v) of
    d_k(u) + w). Cycles make the recursive CTE inexpressible; fixed
    rounds unroll exactly."""
    ctes = []
    for k in range(1, _SSSP_ROUNDS + 1):
        prev = f"d{k-1}"
        ctes.append(
            f"""
      d{k} AS (
        SELECT node, min(dist)::BIGINT AS dist FROM (
          SELECT node, dist FROM {prev}
          UNION ALL
          SELECT e.dst AS node, p.dist + e.w AS dist
          FROM e JOIN {prev} p ON e.src = p.node
        ) GROUP BY node
      )"""
        )
    chain = ",".join(ctes)
    return f"""
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ),
      e AS (
        SELECT src, dst, 1 + (src + dst) % 5 AS w FROM e0
        UNION ALL
        SELECT dst, src, 1 + (src + dst) % 5 AS w FROM e0
      ),
      deg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY src),
      hub AS (SELECT node FROM deg ORDER BY d DESC, node LIMIT 1),
      d0 AS (SELECT node, 0::BIGINT AS dist FROM hub),{chain}
      SELECT dist, count(*)::BIGINT AS n_nodes,
             min(node)::BIGINT AS first_node
      FROM d{_SSSP_ROUNDS}
      GROUP BY dist
      ORDER BY dist
    """


@register(
    "graph_sssp_bellman_integer",
    "Weighted single-source shortest paths by distributed BELLMAN-"
    f"FORD ({_SSSP_ROUNDS} min-plus relaxation rounds from the "
    "highest-degree hub of the co-purchase graph, deterministic "
    "integer edge weights 1 + (src+dst) % 5): each round is one "
    "edges-join + min-combine — the weighted generalization of "
    "graph_bfs_levels_from_hub, oracle'd with the same fixed-round "
    "unrolled-CTE discipline (cycles bar a recursive CTE; k rounds "
    "unroll exactly; all-integer distances, no FP). The distance "
    "frame is localCheckpoint'd EVERY round (the lazy-loop replay "
    "rule). 100 TB: per round one (node, dist) shuffle bounded by "
    "|reached nodes| + one edges equi-join; rounds = graph diameter, "
    "not data size.",
    oracle=_sssp_oracle_sql(),
)
def graph_sssp_bellman_integer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # VERDICT r05 #4: the symmetrized edge frame and the degree agg
    # come from the session-cached shared graph frames; the weight
    # 1+(src+dst)%5 is symmetric in (src, dst), so applying it to the
    # shared both-directions view is identical to weighting each
    # canonical edge then flipping. The localCheckpoint stays: the
    # frame feeds every relaxation round (lazy-loop replay rule).
    w = (F.lit(1) + (F.col("src") + F.col("dst")) % 5).alias("w")
    e = _sym_edges(spark, sf_dir).select("src", "dst", w).localCheckpoint()
    deg = _degrees(spark, sf_dir)
    hub = (
        deg.orderBy(F.col("d").desc(), F.col("v"))
        .limit(1)
        .collect()[0]["v"]
    )
    dist = spark.createDataFrame(
        [(int(hub), 0)], "node long, dist long"
    )
    for _ in range(_SSSP_ROUNDS):
        # broadcast the (node, dist) state — bounded by |reached
        # nodes| (tiny vs the edge frame), so each relaxation is a
        # map-side join over the checkpointed edges instead of
        # re-shuffling them every round; at frontier sizes past
        # broadcast range this flips to a bucketed shuffle join
        relaxed = (
            e.join(F.broadcast(dist), e.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return (
        dist.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("first_node"),
        )
        .orderBy("dist")
    )


# ------------------------------------------------ Borůvka MST


@register(
    "graph_mst_boruvka",
    "Minimum spanning forest by distributed BORŮVKA — the O(log V)-"
    "round MST algorithm every Pregel/MapReduce formulation uses "
    "(per-component min outgoing edge -> merge components -> repeat; "
    "component count at least halves per round): run on the part "
    "co-purchase graph with the deterministic integer weights "
    "1 + (src+dst) % 5 (the SSSP entry's weighting), reporting tree "
    "edge count, total weight, and surviving component count. "
    "Rows-only: the iterative contraction is not SQL-expressible "
    "(the CC precedent); EXACT ground truth pinned against a driver-"
    "side Kruskal with the same (w, src, dst) total order in "
    "tests/test_graph.py::test_boruvka_mst_matches_kruskal — tie "
    "order is what makes the forest unique, hence testable. 100 TB: "
    "per round one edge relabel + one |components|-bounded argmin + "
    "a CC pass over SELECTED edges only (operators/mst.py).",
    tags=("rows-only",),
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.mst import boruvka_mst

    e = _edges(spark, sf_dir).select(
        "src", "dst", (F.lit(1) + (F.col("src") + F.col("dst")) % 5).alias("w")
    )
    tree = boruvka_mst(e, checkpoint_input=False)  # _edges is persisted
    nodes = (
        e.select(F.col("src").alias("n"))
        .unionByName(e.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )
    return tree.agg(
        F.count(F.lit(1)).cast("long").alias("n_tree_edges"),
        F.sum("w").cast("long").alias("total_weight"),
        (F.lit(nodes) - F.count(F.lit(1))).cast("long").alias(
            "n_components"
        ),
    )


# ----------------------------------- bipartite butterfly counting

_BF_MAXPARTS = 40  # skew cap: hub parts contribute quadratic pair streams


@register(
    "graph_butterfly_count_bipartite",
    "BUTTERFLY (2x2 biclique) counting on the order-part bipartite "
    "graph — the bipartite analogue of triangle counting and the "
    "standard cohesion metric for user-item graphs (Sanei-Mehri et "
    "al. 2018): butterflies = sum over order pairs of C(shared "
    "parts, 2), computed from the per-part order lists (wedge "
    "generation) with a DEGREE CAP that drops hub parts above "
    f"{_BF_MAXPARTS} orders IDENTICALLY on both engines (the "
    "documented skew-cap contract — hub wedges are quadratic, and "
    "every production butterfly counter caps or samples them; the "
    "cap parameter is part of the metric's definition here, not a "
    "silent truncation). Spark generates wedges with a capped "
    "EQUI-JOIN on the part key (whole-stage codegen end to end) — "
    "the grouped-list HOF expansion that wins for basket-sized "
    "(<8-item) lists measured 1.8x SLOWER here (7.0 vs 3.9 s at "
    "sf0.1): interpreted per-pair struct lambdas lose to the codegen "
    "join once lists reach ~30 elements. 100 TB: wedge stream "
    "bounded by sum of capped-degree^2; the per-pair count agg "
    "combines map-side.",
    oracle=f"""
      WITH inc AS (
        SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem
      ),
      pdeg AS (
        SELECT p FROM inc GROUP BY p HAVING count(*) <= {_BF_MAXPARTS}
      ),
      kept AS (SELECT i.p, i.o FROM inc i JOIN pdeg USING (p)),
      pairs AS (
        SELECT a.o AS o1, b.o AS o2, count(*)::BIGINT AS c
        FROM kept a JOIN kept b ON a.p = b.p AND a.o < b.o
        GROUP BY a.o, b.o
      )
      SELECT count(*)::BIGINT AS n_order_pairs,
             coalesce(sum(c * (c - 1) / 2), 0)::BIGINT AS n_butterflies,
             coalesce(max(c), 0)::BIGINT AS max_shared_parts
      FROM pairs
    """,
)
def graph_butterfly_count_bipartite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # inc feeds the degree filter AND the wedge join (overlapping
    # consumers), but persisting it measured SLOWER (7.7 vs 6.2 s at
    # sf0.1): the InMemoryTableScan breaks codegen fusion into the
    # wedge join, costing more than the repeated 600k-row distinct —
    # the k-consumers rule loses to codegen here
    inc = li.select(
        F.col("l_partkey").alias("p"), F.col("l_orderkey").alias("o")
    ).distinct()
    small = (
        inc.groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") <= _BF_MAXPARTS)
        .select("p")
    )
    # |part|-bounded key list: broadcast explicitly so inc never
    # re-shuffles for the degree filter, and hint the wedge self-join
    # to SHUFFLE_HASH — sort-merge was sorting both 600k-row sides
    # before emitting 8.4M pairs (r08 floor capture: 8.7 s -> 2.7 s
    # at sf0.1; results identical). At scale the hash build is the
    # per-partition capped-degree slice, which the cap bounds.
    kept = inc.join(F.broadcast(small), "p")
    a, b = kept.alias("a"), kept.alias("b").hint("shuffle_hash")
    # capped wedge equi-join, codegen end to end (see docstring for
    # the measured HOF-expansion comparison)
    pairs = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.o") < F.col("b.o")),
        )
        .groupBy(F.col("a.o").alias("o1"), F.col("b.o").alias("o2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_order_pairs"),
        F.coalesce(
            F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0)
        )
        .cast("long")
        .alias("n_butterflies"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias(
            "max_shared_parts"
        ),
    )


# the L1-norm step computes raw * SCALE, and raw <= max_degree * SCALE
# after a propagation — so SCALE^2 * max_degree must stay under 2^63.
# 5e7 gives (5e7)^2 * 600 ~ 1.5e18 at sf0.1 degrees, with 5e7 parts-
# per-total precision (plenty for a ranking twin).
_HITS_SCALE = 5 * 10**7
_HITS_ITERS = 3


def _hits_oracle_sql() -> str:
    """Unrolled fixed-iteration integer HITS as chained CTEs — the
    graph_pagerank_integer_fixedpoint discipline applied to the
    Kleinberg mutual-reinforcement iteration on the order-part
    bipartite graph. L1 normalization (score * SCALE // sum) replaces
    the classic L2 (sqrt is not integer-exact); both engines floor-
    divide non-negative integers, so every score is engine-exact."""
    steps = []
    prev_h = "h0"
    for k in range(1, _HITS_ITERS + 1):
        steps.append(
            f"""
      ar{k} AS (
        SELECT i.p, sum(h.s)::BIGINT AS s
        FROM inc i JOIN {prev_h} h ON h.o = i.o
        GROUP BY i.p
      ),
      a{k} AS (
        SELECT p, (s * {_HITS_SCALE} // (SELECT sum(s) FROM ar{k}))::BIGINT
                 AS s
        FROM ar{k}
      ),
      hr{k} AS (
        SELECT i.o, sum(a.s)::BIGINT AS s
        FROM inc i JOIN a{k} a ON a.p = i.p
        GROUP BY i.o
      ),
      h{k} AS (
        SELECT o, (s * {_HITS_SCALE} // (SELECT sum(s) FROM hr{k}))::BIGINT
                 AS s
        FROM hr{k}
      )"""
        )
        prev_h = f"h{k}"
    chain = ",".join(steps)
    return f"""
      WITH inc AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      ),
      orders_n AS (SELECT count(DISTINCT o)::BIGINT AS n FROM inc),
      h0 AS (
        SELECT DISTINCT o, ({_HITS_SCALE} // (SELECT n FROM orders_n))
                 ::BIGINT AS s
        FROM inc
      ),{chain}
      SELECT p::BIGINT AS part, s AS authority_scaled
      FROM a{_HITS_ITERS}
      ORDER BY s DESC, p
      LIMIT 10
    """


@register(
    "graph_hits_integer_authorities",
    "Engine-exact HITS (Kleinberg hubs-and-authorities) on the "
    "order-part bipartite graph — 'which parts anchor the biggest "
    f"baskets': {_HITS_ITERS} fixed mutual-reinforcement rounds "
    "(authority = sum of incident hub scores, hub = sum of incident "
    "authorities) in SCALED-INTEGER arithmetic with L1 normalization "
    "(x * SCALE // sum — the L2 of the classic needs sqrt, which is "
    "not integer-exact), so Spark and the unrolled-CTE DuckDB twin "
    "produce bit-identical authority scores: the PageRank-twin "
    "discipline extended to a second iterative algorithm. Spark: "
    "incidences checkpointed once; per-round broadcast of the slim "
    "score frame; per-round checkpoint (the lazy-loop broadcast "
    "rule). The normalizing sum is a 1-row agg crossJoin-broadcast, "
    "never a global window. 100 TB: one (node, contribution) "
    "shuffle per half-round, same as PageRank.",
    oracle=_hits_oracle_sql(),
)
def graph_hits_integer_authorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    inc = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint()
    )
    n_orders = inc.select("o").distinct().count()  # bounded driver scalar
    h = (
        inc.select("o")
        .distinct()
        .select("o", F.lit(_HITS_SCALE // n_orders).cast("long").alias("s"))
    )

    def l1_norm(df: DataFrame, key: str) -> DataFrame:
        tot = df.agg(F.sum("s").alias("tot"))
        return (
            df.crossJoin(F.broadcast(tot))
            .select(
                key,
                F.expr(f"s * {_HITS_SCALE} div tot").cast("long").alias("s"),
            )
        )

    a = None
    # h / a are node-score frames (|orders| / |parts|-sized, grow with
    # SF): the hints hold while a side fits the broadcast budget; past
    # that drop them — inc is the persisted incidence frame and each
    # round becomes a shuffle-hash join keyed on o / p.
    for _ in range(_HITS_ITERS):
        ar = (
            inc.join(F.broadcast(h), "o")
            .groupBy("p")
            .agg(F.sum("s").alias("s"))
        )
        a = l1_norm(ar, "p").localCheckpoint()
        hr = (
            inc.join(F.broadcast(a), "p")
            .groupBy("o")
            .agg(F.sum("s").alias("s"))
        )
        h = l1_norm(hr, "o").localCheckpoint()
    return (
        a.orderBy(F.col("s").desc(), "p")
        .limit(10)
        .select(
            F.col("p").cast("long").alias("part"),
            F.col("s").alias("authority_scaled"),
        )
    )


@register(
    "graph_modularity_lpa_partition",
    "Newman MODULARITY of the 2-round label-propagation partition — "
    "the 'was the community detection any good' score the LPA entry "
    "needs next to its community sizes: Q = sum over communities of "
    "(e_c/m - (d_c/2m)^2), with intra-community edge counts e_c, "
    "community degree sums d_c, and edge count m all EXACT integers "
    "(only the final per-community terms are doubles, summed over "
    "the bounded community frame and rounded 6dp). The labels "
    "reproduce graph_label_propagation's deterministic two-round "
    "vote exactly, so both engines score the identical partition. "
    "100 TB: the vote is the Pregel shape the LPA entry times; "
    "scoring adds two broadcast label joins + dimension-bounded "
    "aggs.",
    oracle=f"""
      WITH e0 AS ({_EDGES_SQL}),
      und AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
      ),
      l1 AS (SELECT dst AS v, min(src) AS lbl FROM und GROUP BY dst),
      cnt AS (
        SELECT u.dst AS v, l.lbl, count(*) AS c
        FROM und u JOIN l1 l ON u.src = l.v
        GROUP BY u.dst, l.lbl
      ),
      pick AS (
        SELECT v, lbl FROM (
          SELECT v, lbl,
                 row_number() OVER (PARTITION BY v
                                    ORDER BY c DESC, lbl) AS rn
          FROM cnt) _r
        WHERE rn = 1
      ),
      m AS (SELECT count(*)::BIGINT AS m FROM e0),
      deg AS (SELECT src AS v, count(*)::BIGINT AS d FROM und GROUP BY src),
      intra AS (
        SELECT pa.lbl, count(*)::BIGINT AS ec
        FROM e0 JOIN pick pa ON e0.src = pa.v
                JOIN pick pb ON e0.dst = pb.v
        WHERE pa.lbl = pb.lbl
        GROUP BY pa.lbl
      ),
      dsum AS (
        SELECT p.lbl, sum(deg.d)::BIGINT AS dc
        FROM deg JOIN pick p ON deg.v = p.v
        GROUP BY p.lbl
      ),
      terms AS (
        SELECT ds.lbl,
               coalesce(i.ec, 0)::DOUBLE / m.m
               - (ds.dc::DOUBLE / (2 * m.m))
                 * (ds.dc::DOUBLE / (2 * m.m)) AS q
        FROM dsum ds LEFT JOIN intra i ON ds.lbl = i.lbl CROSS JOIN m
      )
      SELECT (SELECT count(*) FROM terms)::BIGINT AS n_communities,
             (SELECT m FROM m) AS n_edges,
             (SELECT coalesce(sum(ec), 0) FROM intra)::BIGINT
               AS n_intra_edges,
             round(sum(q), 6) AS modularity
      FROM terms
    """,
)
def graph_modularity_lpa_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e0 = _edges(spark, sf_dir).localCheckpoint()  # edges feed und,
    # the intra join, and m — three overlapping consumers
    und = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    l1 = und.groupBy(F.col("dst").alias("v")).agg(
        F.min("src").alias("lbl")
    )
    cnt = (
        und.join(l1, und.src == l1.v)
        .groupBy(F.col("dst").alias("node"), "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pick = (
        cnt.groupBy("node")
        .agg(
            F.max_by("lbl", F.struct(F.col("c"), (-F.col("lbl")))).alias(
                "lbl"
            )
        )
        .localCheckpoint()  # labels feed two edge joins + the degree join
    )
    m = e0.agg(F.count(F.lit(1)).alias("m"))
    deg = und.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pa = pick.select(F.col("node").alias("src"), F.col("lbl").alias("la"))
    pb = pick.select(F.col("node").alias("dst"), F.col("lbl").alias("lb"))
    # pick is the |V|-sized label assignment (|parts| here, grows with
    # SF): hints hold while it fits the broadcast budget; past that
    # drop them — the label attach flips to shuffle joins on the
    # node-keyed edge frame.
    intra = (
        e0.join(F.broadcast(pa), "src")
        .join(F.broadcast(pb), "dst")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("ec"))
    )
    dsum = (
        deg.join(
            F.broadcast(pick.select(F.col("node").alias("v"), "lbl")), "v"
        )
        .groupBy("lbl")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    terms = (
        dsum.join(intra, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "lbl",
            (
                F.coalesce(F.col("ec"), F.lit(0)).cast("double")
                / F.col("m")
                - (F.col("dc").cast("double") / (2 * F.col("m")))
                * (F.col("dc").cast("double") / (2 * F.col("m")))
            ).alias("q"),
            F.coalesce(F.col("ec"), F.lit(0)).alias("ec"),
        )
    )
    return (
        terms.agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.sum("ec").cast("long").alias("n_intra_edges"),
            F.round(F.sum("q"), 6).alias("modularity"),
        )
        .crossJoin(F.broadcast(m))
        .select(
            "n_communities",
            F.col("m").cast("long").alias("n_edges"),
            "n_intra_edges",
            "modularity",
        )
    )


# ------------------------------------------------ Borůvka MST twin

# ceil(log2(|V|)) rounds guarantee convergence (components at least
# halve per round); 16 covers |V| up to 65k — sf0.1's ~20k co-purchase
# nodes included. Converged rounds are no-ops on both engines.
_MST_ROUNDS = 16

# lex-argmin packing: key = (w-1)·2^60 | src·2^40 | dst·2^20 | other.
# 20 bits per field holds part keys < 1,048,576 (sf 5+); w ∈ [1,5].
_MASK20 = (1 << 20) - 1


def _mst_twin_oracle(rounds: int = _MST_ROUNDS) -> str:
    """Generate the unrolled Borůvka CTE chain.

    Round r: cand{r} = cross-component edges under labels lab{r-1};
    inc{r} packs (w, src, dst, other_label) into one BIGINT per
    incident direction (parenthesized shifts — DuckDB gives ``+``/``|``
    higher precedence than ``<<``); sel{r} is the per-component min;
    p{r} breaks the group 2-cycle at the smaller label; reach{r}
    pointer-chases to the root (recursive, UNION-deduped, terminates at
    the self-loop); lab{r} relabels; tree{r} decodes the selected
    (w, src, dst) edges, DISTINCT because both endpoints of a group's
    minimum edge select it.
    """
    pack = (
        "((((w - 1)::BIGINT << 60) | (src::BIGINT << 40)) "
        "| (dst::BIGINT << 20))"
    )
    parts = [
        """
      WITH RECURSIVE edges AS MATERIALIZED (
        SELECT src, dst, 1 + ((src + dst) % 5) AS w FROM (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
        )
      ),
      lab0 AS MATERIALIZED (
        -- DISTINCT over UNION ALL, NOT a top-level UNION: under
        -- WITH RECURSIVE DuckDB parses any CTE whose body is
        -- 'a UNION b' with recursive-CTE grammar, silently dropping
        -- the dedup for non-self-referencing CTEs (measured: 2x|E|
        -- rows -> a 73M-row candidate join at sf0.001)
        SELECT DISTINCT v, v AS l FROM (
          SELECT src AS v FROM edges
          UNION ALL
          SELECT dst AS v FROM edges
        )
      )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
      cand{r} AS MATERIALIZED (
        SELECT ls.l AS cs, ld.l AS cd, e.src, e.dst, e.w
        FROM edges e
        JOIN lab{r - 1} ls ON ls.v = e.src
        JOIN lab{r - 1} ld ON ld.v = e.dst
        WHERE ls.l <> ld.l
      ),
      inc{r} AS (
        SELECT cs AS c, ({pack} | cd) AS k FROM cand{r}
        UNION ALL
        SELECT cd AS c, ({pack} | cs) AS k FROM cand{r}
      ),
      sel{r} AS MATERIALIZED (
        SELECT c, min(k) AS k FROM inc{r} GROUP BY c
      ),
      m{r} AS MATERIALIZED (
        SELECT c, (k & {_MASK20}) AS m FROM sel{r}
      ),
      p{r} AS MATERIALIZED (
        SELECT a.c,
               CASE WHEN b.m = a.c AND a.m > a.c THEN a.c ELSE a.m END
                 AS p
        FROM m{r} a JOIN m{r} b ON b.c = a.m
      ),
      reach{r} AS (
        SELECT c, p AS l FROM p{r}
        UNION
        SELECT rr.c, pp.p AS l
        FROM reach{r} rr JOIN p{r} pp ON pp.c = rr.l
      ),
      newl{r} AS MATERIALIZED (
        SELECT rr.c, rr.l
        FROM reach{r} rr JOIN p{r} pp ON pp.c = rr.l
        WHERE pp.p = rr.l
      ),
      lab{r} AS MATERIALIZED (
        SELECT lv.v, coalesce(f.l, lv.l) AS l
        FROM lab{r - 1} lv LEFT JOIN newl{r} f ON f.c = lv.l
      ),
      tree{r} AS (
        SELECT DISTINCT ((k >> 60) + 1)::BIGINT AS w,
               ((k >> 40) & {_MASK20})::BIGINT AS src,
               ((k >> 20) & {_MASK20})::BIGINT AS dst
        FROM sel{r}
      )"""
        )
    union = "\n        UNION ALL\n        ".join(
        f"SELECT * FROM tree{r}" for r in range(1, rounds + 1)
    )
    parts.append(
        f""",
      alltree AS (
        {union}
      )
      SELECT w, count(*)::BIGINT AS n_edges,
             sum(w)::BIGINT AS weight_sum,
             sum(src)::BIGINT AS src_sum,
             sum(dst)::BIGINT AS dst_sum
      FROM alltree GROUP BY w ORDER BY w"""
    )
    return "".join(parts)


@register(
    "graph_mst_boruvka_unrolled_twin",
    "Oracle-exact Borůvka minimum-spanning-forest twin (VERDICT r06 "
    "item 2): the graph_mst_boruvka entry's forest (part co-purchase "
    "graph, deterministic weights 1 + (src+dst) % 5, total edge order "
    "(w, src, dst)) reduced per weight class — edge count and weight "
    "sum, 5 rows. Spark runs operators/mst.py::boruvka_mst (per-round "
    "distributed argmin + bounded driver union-find contraction, the "
    "k-means-precedent shape, Kruskal-pinned in tests/test_graph.py); "
    "the oracle unrolls 16 Borůvka rounds as a generated CTE chain "
    "with a packed-int64 lex argmin and a recursive pointer-chase "
    "contraction — independent formulations of the same unique forest "
    "(ties broken by the shared total order make it unique; extra "
    "rounds are no-ops). 100 TB: rounds = O(log V) with per-round "
    "work one relabel + one map-side-combinable argmin over pruned "
    "edges; contraction state is component-sized, halving per round.",
    oracle=_mst_twin_oracle(),
)
def graph_mst_boruvka_unrolled_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.mst import boruvka_mst

    e = _edges(spark, sf_dir).select(
        "src",
        "dst",
        (F.lit(1) + (F.col("src") + F.col("dst")) % 5).alias("w"),
    )
    # _edges is session-persisted — skip the operator's input
    # checkpoint (a second full copy of the 600k-row edge list; the
    # weight projection re-reads the cache per round either way)
    tree = boruvka_mst(e, max_rounds=_MST_ROUNDS, checkpoint_input=False)
    return (
        tree.groupBy(F.col("w").cast("long").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("w").cast("long").alias("weight_sum"),
            # endpoint sums pin WHICH edges were chosen, not just how
            # many — the per-w histogram alone is weakly discriminating
            # on a dense graph where w=1 edges span nearly everything
            F.sum("src").cast("long").alias("src_sum"),
            F.sum("dst").cast("long").alias("dst_sum"),
        )
        .orderBy("w")
    )
