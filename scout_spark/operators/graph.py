"""Distributed graph kernels: triangle census and PageRank.

Input convention: an edge DataFrame with columns ``src``/``dst``
holding one row per UNDIRECTED edge, canonicalized ``src < dst`` (the
shape produced by inventory/graph.py::_edges).  Both kernels stay
(id, id) / (id, double) slim through every shuffle — no payload columns
ride the iterations — and both are pure DataFrame ops (no Python in
the loop body), so they scale with the cluster, not the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _undirect(edges: DataFrame) -> DataFrame:
    """Expand canonical src<dst edges to both directions."""
    return edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Single-row triangle census: n_nodes, n_edges, n_wedges,
    n_triangles, clustering_coeff (= 3T / wedges, 6dp).

    Degree-oriented EDGE-ITERATOR enumeration: each edge is directed
    from its lower-(degree, id) endpoint to the higher (Suri &
    Vassilvitskii, WWW'11 orientation — within a triangle the three
    nodes are then totally ordered, so counting c ∈ N⁺(a) ∩ N⁺(b) at
    each base edge a→b counts every triangle exactly once), and each
    edge probes the INTERSECTION of its endpoints' oriented adjacency
    lists via one codegen'd array_intersect — no wedge rows are ever
    materialized.  That matters on dense graphs: the co-purchase graph
    at sf0.1 has mean degree ~120, so the wedge table would be ~70M
    rows (Σ outdeg²) where the adjacency-join variant moves only ~2m
    ids; measured 16.5 s → ~1 s.  The oriented out-degree bound
    (O(sqrt(m)) per node regardless of raw hub degree) caps both the
    list lengths and the per-edge intersection cost at 100× scale.
    """
    und = _undirect(edges)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # orient by (degree, id): strictly increasing along every edge
    dv = deg.select(F.col("src").alias("dst"), F.col("d").alias("dv"))
    ordeg = (
        und.join(deg, "src")
        .join(dv, "dst")
        .where(
            (F.col("d") < F.col("dv"))
            | ((F.col("d") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    adj = ordeg.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    adj_u = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u"))
    adj_v = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    tri = (
        ordeg.join(adj_u, ordeg["src"] == adj_u["u"])
        .join(adj_v, ordeg["dst"] == adj_v["v"], "left")
        .select(
            F.when(
                F.col("nbrs_v").isNull(), F.lit(0)
            )
            .otherwise(
                F.size(F.array_intersect(F.col("nbrs_u"), F.col("nbrs_v")))
            )
            .alias("closed")
        )
        .agg(F.sum("closed").cast("long").alias("t"))
    )
    stats = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            (F.sum(F.col("d") * (F.col("d") - 1)) / 2)
            .cast("long")
            .alias("n_wedges"),
        )
        .crossJoin(F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(tri))
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        F.col("t").alias("n_triangles"),
        # try_divide: a wedge-free graph (perfect matching) has a
        # well-defined NULL coefficient, not an ANSI divide-by-zero
        F.round(F.try_divide(3.0 * F.col("t"), F.col("n_wedges")), 6).alias(
            "clustering_coeff"
        ),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    broadcast_ranks_below: int = 2_000_000,
) -> DataFrame:
    """Damped power-iteration PageRank → (node, rank).

    The undirected edge list and the degree-annotated edge table are
    materialized ONCE (localCheckpoint) — every iteration re-reads
    their blocks instead of replaying the (expensive) edge build.  The
    per-round join picks its strategy from the (exactly known) node
    count, the same size gate as operators/dedup.py::
    connected_components' frontier broadcast:

    - n < ``broadcast_ranks_below``: BROADCAST the slim (node, rank)
      table — the join is map-side over the checkpointed edge blocks,
      no edge movement and no sort, and the per-round cost is one
      shuffle of (node, contribution) pairs for the aggregate.
    - larger graphs: SHUFFLE_HASH hint on the rank side — edges stay
      put (their checkpointed partitioning satisfies the join), ranks
      shuffle, and no per-round SORT of the edge table (the planner's
      default SMJ would re-sort the big side every iteration).

    Ranks are checkpointed EVERY round: the next round's broadcast (or
    shuffle) build executes its subplan independently of the outer
    plan, so fusing k rounds between checkpoints replays each earlier
    round once per nested build — quadratic in k.

    On an undirected edge-defined graph every node has out-degree ≥ 1,
    so there is no dangling-mass correction term; total rank mass is
    conserved at 1 up to FP rounding.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # materialize the undirected edge list ONCE — the upstream edge
    # build (e.g. the co-purchase self-join + distinct) is the most
    # expensive stage of the whole query and everything below (degrees,
    # node count, the iteration) must read these blocks, not replay it
    und = _undirect(edges).repartition("src").localCheckpoint()
    deg = (
        und.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .localCheckpoint()  # tiny (one row per node); read 11+ times
    )
    n = deg.count()
    base = (1.0 - damping) / n
    small = n < broadcast_ranks_below
    if small:
        ed = und.join(F.broadcast(deg), "src")
    else:
        # big-graph path: deg no longer fits a broadcast either — build
        # the degree-annotated edge table by co-partitioned join once
        ed = und.join(deg.hint("shuffle_hash"), "src")
    ed = ed.localCheckpoint()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("rank")
    )
    for i in range(iterations):
        rank_side = F.broadcast(ranks) if small else ranks.hint("shuffle_hash")
        contribs = ed.join(
            rank_side, ed["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("out_deg")).alias("c"),
        )
        ranks = contribs.groupBy("node").agg(
            (F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank")
        )
        # checkpoint EVERY round: the next round's broadcast/shuffle of
        # the rank table then reads materialized blocks — fusing rounds
        # here replays earlier rounds once per nested broadcast build
        # (quadratic in the fuse length), unlike CC's self-loop rounds
        # which carry no per-round broadcast
        ranks = ranks.localCheckpoint()
    return ranks
