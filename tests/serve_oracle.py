"""Oracles shared by the serve and batch geocode tests: the Column
assembly ``ScoutEngine.forward`` replaced, and the JVM's Janino compile
count."""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import functions as F

from scout_spark.functions.geo import haversine_km, proximity_decay
from scout_spark.functions.normalize import canon
from scout_spark.functions.scoring import score_expr
from scout_spark.operators.fuzzy import best_sim_udf, proxy_similarity
from scout_spark.plans.geocode import _norm_text, _tokens


def column_hits(engine, candidates, country, city_hint, limit, proxy=False):
    """``engine.forward``'s hits from the Column assembly over the same
    scan rule, collected: the WRatio UDF as best-sim, or with
    ``proxy=True`` the Column proxy the batch plan scores with."""
    s = engine.settings
    toks = list(dict.fromkeys(t for text in candidates for t in _tokens(text)))
    norms = [q for q in (_norm_text(t) for t in candidates) if q]
    bbox = engine.resolve_area_bbox(city_hint, country)
    df = engine.pois.where(reduce(and_, [
        F.coalesce(F.col("name_local_norm"), F.lit("")).contains(t)
        | F.coalesce(F.col("name_en_norm"), F.lit("")).contains(t)
        for t in toks
    ]))
    if bbox:
        minx, miny, maxx, maxy, _, _ = bbox
        df = df.where(F.col("lat").between(miny, maxy) & F.col("lon").between(minx, maxx))
    df = df.orderBy(F.col("importance").desc(), F.col("osm_id")).limit(s.limit_scan)
    target_local = F.coalesce(F.col("name_local_norm"), canon(F.col("name_local")))
    target_en = F.coalesce(F.col("name_en_norm"), canon(F.col("name_en")))
    if proxy:
        best_sim = F.greatest(*[
            F.greatest(proxy_similarity(target_local, q), proxy_similarity(target_en, q))
            for q in norms
        ] * 2)  # greatest needs two arguments; a repeat changes nothing
    else:
        sim = best_sim_udf(norms)
        best_sim = F.greatest(sim(target_local), sim(target_en))
    proximity = None
    if bbox:
        d = haversine_km(F.col("lat"), F.col("lon"), F.lit(bbox[4]), F.lit(bbox[5]))
        proximity = proximity_decay(d, s.proximity_km)
    score = score_expr(
        best_sim, F.col("kind"), F.col("importance"), proximity, s.weights, s.type_boost
    )
    rows = (
        df.withColumn("score", score)
        .select(
            F.coalesce(F.col("name_local"), F.col("name_en"), F.lit("")).alias("name"),
            "lat", "lon", "country", "state", "city", "osm_id", "kind", "score",
        )
        .orderBy(F.col("score").desc(), F.col("osm_id"))
        .limit(limit)
        .collect()
    )
    return [r.asDict() for r in rows]


def compiles(spark):
    """Janino compiles so far in this JVM; a codegen cache hit adds none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
