"""Batched forward geocoding — N requests in ONE distributed job
(SURVEY.md §2.5 W2: the per-query top-k becomes a grouped top-k when
batching many geocode requests; FIXTURES.md §4 request-battery shape).

Per-request serving (plans/geocode.py) collects a bbox and scans per
call — right for online latency, wrong for bulk re-geocoding at 100 TB.
Here the whole battery is one plan:

  requests → explode tokens → posting-table join (inverted index) →
  covering-AND per (req, poi) → score each candidate pair →
  row_number window per req_id → top-k per request.

One job, two shuffles (token join + grouped top-k), no driver loop.
Proximity/bbox hints are resolved with one broadcast join against the
admin table instead of N driver round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.functions.geo import haversine_km, proximity_decay
from scout_spark.functions.normalize import canon, tokens
from scout_spark.functions.scoring import score_expr
from scout_spark.operators.fuzzy import proxy_similarity_col
from scout_spark.operators.inverted_index import build_token_index
from scout_spark.settings import DEFAULT_PROXIMITY_KM, DEFAULT_WEIGHTS


def forward_geocode_batch(
    requests: DataFrame,
    pois: DataFrame,
    admin: DataFrame,
    limit: int = 5,
) -> DataFrame:
    """requests(req_id long, query string, country string nullable) →
    top-``limit`` hits per request with scores.

    Country hints resolve to bbox+center via a broadcast join against
    admin level-2 rows (largest-area-wins per name, reference
    repo.py:39-44); candidates come from the token inverted index
    (covering-AND); scoring is the pure-Column proxy similarity, the
    batch plan's only scorer (serving scores with WRatio on the driver;
    ROADMAP item 2 plans one semantics for both). Ranking uses the
    default weights, type boosts and proximity radius
    (scout_spark.settings).
    """

    # distinct tokens: the covering check below counts DISTINCT matched
    # tokens, so n_toks must count distinct too or a repeated token in the
    # query ("pizza pizza toronto") makes the equality unsatisfiable
    qtoks = F.array_distinct(tokens(F.col("query")))
    req = requests.select(
        "req_id",
        canon(F.col("query")).alias("qnorm"),
        qtoks.alias("qtoks"),
        F.size(qtoks).alias("n_toks"),
        canon(F.col("country")).alias("country_norm"),
    )

    # one broadcast join resolves every country hint: admin level-2 rows
    # keyed by BOTH name columns (the per-request path matches either,
    # geocode.py resolve_area_bbox — keying only the coalesce would miss
    # English hints whenever a local-name norm exists), largest bbox area
    # wins per normalized name (reference repo.py:39-44)
    w_area = Window.partitionBy("country_norm").orderBy(
        ((F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))).desc(),
        F.col("osm_id"),
    )
    level2 = admin.where(F.col("admin_level") == 2)
    bbox_cols = ["minx", "miny", "maxx", "maxy", "center_lat", "center_lon", "osm_id"]
    keyed = None
    for name_col in ("name_local_norm", "name_en_norm"):
        part = level2.where(F.col(name_col).isNotNull()).select(
            F.col(name_col).alias("country_norm"), *bbox_cols
        )
        keyed = part if keyed is None else keyed.unionByName(part)
    countries = (
        keyed.dropDuplicates(["country_norm", "osm_id"])
        .withColumn("_rn", F.row_number().over(w_area))
        .where(F.col("_rn") == 1)
        .drop("_rn", "osm_id")
    )
    req = req.join(F.broadcast(countries), "country_norm", "left")

    # candidate generation: explode query tokens → posting join →
    # covering-AND (ids matching ALL tokens of their request)
    index = build_token_index(pois)
    req_tokens = req.select("req_id", F.explode("qtoks").alias("token"))
    pairs = (
        req_tokens.join(index, "token")
        .groupBy("req_id", "id")
        .agg(F.countDistinct("token").alias("_matched"))
        .join(req.select("req_id", "n_toks"), "req_id")
        .where(F.col("_matched") == F.col("n_toks"))
        .select("req_id", F.col("id").alias("osm_id"))
    )

    cand = (
        pairs.join(pois, "osm_id")
        .join(
            req.select(
                "req_id", "qnorm", "miny", "maxy", "minx", "maxx",
                "center_lat", "center_lon",
            ),
            "req_id",
        )
        # bbox restriction only when the hint resolved (reference
        # repo.py:57-61; NULL bounds → unrestricted, repo.py:45)
        .where(
            F.col("miny").isNull()
            | (
                F.col("lat").between(F.col("miny"), F.col("maxy"))
                & F.col("lon").between(F.col("minx"), F.col("maxx"))
            )
        )
    )

    target_local = F.coalesce(F.col("name_local_norm"), canon(F.col("name_local")))
    target_en = F.coalesce(F.col("name_en_norm"), canon(F.col("name_en")))
    best_sim = F.greatest(
        proxy_similarity_col(target_local, F.col("qnorm")),
        proxy_similarity_col(target_en, F.col("qnorm")),
    )
    d = haversine_km(
        F.col("lat"), F.col("lon"), F.col("center_lat"), F.col("center_lon")
    )
    # proximity term only for resolved hints — per-request score scale
    # matches the reference (SURVEY.md §2.9 X5)
    proximity = F.when(
        F.col("center_lat").isNotNull(), proximity_decay(d, DEFAULT_PROXIMITY_KM)
    )
    base = score_expr(best_sim, F.col("kind"), F.col("importance"))
    scored = cand.withColumn(
        "score",
        base
        + F.coalesce(
            F.lit(float(DEFAULT_WEIGHTS["proximity"])) * proximity, F.lit(0.0)
        ),
    )

    w = Window.partitionBy("req_id").orderBy(F.col("score").desc(), F.col("osm_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= limit)
        .select(
            "req_id",
            "rank",
            F.coalesce(F.col("name_local"), F.col("name_en"), F.lit("")).alias("name"),
            "lat",
            "lon",
            "country",
            "osm_id",
            "kind",
            F.round("score", 6).alias("score"),
        )
    )
