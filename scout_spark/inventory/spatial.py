"""Spatial and geocoding operators: point-in-polygon, radius pairs,
geohash and z-order keys, and the forward/reverse geocoder over the
seeded fixture gazetteer.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.functions.geo import haversine_km, proximity_decay
from scout_spark.inventory import register
from scout_spark.inventory.common import (
    LAT_MOD,
    LAT_MUL,
    LAT_SHIFT,
    LON_MOD,
    LON_MUL,
    LON_SHIFT,
    table,
)
from scout_spark.sources.tables import shared_frame


@register(
    "scalar_haversine_proximity",
    "Haversine great-circle distance + linear proximity decay as pure "
    "Column math (reference ranking.py:19-28,92; SURVEY.md §2.8 F14/F15) "
    "— zero UDFs, whole-stage codegen. Coordinates synthesized "
    "deterministically from customer keys; distance to the reference's "
    "home region (KL) scored with the 25 km decay.",
    oracle="""
      SELECT c_custkey,
             round(2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(((c_custkey % 120) - 60) - 3.139) / 2), 2)
               + cos(radians(3.139)) * cos(radians((c_custkey % 120) - 60))
                 * pow(sin(radians(((c_custkey % 240) - 120) - 101.6869) / 2), 2)
             )), 4) AS dist_km,
             round(greatest(0.0, 1.0 - least(
               2 * 6371.0088 * asin(sqrt(
                 pow(sin(radians(((c_custkey % 120) - 60) - 3.139) / 2), 2)
                 + cos(radians(3.139)) * cos(radians((c_custkey % 120) - 60))
                   * pow(sin(radians(((c_custkey % 240) - 120) - 101.6869) / 2), 2)
               )) / 25.0, 1.0)), 6) AS proximity
      FROM customer
    """,
)
def scalar_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") % 120 - 60).cast("double")
    lon = (F.col("c_custkey") % 240 - 120).cast("double")
    d = haversine_km(lat, lon, F.lit(3.139), F.lit(101.6869))
    return c.select(
        "c_custkey",
        F.round(d, 4).alias("dist_km"),
        F.round(proximity_decay(d, 25.0), 6).alias("proximity"),
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


# diamond / rectangle test polygons for the containment entry. Radii and
# rectangle bounds sit slightly OFF the 1e-5 lat/lon grid (…03, …07) so
# no synthesized point ever lands exactly on an edge — strict and
# non-strict containment agree, and both engines decide identically.
_DIAMONDS = (
    # poly_id, cx, cy, r  (|x-cx| + |y-cy| < r)
    (1, 0.0, 0.0, 60.000003),
    (2, 100.0, 30.0, 45.000007),
)
_RECTS = (
    # poly_id, minx, miny, maxx, maxy
    (3, -160.000007, -80.000003, -60.000001, 0.000009),
)


@register(
    "spatial_point_in_polygon_join",
    "Spatial containment join, hash-checked: customer-derived points "
    "(same integer-grid lat/lon as ingest_osm_pbf_roundtrip) against "
    "broadcast polygons — bbox Column prefilter, exact ray-cast verify "
    "in a vectorized numpy UDF (operators/spatial.py). The diamonds "
    "have non-axis-aligned edges, so the ray-cast arithmetic is "
    "genuinely exercised, while the oracle can state containment "
    "independently as an L1-ball / BETWEEN predicate — two different "
    "formulations that must agree point-for-point.",
    oracle=f"""
      WITH pts AS (
        SELECT c_custkey AS point_id,
               ((c_custkey * {LON_MUL}) % {LON_MOD}) / 100000.0
                 - {LON_SHIFT} AS x,
               ((c_custkey * {LAT_MUL}) % {LAT_MOD}) / 100000.0
                 - {LAT_SHIFT} AS y
        FROM customer
      )
      SELECT point_id, poly_id FROM (
        {" UNION ALL ".join(
            f"SELECT point_id, {pid} AS poly_id FROM pts "
            f"WHERE abs(x - ({cx})) + abs(y - ({cy})) < {r}"
            for pid, cx, cy, r in _DIAMONDS
        )}
        UNION ALL
        {" UNION ALL ".join(
            f"SELECT point_id, {pid} AS poly_id FROM pts "
            f"WHERE x BETWEEN {minx} AND {maxx} AND y BETWEEN {miny} AND {maxy}"
            for pid, minx, miny, maxx, maxy in _RECTS
        )}
      ) ORDER BY point_id, poly_id
    """,
)
def spatial_point_in_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.spatial import RING_SCHEMA, point_in_polygon_join

    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * LON_MUL) % LON_MOD) / 100_000.0
         - LON_SHIFT).alias("lon"),
        (((F.col("c_custkey") * LAT_MUL) % LAT_MOD) / 100_000.0
         - LAT_SHIFT).alias("lat"),
    )
    rows = []
    for pid, cx, cy, r in _DIAMONDS:
        rows.append(
            (pid, [{"xs": [cx + r, cx, cx - r, cx],
                    "ys": [cy, cy + r, cy, cy - r]}])
        )
    for pid, minx, miny, maxx, maxy in _RECTS:
        rows.append(
            (pid, [{"xs": [minx, maxx, maxx, minx],
                    "ys": [miny, miny, maxy, maxy]}])
        )
    polys = spark.createDataFrame(rows, f"poly_id long, rings {RING_SCHEMA}")
    return point_in_polygon_join(pts, polys).orderBy("point_id", "poly_id")


def _zorder_oracle() -> str:
    from scout_spark.functions.layout import zorder_sql

    lon = (
        f"(((c_custkey * {LON_MUL}) % {LON_MOD}) / 100000.0 - {LON_SHIFT})"
    )
    lat = (
        f"(((c_custkey * {LAT_MUL}) % {LAT_MOD}) / 100000.0 - {LAT_SHIFT})"
    )
    return (
        f"SELECT c_custkey AS point_id, {zorder_sql(lon, lat)} AS zkey "
        "FROM customer"
    )


@register(
    "layout_zorder_key",
    "Z-order (Morton) clustering key for geo layout (S6: reference "
    "secondary indexes -> lakehouse data layout): quantize lon/lat to "
    "16-bit cells, interleave bits — pure Column (32 shift/mask terms, "
    "JVM codegen). Sorting/range-partitioning on this key makes bbox "
    "scans prune parquet row groups via min/max stats (functions/"
    "layout.py::write_zordered). Oracle recomputes the identical "
    "bit arithmetic in DuckDB.",
    oracle=_zorder_oracle(),
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.functions.layout import zorder_key

    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("point_id"),
        (((F.col("c_custkey") * LON_MUL) % LON_MOD) / 100_000.0
         - LON_SHIFT).alias("lon"),
        (((F.col("c_custkey") * LAT_MUL) % LAT_MOD) / 100_000.0
         - LAT_SHIFT).alias("lat"),
    )
    return pts.select(
        "point_id",
        zorder_key(F.col("lon"), F.col("lat")).alias("zkey"),
    )


# -------------------------------- grid-blocked spatial radius join

# Synthetic integer coordinates in [0, 100000)^2 derived from the
# custkey (same spirit as layout_zorder_key's lon/lat scramble, but
# all-integer so the twin is exact with zero FP anywhere).
_GRID_LON_MUL = 7919
_GRID_LAT_MUL = 104729
_GRID_MOD = 100000
_GRID_CELL = 2500
_GRID_R = 2000  # radius; R <= CELL so the 3x3 neighborhood is exact
_GRID_TOPK = 15


@register(
    "spatial_radius_pairs_grid",
    "Spatial radius self-join via GRID BLOCKING — the filter-then-"
    "verify signature applied to coordinate space (the same shape as "
    "reference ranking.py's candidate-scan + exact-score): points "
    "land in cells of side >= radius, each point probes its own and "
    "the 8 neighboring cells (candidate generation with ZERO false "
    "negatives, by the triangle bound R <= cell), and exact integer "
    "squared distance verifies. Coordinates are integer scrambles of "
    "the custkey, so Spark's blocked plan and DuckDB's quadratic "
    "cross-join twin agree bit-for-bit — two strategies, one answer. "
    "Output: the 15 closest pairs within radius. 100 TB: candidate "
    "pairs are |cells| * density^2 * 9 instead of n^2; the join "
    "shuffles on the cell key, so co-located points hash to the same "
    "reducer — the standard distributed spatial-join layout (cf. "
    "Sedona/Magellan grid partitioners).",
    oracle=f"""
      WITH pts AS (
        SELECT c_custkey AS k,
               (c_custkey * {_GRID_LON_MUL}) % {_GRID_MOD} AS x,
               (c_custkey * {_GRID_LAT_MUL}) % {_GRID_MOD} AS y
        FROM customer
      )
      SELECT a.k AS a_key, b.k AS b_key,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a, pts b
      WHERE a.k < b.k
        AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= {_GRID_R} * {_GRID_R}
      ORDER BY d2, a_key, b_key
      LIMIT {_GRID_TOPK}
    """,
)
def spatial_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("k"),
        ((F.col("c_custkey") * _GRID_LON_MUL) % _GRID_MOD).alias("x"),
        ((F.col("c_custkey") * _GRID_LAT_MUL) % _GRID_MOD).alias("y"),
    ).selectExpr(
        "k",
        "x",
        "y",
        f"x div {_GRID_CELL} AS cx",
        f"y div {_GRID_CELL} AS cy",
    )
    # left side expands to its 3x3 cell neighborhood; right side stays
    # on its home cell — every within-radius pair meets in exactly one
    # (cell, orientation), so no dedup pass is needed
    probe = pts.select(
        "k",
        "x",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + dx).alias("gx"),
                        (F.col("cy") + dy).alias("gy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("g"),
    ).select("k", "x", "y", F.col("g.gx").alias("gx"), F.col("g.gy").alias("gy"))
    home = pts.select(
        F.col("k").alias("bk"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("gx"),
        F.col("cy").alias("gy"),
    )
    d2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    return (
        probe.join(home, ["gx", "gy"])
        .where(F.col("k") < F.col("bk"))
        .select(
            F.col("k").alias("a_key"),
            F.col("bk").alias("b_key"),
            d2.alias("d2"),
        )
        .where(F.col("d2") <= _GRID_R * _GRID_R)
        .orderBy("d2", "a_key", "b_key")
        .limit(_GRID_TOPK)
    )


# ----------------------------------------- geohash spatial binning

_GH_ALPHA = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_BITS = 20  # per axis -> 40-bit code -> 8 base32 chars
_GH_LON_MUL = 7919
_GH_LAT_MUL = 104729
_GH_TOPK = 15


def _interleave_sql(duck: bool) -> str:
    """The 40-term bit-interleave (lon gets even bits from the MSB),
    generated once and shared by structure: lon bit (19-j) lands at
    code bit (39-2j), lat bit (19-j) at (38-2j)."""
    terms = []
    for j in range(_GH_BITS):
        for src, m in (("lonq", 39 - 2 * j), ("latq", 38 - 2 * j)):
            k = _GH_BITS - 1 - j
            if duck:
                # DuckDB gives + higher precedence than << — every
                # shift term is fully parenthesized (CLAUDE.md rule)
                terms.append(f"((({src} >> {k}) & 1) << {m})")
            else:
                terms.append(f"shiftleft(shiftright({src}, {k}) & 1, {m})")
    return " + ".join(terms)


def _gh_chars_sql(duck: bool) -> str:
    parts = []
    for i in range(8):
        s = 35 - 5 * i
        if duck:
            parts.append(
                f"substr('{_GH_ALPHA}', (((code >> {s}) & 31) + 1)::INT, 1)"
            )
        else:
            parts.append(
                f"substr('{_GH_ALPHA}',"
                f" cast(shiftright(code, {s}) & 31 as int) + 1, 1)"
            )
    return "concat(" + ", ".join(parts) + ")"


@register(
    "spatial_geohash_encode",
    "Geohash encoding + spatial binning — the interleaved-bit space-"
    "filling curve every geo index uses (and the string-prefix cousin "
    "of layout_zorder_key's integer curve; cf. reference repo.py's "
    "lat/lon bounding-box candidate scan, which a geohash prefix "
    "index accelerates): synthetic integer milli-degree coordinates "
    "(custkey scrambles) quantize to 20 bits per axis, interleave to "
    "a 40-bit code (lon on even bits, exactly the geohash standard), "
    "and render as 8 base32 chars. All integer bit arithmetic — both "
    "engines build byte-identical hashes. Output: the 15 densest "
    "4-char cells with their point counts and hash range. 100 TB: "
    "encoding is map-side expression work in whole-stage codegen; the "
    "cell groupBy is map-side combinable and the prefix is a "
    "partition key that co-locates spatial neighbors.",
    oracle=f"""
      WITH pts AS (
        SELECT c_custkey,
               ((c_custkey * {_GH_LON_MUL}) % 360000) * 1048576
                 // 360000 AS lonq,
               ((c_custkey * {_GH_LAT_MUL}) % 180000) * 1048576
                 // 180000 AS latq
        FROM customer
      ),
      coded AS (
        SELECT c_custkey, {_interleave_sql(True)} AS code FROM pts
      ),
      hashed AS (
        SELECT c_custkey, {_gh_chars_sql(True)} AS gh FROM coded
      )
      SELECT substr(gh, 1, 4) AS cell,
             count(*) AS n_points,
             min(gh) AS min_hash,
             max(gh) AS max_hash
      FROM hashed
      GROUP BY substr(gh, 1, 4)
      ORDER BY n_points DESC, cell
      LIMIT {_GH_TOPK}
    """,
)
def spatial_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    pts = c.selectExpr(
        "c_custkey",
        f"((c_custkey * {_GH_LON_MUL}) % 360000) * 1048576"
        " div 360000 AS lonq",
        f"((c_custkey * {_GH_LAT_MUL}) % 180000) * 1048576"
        " div 180000 AS latq",
    )
    coded = pts.selectExpr("c_custkey", f"{_interleave_sql(False)} AS code")
    hashed = coded.selectExpr("c_custkey", f"{_gh_chars_sql(False)} AS gh")
    return (
        hashed.groupBy(F.substring("gh", 1, 4).alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("gh").alias("min_hash"),
            F.max("gh").alias("max_hash"),
        )
        .orderBy(F.col("n_points").desc(), "cell")
        .limit(_GH_TOPK)
    )
