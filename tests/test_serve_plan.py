"""The serving plan of ``ScoutEngine.forward``: area resolution is a
driver-side lookup that matches the Spark query it replaced, and a
hinted request with tokens runs one Spark job, a TakeOrderedAndProject
cap with no Python task, collected once and scored on the driver. The
bbox filter keeps the rows of a literal ``BETWEEN`` while a new bbox
compiles no code once its query shape is warm."""

from __future__ import annotations

import json
import math
import threading
from functools import reduce
from operator import and_

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_admin, build_pois
from scout_spark.plans.api import ForwardRequest, forward_geocode
from scout_spark.plans.geocode import ScoutEngine, _tokens
from serve_oracle import compiles

ADMIN_SCHEMA = (
    "osm_id bigint, name_local_norm string, name_en_norm string,"
    " admin_level int, minx double, miny double, maxx double, maxy double,"
    " center_lat double, center_lon double"
)


def _row(osm_id, local, en, level, half, center_lat=None):
    """An admin row whose square bbox around the origin has half-width
    ``half`` (equal widths give bit-equal areas); the centre latitude
    defaults to the osm_id so a result names its row."""
    lat = float(osm_id) if center_lat is None else center_lat
    return (osm_id, local, en, level, -half, -half, half, half, lat, 0.0)


# rows are listed so that input order never agrees with the lookup order
ADMIN_ROWS = [
    # equal areas at a city level: the smaller osm_id wins
    _row(20, "alpha", None, 8, 0.5),
    _row(10, "alpha", None, 6, 0.5),
    # a larger row with a NULL level never matches a level test
    _row(31, "beta", "beta", None, 2.0),
    _row(30, "beta", None, 8, 0.25),
    _row(32, "beta", None, 2, 0.75),
    # a NULL local name still matches through the English name
    _row(40, None, "gamma city", 6, 0.4),
    # tokens of one hint split across the local and English names
    _row(50, "delta", "east side", 7, 0.3),
    _row(51, "delta", None, 9, 0.6),
    # a country
    _row(60, "epsilonia", "republic of epsilonia", 2, 3.0),
    _row(61, "epsilonia", None, 6, 0.1),
    # a NULL osm_id sorts first among equal areas
    _row(71, "zeta", None, 6, 0.2),
    _row(None, "zeta", None, 6, 0.2, center_lat=70.0),
]

HINTS = [
    ("alpha", None),  # tie on area → osm_id 10
    ("beta", None),  # NULL level skipped → 30
    (None, "beta"),  # NULL level skipped for the country test too → 32
    ("gamma", None),  # English name only → 40
    ("delta east", None),  # tokens across both names → 50
    ("east delta", None),  # token order does not matter → 50
    ("delta", None),  # larger row wins → 51
    ("atlantis", "epsilonia"),  # unknown city falls back to country → 60
    ("epsilonia", "epsilonia"),  # city tried before country → 61
    ("!!! ...", None),  # punctuation-only hint → None
    ("!!!", "republic"),  # punctuation-only city, country by English name → 60
    ("zeta", None),  # NULL osm_id first on an area tie → the None row
    ("Alpha-", None),  # hint normalized like a request → 10
    ("atlantis", None),  # unknown city, no country → None
    (None, None),
]
EXPECTED_CENTRE = [10, 30, 32, 40, 50, 50, 51, 60, 61, None, 60, 70, 10, None, None]


def spark_area_bbox(admin, city_hint, country):
    """The area lookup as one Spark query per hint level: the query the
    serving path ran per request before the lookup moved to the driver."""
    for hint, level_pred in (
        (city_hint, F.col("admin_level") >= 6),
        (country, F.col("admin_level") == 2),
    ):
        toks = _tokens(hint)
        if not toks:
            continue
        pred = reduce(
            and_,
            [
                (
                    F.coalesce(F.col("name_local_norm"), F.lit("")).contains(t)
                    | F.coalesce(F.col("name_en_norm"), F.lit("")).contains(t)
                )
                for t in toks
            ],
        )
        row = (
            admin.where(pred & level_pred)
            .orderBy(
                (
                    (F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))
                ).desc(),
                F.col("osm_id"),
            )
            .select("minx", "miny", "maxx", "maxy", "center_lat", "center_lon")
            .limit(1)
            .collect()
        )
        if row:
            return tuple(float(v) for v in row[0])
    return None


def _engine(spark, admin):
    pois = spark.createDataFrame([], "osm_id bigint")
    return ScoutEngine(spark, pois, admin)


@pytest.fixture(scope="module")
def admin(spark):
    return spark.createDataFrame(ADMIN_ROWS, ADMIN_SCHEMA)


def test_area_lookup_matches_spark_query(spark, admin):
    engine = _engine(spark, admin)
    for (city_hint, country), centre in zip(HINTS, EXPECTED_CENTRE):
        got = engine.resolve_area_bbox(city_hint, country)
        assert got == spark_area_bbox(admin, city_hint, country), (city_hint, country)
        assert (got and got[4]) == centre, (city_hint, country, got)


def test_area_lookup_skips_rows_without_a_full_bbox(spark, admin):
    """A matching row with a NULL centre would win on area, and one with
    a NULL corner is the only match of its hint; neither has a usable
    bbox, so the lookup passes over them instead of failing the request
    on float(None)."""
    broken = spark.createDataFrame(
        [
            # larger than row 10: wins the sort, but has no centre
            (80, "alpha", None, 6, -5.0, -5.0, 5.0, 5.0, None, 0.0),
            # the only 'omega' city, missing a corner (NULL area)
            (81, "omega", None, 6, None, 1.0, 2.0, 3.0, 2.0, 0.0),
            (82, "omegaland", None, 2, -1.0, 81.0, 1.0, 83.0, 82.0, 0.0),
        ],
        ADMIN_SCHEMA,
    )
    engine = _engine(spark, admin.unionByName(broken))
    assert engine.resolve_area_bbox("alpha", None)[4] == 10.0
    assert engine.resolve_area_bbox("omega", None) is None
    assert engine.resolve_area_bbox("omega", "omegaland")[4] == 82.0
    # the rows left out are exactly the ones the Spark query breaks on
    with pytest.raises(TypeError):
        spark_area_bbox(admin.unionByName(broken), "alpha", None)


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_tree(df):
    """(node class, children) tree of the executed physical plan, rebuilt
    from its pre-order JSON form."""
    nodes = iter(json.loads(df._jdf.queryExecution().executedPlan().toJSON()))

    def build():
        n = next(nodes)
        cls = n["class"].rsplit(".", 1)[-1]
        return cls, [build() for _ in range(n["num-children"])]

    return build()


def _walk(tree):
    yield tree
    for child in tree[1]:
        yield from _walk(child)


def test_hinted_request_runs_one_job(spark, monkeypatch):
    raw = raw_osm_fixture(spark, n_pois=300)
    engine = ScoutEngine(spark, build_pois(raw).cache(), build_admin(raw))
    sc = spark.sparkContext
    req = ForwardRequest(["Monograph Dining"], country="malaysia", city_hint="kuala lumpur")
    warm = forward_geocode(engine, req)  # materializes the cached pois

    bbox, area_jobs = _jobs(
        sc, "serve-plan/area", lambda: engine.resolve_area_bbox("kuala lumpur", "malaysia")
    )
    assert bbox is not None
    assert area_jobs == 0

    # the frames a request collects, and the py4j calls its thread makes
    # (py4j's finalizer thread releases dead objects on its own schedule)
    collected, calls = [], []
    caller = threading.get_ident()
    to_pandas, send = DataFrame.toPandas, ClientServerConnection.send_command

    def recording(self):
        collected.append(self)
        return to_pandas(self)

    def counting(self, *args, **kwargs):
        if threading.get_ident() == caller:
            calls.append(None)
        return send(self, *args, **kwargs)

    def request():
        monkeypatch.setattr(DataFrame, "toPandas", recording)
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        try:
            return forward_geocode(engine, req)
        finally:
            monkeypatch.undo()

    resp, jobs = _jobs(sc, "serve-plan/request", request)
    assert resp.hits and resp.hits == warm.hits
    assert resp.hits[0]["name"] == "Monograph Dining"
    assert jobs == 1
    assert len(calls) <= 64

    assert len(collected) == 1
    tree = _plan_tree(collected[0])
    classes = [cls for cls, _ in _walk(tree)]
    # an adaptive root would hide the plan below it from toJSON
    assert tree[0] == "TakeOrderedAndProjectExec"
    assert "ShuffleExchangeExec" not in classes
    assert "ArrowEvalPythonExec" not in classes
    assert "BatchEvalPythonExec" not in classes


def test_fresh_bbox_compiles_nothing(spark):
    """The generated code depends on the query shape only: after one
    warm hinted request, requests with the same token count and bboxes
    this session has not seen hit the codegen cache."""
    raw = raw_osm_fixture(spark, n_pois=300)
    # city bboxes around the fixture's Kuala Lumpur cluster, with corners
    # no other query of the session uses
    admin = spark.createDataFrame(
        [
            (900 + i, name, None, 8, 100.5 + i / 7, 2.5 + i / 11, 102.5 + i / 13,
             4.0 + i / 17, 3.2 + i / 19, 101.5 + i / 23)
            for i, name in enumerate(("pinone", "pintwo", "pinthree"), start=1)
        ],
        ADMIN_SCHEMA,
    )
    engine = ScoutEngine(spark, build_pois(raw).cache(), admin)
    warm = forward_geocode(engine, ForwardRequest(["Monograph Dining"], city_hint="pinone"))
    assert warm.hits
    for city in ("pintwo", "pinthree"):
        req = ForwardRequest(["Monograph Dining"], city_hint=city)
        assert engine.resolve_area_bbox(city, None) is not None
        before = compiles(spark)
        resp = forward_geocode(engine, req)
        assert compiles(spark) - before == 0, city
        assert resp.hits


POI_SCHEMA = (
    "osm_id bigint, name_local string, name_en string, name_local_norm string,"
    " name_en_norm string, lat double, lon double, importance double, kind string"
)
# (minx, miny, maxx, maxy): one spans 0 on both axes, one is all negative
BBOXES = [(-2.5, -1.25, 0.75, 3.5), (-80.125, -45.5, -79.0, -44.0625)]


def _probe_points(minx, miny, maxx, maxy):
    """(lat, lon) on each edge and two corners, one ``nextafter`` step
    outside and inside each edge, the centre and NULL coordinates."""
    down, up = (lambda v: math.nextafter(v, -math.inf)), (lambda v: math.nextafter(v, math.inf))
    cy, cx = (miny + maxy) / 2, (minx + maxx) / 2
    return [
        (miny, cx), (maxy, cx), (cy, minx), (cy, maxx),
        (miny, minx), (maxy, maxx),
        (down(miny), cx), (up(maxy), cx), (cy, down(minx)), (cy, up(maxx)),
        (up(miny), cx), (down(maxy), cx), (cy, up(minx)), (cy, down(maxx)),
        (cy, cx), (None, cx), (cy, None), (None, None),
    ]


def test_bbox_filter_keeps_literal_between_rows(spark):
    """``fetch_candidates`` keeps exactly the rows of the literal
    ``BETWEEN`` query: both edges inclusive, nothing a step outside, and
    a NULL coordinate never inside."""
    points = [p for bbox in BBOXES for p in _probe_points(*bbox)]
    points += [(0.0, 0.0), (-0.0, -0.0)]
    rows = [
        (i, f"cafe {i}", None, f"cafe {i}", None, lat, lon, 0.5, "amenity=cafe")
        for i, (lat, lon) in enumerate(points)
    ]
    # the same points under a name the token does not match
    rows += [
        (1000 + i, f"shop {i}", None, f"shop {i}", None, lat, lon, 0.5, "shop=books")
        for i, (lat, lon) in enumerate(points)
    ]
    pois = spark.createDataFrame(rows, POI_SCHEMA)
    engine = ScoutEngine(spark, pois, spark.createDataFrame([], ADMIN_SCHEMA))
    for minx, miny, maxx, maxy in BBOXES:
        bbox = (minx, miny, maxx, maxy, (miny + maxy) / 2, (minx + maxx) / 2)
        got = {r.osm_id for r in engine.fetch_candidates(["cafe"], bbox).collect()}
        oracle = {
            r.osm_id
            for r in spark.sql(
                f"SELECT osm_id FROM {engine._view}"
                " WHERE (contains(coalesce(name_local_norm, ''), :t0)"
                " OR contains(coalesce(name_en_norm, ''), :t0))"
                " AND lat BETWEEN :miny AND :maxy AND lon BETWEEN :minx AND :maxx",
                args={"t0": "cafe", "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy},
            ).collect()
        }
        inside = {
            i
            for i, (lat, lon) in enumerate(points)
            if lat is not None and lon is not None
            and miny <= lat <= maxy and minx <= lon <= maxx
        }
        assert got == oracle == inside, (minx, miny, maxx, maxy)
        # 4 edges + 2 corners + 4 steps inside + the centre (+ the origin twice)
        assert len(inside) == 11 + 2 * (minx <= 0 <= maxx and miny <= 0 <= maxy)
