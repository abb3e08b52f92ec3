"""Driver-side scoring of ``ScoutEngine.forward`` against the Column
assembly it replaced (tests/serve_oracle.py): the WRatio UDF, ``score_expr``
and ``haversine_km``/``proximity_decay`` over the token-``contains`` +
bbox scan capped on (importance desc, osm_id), ordered by (score desc,
osm_id). Hits must agree field for field, scores to 1e-12."""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructField, StructType

from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_admin, build_pois
from scout_spark.plans.geocode import ScoutEngine
from serve_oracle import column_hits

KL = (3.15, 101.70)  # inside the fixture's Kuala Lumpur bbox


def _poi(osm_id, local, local_norm, en, en_norm, kind, importance, at=KL):
    return {
        "osm_id": osm_id, "name_local": local, "name_en": en,
        "name_local_norm": local_norm, "name_en_norm": en_norm,
        "amenity": "", "shop": "", "tourism": "", "leisure": "", "office": "",
        "city": None, "state": None, "country": "my",
        "lat": at[0] + osm_id % 7 * 0.01, "lon": at[1] - osm_id % 5 * 0.01,
        "kind": kind, "importance": importance,
    }


# rows the fixture lacks: NULL importance, NULL kind, a kind for every
# type-boost prefix and one for none, and raw names without a norm (so
# the scan's SQL canon builds the scoring target) holding punctuation,
# CJK and a combining mark
EXTRA = [
    # each raw name's target beats the other name's norm for its request,
    # so a wrong canon changes the score
    _poi(900001, "Zephyr Café—Bar!! (Night)", None,
         "Zephyr Night Bar and Grill Lounge at the Harbour",
         "zephyr night bar and grill lounge at the harbour", "amenity:bar", None),
    _poi(900002, "東京ラーメン・Zephyr", None, "Zephyr Ramen", "zephyr ramen",
         "tourism:attraction", 0.3),
    _poi(900003, "Zephyr Cafe\u0301 Noir", None, "Zephyr Noir Cafe and Bakery",
         "zephyr noir cafe and bakery", "shop:bakery", None),
    _poi(900004, "Zephyr Office", "zephyr office", None, None, None, 0.1),
    _poi(900005, "Zephyr Hall East Annex Building Complex",
         "zephyr hall east annex building complex", "ZEPHYR—HALL #1 (east)", None,
         "leisure:park", 0.0),
    _poi(900006, "Zephyr Pier", "zephyr pier", None, None, "office:company", 0.45,
         at=(5.41, 100.33)),
]

REQUESTS = [
    # (candidate texts, country, city_hint)
    (["zephyr"], None, None),
    (["zephyr bar night"], None, "kuala lumpur"),
    (["Zephyr Ramen"], "malaysia", None),
    (["zephyr cafe noir"], "malaysia", "atlantis"),
    (["zephyr hall east", "Zephyr—Hall!"], None, "kuala lumpur"),
    (["Monograph Dining"], "malaysia", "kuala lumpur"),
    (["Monograph Dining", "monograph cafe"], None, None),
    (["dining"], None, None),
    (["美食中心"], None, None),
]


@pytest.fixture(scope="module")
def gaz(spark):
    raw = raw_osm_fixture(spark, n_pois=300)
    base = build_pois(raw)
    schema = StructType([StructField(f.name, f.dataType, True) for f in base.schema])
    pois = base.unionByName(spark.createDataFrame(EXTRA, schema)).cache()
    return pois, build_admin(raw)


def test_driver_score_equals_column_oracle(spark, gaz):
    engine = ScoutEngine(spark, *gaz)
    kinds = set()
    for candidates, country, city_hint in REQUESTS:
        got = engine.forward(candidates, country, city_hint, limit=50)
        want = column_hits(engine, candidates, country, city_hint, limit=50)
        assert got, (candidates, country, city_hint)
        assert [h["osm_id"] for h in got] == [h["osm_id"] for h in want]
        for g, w in zip(got, want):
            assert abs(g.pop("score") - w.pop("score")) <= 1e-12, g
            assert g == w
        kinds |= {h["kind"] for h in got}
    # every extra row was scored, and every boost branch taken
    assert {"amenity:bar", "tourism:attraction", "shop:bakery", None,
            "leisure:park", "office:company"} <= kinds
