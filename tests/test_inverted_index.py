"""Token inverted index tests (SURVEY.md §4 O8): the posting table the
batch plan reads, and the whole-token vs substring gap between batch and
per-request serving."""

from __future__ import annotations

import pytest

from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_admin, build_pois
from scout_spark.operators.inverted_index import build_token_index
from scout_spark.plans.batch_geocode import forward_geocode_batch
from scout_spark.plans.geocode import ScoutEngine


@pytest.fixture(scope="module")
def gaz(spark):
    raw = raw_osm_fixture(spark, n_pois=200)
    return build_pois(raw).cache(), build_admin(raw).cache()


def test_posting_table_shape(gaz):
    index = build_token_index(gaz[0])
    assert index.columns == ["token", "id"]
    assert index.count() == index.distinct().count()


def test_substring_divergence_documented(spark, gaz):
    """'mono' is a substring of 'monograph': per-request serving (the
    reference's LIKE) finds the Monograph rows, while the batch plan's
    whole-token index finds none — the gap between the two paths."""
    pois, admin = gaz
    eng = ScoutEngine(spark, pois, admin)
    served = eng.forward(["mono"], limit=5)
    assert served and all("monograph" in h["name"].lower() for h in served)
    battery = spark.createDataFrame(
        [(0, "mono", None)], "req_id long, query string, country string"
    )
    assert forward_geocode_batch(battery, pois, admin, limit=5).count() == 0
