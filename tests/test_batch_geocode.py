"""Batched geocoding tests: one job over a request battery
(FIXTURES.md §4), results consistent with the per-request engine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_admin, build_pois
from scout_spark.plans.batch_geocode import forward_geocode_batch
from scout_spark.plans.geocode import ScoutEngine
from serve_oracle import column_hits


@pytest.fixture(scope="module")
def gaz(spark):
    raw = raw_osm_fixture(spark, n_pois=200)
    return build_pois(raw).cache(), build_admin(raw).cache()


@pytest.fixture(scope="module")
def battery(spark):
    rows = [
        (0, "Monograph Dining", "malaysia"),
        (1, "kopitiam 88", None),
        (2, "taman botani", "malaysia"),
        (3, "zzz no such place qqq", None),  # no candidates
        (4, "monograph dining", "atlantis"),  # unknown hint → unrestricted
    ]
    return spark.createDataFrame(rows, "req_id long, query string, country string")


def test_batch_shapes_and_ranks(spark, gaz, battery):
    pois, admin = gaz
    out = forward_geocode_batch(battery, pois, admin, limit=3)
    rows = out.collect()
    per_req = {}
    for r in rows:
        per_req.setdefault(r["req_id"], []).append(r)
    # ranked 1..k, scores non-increasing within each request
    for req_id, hits in per_req.items():
        hits.sort(key=lambda r: r["rank"])
        assert [h["rank"] for h in hits] == list(range(1, len(hits) + 1))
        scores = [h["score"] for h in hits]
        assert scores == sorted(scores, reverse=True)
    assert 3 not in per_req  # no-candidate request yields no rows
    assert per_req[0][0]["name"] == "Monograph Dining"
    assert per_req[4][0]["name"] in ("Monograph Dining", "Monograph Dinning")


def test_batch_agrees_with_per_request_engine(spark, gaz, battery):
    """Each request's full top-k — (osm_id, score) in rank order — must
    equal the per-request engine's scan rule (substring ``contains``,
    capped) scored with the batch plan's Column proxy. The battery's
    tokens are whole words, where the substring and whole-token
    candidate rules agree."""
    pois, admin = gaz
    eng = ScoutEngine(spark, pois, admin)
    requests = battery.collect()
    for limit in (1, 5):
        batch = {}
        for r in forward_geocode_batch(battery, pois, admin, limit=limit).collect():
            batch.setdefault(r["req_id"], []).append(r)
        for req in requests:
            got = sorted(batch.get(req["req_id"], []), key=lambda r: r["rank"])
            want = column_hits(
                eng, [req["query"]], req["country"], None, limit, proxy=True
            )
            assert [h["osm_id"] for h in got] == [h["osm_id"] for h in want], (
                req["query"], limit,
            )
            assert [h["score"] for h in got] == pytest.approx(
                [h["score"] for h in want], abs=1e-6
            ), (req["query"], limit)


def test_batch_deterministic(spark, gaz, battery):
    pois, admin = gaz
    a = forward_geocode_batch(battery, pois, admin, limit=3).collect()
    b = forward_geocode_batch(battery, pois, admin, limit=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_batch_repeated_token_query(spark, gaz):
    """Regression: a query with a repeated token must still match
    (covering check counts distinct tokens on both sides)."""
    pois, admin = gaz
    battery = spark.createDataFrame(
        [(0, "monograph monograph dining", None)],
        "req_id long, query string, country string",
    )
    out = forward_geocode_batch(battery, pois, admin, limit=1).collect()
    assert out and out[0]["name"] == "Monograph Dining"


def test_batch_english_country_hint_resolves(spark, gaz):
    """Regression: hint matching the ENGLISH admin name must resolve the
    bbox even when a local-name norm exists (both name columns keyed)."""
    pois, admin = gaz
    from pyspark.sql import functions as F2

    # 'brunei' is the local norm; 'brunei darussalam' is the en norm —
    # query with a token set only the en norm fully covers
    battery = spark.createDataFrame(
        [(0, "kedai", "brunei darussalam")], "req_id long, query string, country string"
    )
    out = forward_geocode_batch(battery, pois, admin, limit=5).collect()
    # resolved bbox → every hit inside Brunei's box (country center 4.5353,114.7277 ± 0.8)
    for r in out:
        assert abs(r["lat"] - 4.5353) <= 0.8 and abs(r["lon"] - 114.7277) <= 0.8
