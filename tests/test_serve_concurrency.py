"""The shared session under concurrent requests: threads get exactly the
serial hits, engines in one session keep their own candidate tables, and
a request whose Spark job fails gets a 500 without disturbing the
requests served beside it."""

from __future__ import annotations

import json
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_admin, build_pois
from scout_spark.plans.geocode import ScoutEngine
from scout_spark.plans.http_service import serve

# distinct hinted requests, several candidate texts each, mixed limits
REQUESTS = [
    (["Monograph Dining", "monograph cafe"], "malaysia", "kuala lumpur", 5),
    (["Kopitiam 88", "coffee shop"], "malaysia", None, 3),
    (["Restoran Nasi Kandar", "nasi kandar"], None, "kuala lumpur", 10),
    (["Monograph", "Monograph Dinning"], "singapore", "atlantis", 1),
    (["Taman Botani", "botanic gardens"], "malaysia", "george town", 2),
    (["One-Utama Mall", "one utama"], "malaysia", "kuala lumpur", 7),
]


@pytest.fixture(scope="module")
def gaz(spark):
    raw = raw_osm_fixture(spark, n_pois=300)
    return build_pois(raw).cache(), build_admin(raw)


@pytest.fixture(scope="module")
def engine(spark, gaz):
    return ScoutEngine(spark, *gaz)


def _post(server, body):
    host, port = server.server_address
    req = urllib.request.Request(
        f"http://{host}:{port}/v1/geocode/forward",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _body(candidates, country, city_hint, limit):
    return {"candidates": candidates, "country": country,
            "city_hint": city_hint, "limit": limit}


def test_threads_get_the_serial_hits(engine):
    serial = [engine.forward(*r) for r in REQUESTS]
    assert all(serial)
    assert len({json.dumps(h) for h in serial}) == len(REQUESTS)
    with ThreadPoolExecutor(max_workers=6) as ex:
        for _ in range(2):
            got = ex.map(lambda r: engine.forward(*r), REQUESTS, timeout=300)
            assert list(got) == serial


def test_engines_in_one_session_keep_their_own_pois(spark, gaz, engine):
    pois, admin = gaz
    before = engine.forward(["monograph"], limit=5)
    assert before and all("Monograph" in h["name"] for h in before)
    # a second engine over a frame that has no Monograph rows
    other = ScoutEngine(spark, pois.where(~F.col("name_local").contains("Monograph")), admin)
    assert other._view != engine._view
    assert other.forward(["monograph"], limit=5) == []
    assert engine.forward(["monograph"], limit=5) == before
    with ThreadPoolExecutor(max_workers=4) as ex:
        got = list(ex.map(
            lambda e: e.forward(["monograph"], limit=5), [engine, other] * 2, timeout=300
        ))
    assert got == [before, [], before, []]


def test_failed_job_is_500_beside_good_requests(spark, gaz, engine, capsys):
    pois, admin = gaz
    # every scanned row fails inside the job
    broken = ScoutEngine(
        spark,
        pois.withColumn(
            "importance",
            F.when(F.col("osm_id").isNotNull(), F.raise_error(F.lit("boom")))
            .otherwise(F.col("importance")).cast("double"),
        ),
        admin,
    )
    serial = [engine.forward(*r) for r in REQUESTS]
    good, bad = serve(engine), serve(broken)
    try:
        jobs = [(good, r) for r in REQUESTS] + [(bad, r) for r in REQUESTS[:3]]
        with ThreadPoolExecutor(max_workers=6) as ex:
            out = list(ex.map(lambda j: _post(j[0], _body(*j[1])), jobs, timeout=300))
    finally:
        good.shutdown()
        bad.shutdown()
    assert out[: len(REQUESTS)] == [(200, {"hits": h}) for h in serial]
    assert out[len(REQUESTS):] == [(500, {"detail": "Internal Server Error"})] * 3
    assert "boom" in capsys.readouterr().err
