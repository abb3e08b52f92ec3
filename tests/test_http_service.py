"""HTTP service shim (plans/http_service.py): the reference's wire
contract — POST /v1/geocode/forward with {"candidates":[{"text":...}]},
GET /healthz, Server-Timing / X-Process-Time headers, 422 validation —
served from one shared SparkSession-backed engine."""

from __future__ import annotations

import json
import socket
import urllib.error
import urllib.request

import pytest

from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_admin, build_pois
from scout_spark.plans.geocode import GeocodeSettings, ScoutEngine
from scout_spark.plans.http_service import serve


@pytest.fixture(scope="module")
def engine(spark):
    raw = raw_osm_fixture(spark, n_pois=300)
    return ScoutEngine(
        spark, build_pois(raw).cache(), build_admin(raw), GeocodeSettings()
    )


@pytest.fixture(scope="module")
def server(engine):
    srv = serve(engine)
    yield srv
    srv.shutdown()


def _url(server, path):
    host, port = server.server_address
    return f"http://{host}:{port}{path}"


def _post(server, path, payload):
    req = urllib.request.Request(
        _url(server, path),
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    return urllib.request.urlopen(req)


def test_healthz(server):
    with urllib.request.urlopen(_url(server, "/healthz")) as r:
        assert r.status == 200
        assert json.loads(r.read()) == {"ok": True}
        assert r.headers["Server-Timing"].startswith("app;dur=")
        assert r.headers["X-Process-Time"].endswith("ms")


def test_forward_readme_example_shape(server):
    # the reference's canonical OpenAPI example (app.py:76-84)
    with _post(
        server,
        "/v1/geocode/forward",
        {"candidates": [{"text": "Monograph Dining"}], "country": "my", "limit": 3},
    ) as r:
        assert r.status == 200
        body = json.loads(r.read())
    hits = body["hits"]
    assert 1 <= len(hits) <= 3
    top = hits[0]
    assert top["name"] == "Monograph Dining"
    assert set(top) == {
        "name", "lat", "lon", "country", "state", "city", "osm_id", "kind", "score",
    }
    assert top["score"] >= hits[-1]["score"]


def test_forward_accepts_bare_string_candidates(server):
    with _post(
        server, "/v1/geocode/forward", {"candidates": ["Kopitiam 88"], "limit": 2}
    ) as r:
        assert json.loads(r.read())["hits"]


def test_validation_errors_are_422(server):
    for payload in ({"candidates": []}, {"candidates": ["x"], "limit": 0}):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(server, "/v1/geocode/forward", payload)
        assert ei.value.code == 422


def test_422_body_is_fastapi_error_envelope(server):
    """Errors use FastAPI's {"detail": [{type, loc, msg, input}]} shape
    with pydantic-v2 locs — a client written against the reference sees
    identical validation semantics."""
    cases = [
        ({}, "missing", ["body", "candidates"]),
        ({"candidates": "x"}, "list_type", ["body", "candidates"]),
        ({"candidates": [{"name": "no-text"}]}, "missing",
         ["body", "candidates", 0, "text"]),
        ({"candidates": [42]}, "model_type", ["body", "candidates", 0]),
        ({"candidates": ["x"], "limit": True}, "int_type", ["body", "limit"]),
        ({"candidates": ["x"], "limit": "NaN"}, "int_parsing",
         ["body", "limit"]),
        ({"candidates": ["x"], "limit": 99}, "less_than_equal",
         ["body", "limit"]),
        ({"candidates": ["x"], "country": 7}, "string_type",
         ["body", "country"]),
    ]
    for payload, err_type, loc in cases:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(server, "/v1/geocode/forward", payload)
        assert ei.value.code == 422
        detail = json.loads(ei.value.read())["detail"]
        assert isinstance(detail, list) and detail
        match = [e for e in detail if e["loc"] == loc]
        assert match, f"no error at {loc} for {payload}: {detail}"
        assert match[0]["type"] == err_type
        assert {"type", "loc", "msg", "input"} <= set(match[0])


def test_limit_coerces_int_like_strings(server):
    # pydantic v2 lax mode: "3" -> 3
    with _post(
        server, "/v1/geocode/forward",
        {"candidates": [{"text": "Monograph Dining"}], "limit": "3"},
    ) as r:
        assert r.status == 200
        assert len(json.loads(r.read())["hits"]) <= 3


def test_openapi_document(server):
    """GET /openapi.json serves the schema FastAPI would generate:
    route metadata, the reference's request example (app.py:76-84), and
    resolvable component refs."""
    with urllib.request.urlopen(_url(server, "/openapi.json")) as r:
        assert r.status == 200
        spec = json.loads(r.read())
    assert spec["openapi"].startswith("3.")
    assert spec["info"] == {"title": "scout", "version": "1.0.0"}
    post = spec["paths"]["/v1/geocode/forward"]["post"]
    assert post["summary"] == "Name → lat/lon"
    assert post["tags"] == ["geocoding"]
    example = post["requestBody"]["content"]["application/json"][
        "examples"]["basic"]["value"]
    assert example == {
        "candidates": [{"text": "Monograph Dining"}],
        "country": "my",
        "limit": 3,
    }
    assert "422" in post["responses"]
    # every $ref resolves to a declared component schema
    schemas = spec["components"]["schemas"]
    import re

    refs = set(re.findall(r'"#/components/schemas/(\w+)"', json.dumps(spec)))
    assert refs <= set(schemas), refs - set(schemas)
    for name in ("ForwardReq", "Hit", "ForwardResp", "HTTPValidationError"):
        assert name in schemas
    # the reference example validates against the documented schema
    req_schema = schemas["ForwardReq"]
    assert set(req_schema["required"]) == {"candidates"}


def test_malformed_json_is_422(server):
    req = urllib.request.Request(
        _url(server, "/v1/geocode/forward"),
        data=b"{not json",
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 422
    detail = json.loads(ei.value.read())["detail"]
    assert detail[0]["type"] == "json_invalid"


@pytest.mark.parametrize("length", ["-1", "99999999999999999999", "abc"])
def test_bad_content_length_is_422(server, length):
    """A Content-Length that is not a non-negative integer gets the
    malformed-JSON envelope without a body read ("-1" would wait for EOF,
    a length past sys.maxsize overflows the read), and the service keeps
    serving."""
    host, port = server.server_address
    with socket.create_connection((host, port), timeout=5) as sock:
        sock.sendall(
            b"POST /v1/geocode/forward HTTP/1.1\r\n"
            b"Host: x\r\nContent-Type: application/json\r\n"
            b"Content-Length: " + length.encode() + b"\r\n\r\n"
        )
        raw = b""
        while chunk := sock.recv(65536):
            raw += chunk
    head, _, body = raw.partition(b"\r\n\r\n")
    assert head.split(b" ")[1] == b"422", raw
    detail = json.loads(body)["detail"]
    assert detail[0]["type"] == "json_invalid"
    assert detail[0]["loc"] == ["body"]
    with urllib.request.urlopen(_url(server, "/healthz")) as r:
        assert r.status == 200


def test_unknown_path_404(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(_url(server, "/nope"))
    assert ei.value.code == 404


def test_concurrent_requests_share_session(server):
    from concurrent.futures import ThreadPoolExecutor

    def one(_):
        with _post(
            server, "/v1/geocode/forward", {"candidates": [{"text": "Monograph"}]}
        ) as r:
            return json.loads(r.read())["hits"]

    with ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(one, range(8)))
    assert all(results[0] == r for r in results)


def test_limit_coerces_integral_float_and_reports_all_errors(server):
    # pydantic v2 lax mode: 3.0 -> 3 (200), 3.5 -> int_from_float
    with _post(
        server, "/v1/geocode/forward",
        {"candidates": [{"text": "Monograph Dining"}], "limit": 3.0},
    ) as r:
        assert r.status == 200
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, "/v1/geocode/forward",
              {"candidates": ["x"], "limit": 3.5})
    detail = json.loads(ei.value.read())["detail"]
    assert detail[0]["type"] == "int_from_float"
    # independent fields each contribute errors to ONE 422 (FastAPI
    # returns the full list, not first-error-wins)
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, "/v1/geocode/forward",
              {"candidates": [42], "limit": 999})
    detail = json.loads(ei.value.read())["detail"]
    types = {e["type"] for e in detail}
    assert {"model_type", "less_than_equal"} <= types, detail


def test_failed_request_is_500_and_service_keeps_serving(server, engine, monkeypatch, capsys):
    """An exception inside the engine answers that request with a 500
    (traceback on stderr) instead of dropping the connection; the next
    request on the same engine is served normally."""
    forward = engine.forward
    calls = []

    def fail_once(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("simulated engine failure")
        return forward(*args, **kwargs)

    monkeypatch.setattr(engine, "forward", fail_once)
    payload = {"candidates": [{"text": "Monograph Dining"}], "limit": 3}
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(server, "/v1/geocode/forward", payload)
    assert ei.value.code == 500
    assert json.loads(ei.value.read()) == {"detail": "Internal Server Error"}
    assert "simulated engine failure" in capsys.readouterr().err
    with _post(server, "/v1/geocode/forward", payload) as r:
        assert r.status == 200
        hits = json.loads(r.read())["hits"]
    assert hits and hits[0]["name"] == "Monograph Dining"
    assert len(calls) == 2
