"""Service-layer parity tests: settings precedence (env > toml >
default), config validation, request validation, response shape +
timing, build CLI defaults and idempotency gate."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from scout_spark.settings import GeocodeSettings, load_settings

_BUILD_CLI = os.path.join(
    os.path.dirname(__file__), "..", "scripts", "build_gazetteer.py"
)


def _build_main():
    spec = importlib.util.spec_from_file_location("build_cli", _BUILD_CLI)
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    return cli.main


def test_settings_defaults():
    s = load_settings(None)
    assert s.geocode == GeocodeSettings()
    g = s.geocode
    assert g.weights["similarity"] == 0.60
    assert g.proximity_km == 25.0
    assert g.type_boost["tourism:"] == 0.80
    assert g.type_boost["default"] == 0.40
    assert g.limit_scan == 10_000


def test_settings_toml_and_env(tmp_path, monkeypatch):
    cfg = tmp_path / "cfg.toml"
    cfg.write_text(
        """
[data]
dir = "from-toml"
[build]
overwrite = false
[ranking.weights]
similarity = 0.5
proximity_km = 10
[ranking.type_boost]
"shop:" = 0.9
"""
    )
    s = load_settings(str(cfg))
    assert s.data_dir == "from-toml" and s.overwrite is False
    g = s.geocode
    assert g.weights["similarity"] == 0.5 and g.weights["type"] == 0.25
    assert g.proximity_km == 10.0
    assert g.type_boost["shop:"] == 0.9 and g.type_boost["amenity:"] == 0.70
    # env beats toml (reference settings.py:36-41)
    monkeypatch.setenv("SCOUT_SPARK_DATA_DIR", "from-env")
    monkeypatch.setenv("SCOUT_SPARK_OVERWRITE", "1")
    s2 = load_settings(str(cfg))
    assert s2.data_dir == "from-env" and s2.overwrite is True


@pytest.mark.parametrize("bad", [0, -1])
def test_non_positive_limit_scan_rejected(tmp_path, bad):
    """limit_scan = 0 would return no hits for every request and -1 fails
    every request inside Spark's LIMIT: both are config errors, raised
    when the config is built — from TOML and from direct construction."""
    with pytest.raises(ValueError, match="limit_scan"):
        GeocodeSettings(limit_scan=bad)
    cfg = tmp_path / "cfg.toml"
    cfg.write_text(f"[serve]\nlimit_scan = {bad}\n")
    with pytest.raises(ValueError, match="limit_scan"):
        load_settings(str(cfg))
    cfg.write_text("[serve]\nlimit_scan = 7\n")
    assert load_settings(str(cfg)).geocode.limit_scan == 7


def test_forward_request_validation():
    from scout_spark.plans.api import ForwardRequest

    with pytest.raises(ValueError):
        ForwardRequest(candidates=[])
    with pytest.raises(ValueError):
        ForwardRequest(candidates=["x"], limit=0)
    r = ForwardRequest(candidates=["Monograph Dining"], country="my", limit=3)
    assert r.limit == 3


def test_forward_geocode_response(spark):
    from scout_spark.etl.fixtures import raw_osm_fixture
    from scout_spark.etl.gazetteer import build_admin, build_pois
    from scout_spark.plans.api import ForwardRequest, forward_geocode
    from scout_spark.plans.geocode import ScoutEngine

    raw = raw_osm_fixture(spark, n_pois=100)
    engine = ScoutEngine(
        spark, build_pois(raw).cache(), build_admin(raw), load_settings(None).geocode
    )
    resp = forward_geocode(
        engine, ForwardRequest(candidates=["Monograph Dining"], country="malaysia", limit=3)
    )
    assert len(resp.hits) == 3
    assert resp.hits[0]["name"] == "Monograph Dining"
    assert resp.took_ms > 0
    assert set(resp.hits[0]) == {
        "name", "lat", "lon", "country", "state", "city", "osm_id", "kind", "score",
    }


def test_build_cli_idempotency_gate(tmp_path, capsys):
    main = _build_main()
    out = str(tmp_path / "gaz")
    rc = main(["fixture", "--out", out, "--fixture-rows", "50", "--overwrite"])
    assert rc == 0
    assert os.path.exists(os.path.join(out, "pois"))
    assert os.path.exists(os.path.join(out, "_meta.json"))
    # second run with --no-overwrite: gate fires before any Spark work
    rc2 = main(["fixture", "--out", out, "--no-overwrite"])
    assert rc2 == 0
    assert "nothing to do" in capsys.readouterr().out


def test_build_cli_without_input(spark, tmp_path, monkeypatch):
    """The bare invocation (``make build-gaz``): no INPUT builds the
    fixture, no --out writes to the configured data dir, and the
    provenance meta names the source."""
    out = tmp_path / "gaz"
    monkeypatch.setenv("SCOUT_SPARK_DATA_DIR", str(out))
    assert _build_main()(["--fixture-rows", "50"]) == 0
    assert spark.read.parquet(str(out / "pois")).count() > 0
    meta = json.loads((out / "_meta.json").read_text())
    assert meta["source"] == "fixture(n_pois=50, seed=42)"


def test_concurrent_queries_one_session(spark):
    """SURVEY.md §4 O10: one long-lived session serves concurrent
    requests (replacing the reference's per-request connections) —
    parallel threads against the same cached engine must all return
    correct, independent results."""
    from concurrent.futures import ThreadPoolExecutor

    from scout_spark.etl.fixtures import raw_osm_fixture
    from scout_spark.etl.gazetteer import build_admin, build_pois
    from scout_spark.plans.geocode import ScoutEngine

    raw = raw_osm_fixture(spark, n_pois=100)
    engine = ScoutEngine(spark, build_pois(raw).cache(), build_admin(raw))
    queries = ["Monograph Dining", "kopitiam 88", "taman botani", "美食中心"] * 3

    def run(q):
        return (q, engine.forward([q], limit=1))

    with ThreadPoolExecutor(max_workers=6) as ex:
        results = dict(ex.map(run, queries))
    assert results["Monograph Dining"][0]["name"] == "Monograph Dining"
    assert results["美食中心"][0]["name"] == "美食中心"
    assert all(len(v) >= 1 for v in results.values())
