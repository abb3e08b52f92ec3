"""scout_spark.measure: the timing core the measurement harnesses share.
Hermetic: DuckDB only, no Spark session."""

from __future__ import annotations

import time

import duckdb

from scout_spark import measure


def test_duck_wall_times_out_and_leaves_connection_usable():
    con = duckdb.connect()
    con.execute("SET threads=1")
    t0 = time.perf_counter()
    wall = measure.duck_wall(
        con,
        "SELECT count(*) FROM range(100000000) a, range(100000000) b",
        passes=1,
        warm=0,
        timeout_s=0.5,
    )
    assert wall is None
    assert time.perf_counter() - t0 < 30
    # no stale interrupt reaches the next query on the same connection
    assert con.execute("SELECT 42").fetchall() == [(42,)]


def test_duck_wall_reports_sql_error_as_string():
    con = duckdb.connect()
    out = measure.duck_wall(
        con, "SELECT * FROM no_such_table", passes=1, warm=1, timeout_s=5.0
    )
    assert isinstance(out, str) and out.startswith("err: ")
    assert con.execute("SELECT 1").fetchall() == [(1,)]


def test_duck_wall_returns_seconds():
    con = duckdb.connect()
    wall = measure.duck_wall(
        con, "SELECT sum(range) FROM range(1000)", passes=3, warm=1,
        timeout_s=5.0,
    )
    assert isinstance(wall, float) and 0.0 <= wall < 5.0


def test_median_wall_warm_and_pass_counts():
    calls = []

    def run():
        calls.append(1)
        if len(calls) <= 2:
            time.sleep(0.2)  # the warm calls are slow and untimed

    wall = measure.median_wall(run, passes=3, warm=2)
    assert len(calls) == 5
    assert wall < 0.1


def test_wait_for_load_waits_until_load_falls(monkeypatch):
    loads = iter([9.0, 9.0, 1.0])
    monkeypatch.setattr(
        measure.os, "getloadavg", lambda: (next(loads), 0.0, 0.0)
    )
    monkeypatch.setattr(measure.time, "sleep", lambda s: None)
    assert measure.wait_for_load(2.0, 600, 30) == 60


def test_wait_for_load_gives_up_after_max_wait(monkeypatch):
    monkeypatch.setattr(measure.os, "getloadavg", lambda: (9.0, 0.0, 0.0))
    monkeypatch.setattr(measure.time, "sleep", lambda s: None)
    assert measure.wait_for_load(1.5, 240, 10) == 240
