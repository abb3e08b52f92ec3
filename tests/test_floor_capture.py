"""scripts/floor_capture.py regression pins.

1. The four-way adjudication is factored into one `_adjudicate` helper
   used by BOTH the first pass and the idle re-measure loop (the loop
   previously skipped the calibration branch, so a calibrated entry
   could keep a stale plan_slack label).
2. `_calibrate` restores the caller's shuffle.partitions and
   `SET threads={cpus}` instead of hardcoded 32/8 (with --cpus != 32
   the first entry's duck_s ran at 32 threads).
"""

from __future__ import annotations

import importlib.util
import os

import pytest


def _floor_capture():
    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "floor_capture.py",
    )
    spec = importlib.util.spec_from_file_location("floor_capture_mod", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_adjudicate_four_way_branches():
    fc = _floor_capture()

    rec = {"spark_sp1_s": 0.3, "spark_noop_s": 0.4, "ratio_sp1_vs_1t": 9.0}
    fc._adjudicate(rec, "anything", {})
    assert rec["adjudication"] == "job_floor"

    rec = {"spark_sp1_s": 1.2, "spark_noop_s": 0.9, "ratio_sp1_vs_1t": 1.9}
    fc._adjudicate(rec, "anything", {})
    assert rec["adjudication"] == "engine_floor"

    name = "graph_butterfly_count_bipartite"  # has THROUGHPUT_EVIDENCE
    calib_key = fc.THROUGHPUT_EVIDENCE[name]["calibration"]
    calibs = {calib_key: {"ratio": 4.0}}

    rec = {"spark_sp1_s": 3.0, "spark_noop_s": 2.0, "ratio_sp1_vs_1t": 7.9}
    fc._adjudicate(rec, name, calibs)
    assert rec["adjudication"] == "engine_floor_throughput"
    assert rec["calibration"] == calib_key
    assert rec["calibration_ratio"] == 4.0

    rec = {"spark_sp1_s": 3.0, "spark_noop_s": 2.0, "ratio_sp1_vs_1t": 8.1}
    fc._adjudicate(rec, name, calibs)
    assert rec["adjudication"] == "plan_slack"

    rec = {"spark_sp1_s": 3.0, "spark_noop_s": 2.0, "ratio_sp1_vs_1t": 5.0}
    fc._adjudicate(rec, "uncalibrated_entry", calibs)
    assert rec["adjudication"] == "plan_slack"


def test_remeasure_loop_uses_shared_adjudication():
    """The re-measure loop must call the SAME helper as the first pass
    — pinned structurally: exactly two `_adjudicate(rec, name,` call
    sites in main(), zero inline adjudication branches left."""
    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "floor_capture.py",
    )
    src = open(p).read()
    assert src.count("_adjudicate(rec, name, calibrations)") == 2
    # no stray inline assignment of the two labels the loop used to
    # re-derive by hand (definitions inside _adjudicate excepted —
    # count total occurrences instead)
    assert src.count('"job_floor"') == 1
    assert src.count('"engine_floor"') == 1


def test_calibrate_restores_threads_and_partitions(monkeypatch):
    fc = _floor_capture()
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    con.execute("SET threads=4")

    class FakeConf:
        def __init__(self):
            self.vals = {"spark.sql.shuffle.partitions": "5"}

        def get(self, k):
            return self.vals[k]

        def set(self, k, v):
            self.vals[k] = v

    class FakeSpark:
        def __init__(self):
            self.conf = FakeConf()

    # empty the calibration programs: we're testing the save/restore
    # envelope, not the measurement
    monkeypatch.setattr(fc, "CALIBRATIONS", {})
    spark = FakeSpark()
    out = fc._calibrate(spark, con, passes=1, cpus=4)
    assert out == {}
    assert spark.conf.vals["spark.sql.shuffle.partitions"] == "5"
    assert (
        int(con.execute("SELECT current_setting('threads')").fetchone()[0])
        == 4
    )
