"""Ingest robustness: parquet schema evolution (mergeSchema) and corrupt
JSON payload handling — the failure modes a 100 TB landing zone actually
produces."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_parquet_schema_evolution(spark, tmp_path):
    """A v2 writer adds a column; readers must see the union schema with
    NULLs for v1 files (mergeSchema) — no rewrite of old data."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        f"{out}/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{out}/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(df.columns) >= {"id", "name", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_corrupt_json_payloads_null_not_fail(spark):
    """from_json yields NULL for corrupt payloads (PERMISSIVE) — a bad
    record must not kill a 100 TB job; count the damage instead."""
    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "not json at all"), (3, None), (4, '{"k": "x"}')],
        "id long, props string",
    )
    parsed = df.select(
        "id", F.from_json("props", "k int").alias("j")
    ).select("id", F.col("j.k").alias("k"))
    got = {r["id"]: r["k"] for r in parsed.collect()}
    assert got[1] == 5
    assert got[2] is None and got[3] is None and got[4] is None
    bad = parsed.where(F.col("k").isNull()).count()
    assert bad == 3


def test_load_table_normalizes_timestamp_ntz(spark, tmp_path):
    """Driver-regenerated testdata can arrive as timestamp[us] with
    isAdjustedToUTC=false (TIMESTAMP_NTZ under Spark 4), which rejects
    the epoch arithmetic the temporal operators rely on. load_table must
    surface plain UTC timestamps whatever the parquet flavor."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from scout_spark.sources.tables import load_table

    sf_dir = str(tmp_path)
    ts = pd.to_datetime(
        ["2024-01-05 12:34:56.789012", "2024-02-01 00:00:00.000000"]
    )
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),  # no tz → NTZ flavor
        }
    )
    pq.write_table(table, f"{sf_dir}/events.parquet")
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # epoch arithmetic must work and preserve wall-clock µs exactly
    got = df.orderBy("event_id").select(
        F.unix_micros("ts").alias("us")
    ).collect()
    assert got[0]["us"] == 1704458096789012
    assert got[1]["us"] == 1706745600000000


def test_jsonl_corpus_round_trip(spark, tmp_path):
    """JSONL shard write -> schema'd read must round-trip documents
    exactly, including text containing newlines, quotes, unicode, and
    control-ish characters (the json writer escapes them)."""
    from pyspark.sql import functions as F

    from scout_spark.sources.writers import read_jsonl, write_jsonl

    rows = [
        (1, 'line one\nline "two"\ttabbed', "en"),
        (2, "unicode: héllo wörld — 中文 🙂", "de"),
        (3, "", "es"),
        (4, "backslash \\ and /slash and {brace}", "fr"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(df, out, compression="gzip")
    back = read_jsonl(spark, out, schema="doc_id long, text string, lang string")
    got = sorted(
        (r["doc_id"], r["text"], r["lang"]) for r in back.collect()
    )
    assert got == sorted(rows)
    # inference fallback also works (types may widen, values identical)
    inferred = read_jsonl(spark, out)
    assert sorted(
        (r["doc_id"], r["text"], r["lang"]) for r in inferred.collect()
    ) == sorted(rows)


class _CrashAt(Exception):
    pass


def _make_table(tmp_path, name, content):
    import os

    d = tmp_path / name
    os.makedirs(d, exist_ok=True)
    (d / "data.txt").write_text(content)
    return str(d)


@pytest.mark.parametrize("crash_step", [0, 1, 2])
def test_atomic_swap_crash_at_every_step_leaves_table_recoverable(
    tmp_path, monkeypatch, crash_step
):
    """Inject a crash before each os.rename inside atomic_swap (and after
    the last): at every point either target or target.old holds a full
    copy, and recover_swap restores target. The old rmtree-then-rename
    sequence lost the table when a crash hit between the two steps."""
    import os

    from scout_spark.sources.maintenance import atomic_swap, recover_swap

    target = _make_table(tmp_path, "table", "OLD")
    staging = _make_table(tmp_path, "table.staging", "NEW")

    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        if calls["n"] == crash_step:
            raise _CrashAt(f"crash before rename #{crash_step}")
        calls["n"] += 1
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    if crash_step < 2:
        with pytest.raises(_CrashAt):
            atomic_swap(target, staging)
    else:  # no crash: both renames run
        atomic_swap(target, staging)
    monkeypatch.undo()

    # invariant: a full copy survives at target or target.old
    recover_swap(target)
    assert os.path.exists(target), f"table lost at crash step {crash_step}"
    content = (tmp_path / "table" / "data.txt").read_text()
    if crash_step == 0:
        assert content == "OLD"  # crash before anything moved
    elif crash_step == 1:
        assert content == "OLD"  # crash mid-swap: .old restored
    else:
        assert content == "NEW"  # completed swap


def test_recover_swap_cleans_stale_old_dir(tmp_path):
    import os

    from scout_spark.sources.maintenance import recover_swap

    target = _make_table(tmp_path, "t2", "CURRENT")
    _make_table(tmp_path, "t2.old", "STALE")
    assert recover_swap(target) == "cleaned_old"
    assert not os.path.exists(target + ".old")
    assert (tmp_path / "t2" / "data.txt").read_text() == "CURRENT"


def test_timezone_sabotage_queries_self_reset_to_utc(spark, oracle_sf_dir):
    """The driver may hand us a session with ANY timezone configured;
    every queries() callable routes through tune_for_engine, which must
    force UTC — otherwise window/date/trunc results drift vs the
    oracle. Sabotage the session, then run the most timestamp-heavy
    entries through the full parity check."""
    from scout_spark.inventory import load_all

    registry = load_all()
    names = [
        "sessionize_30min_gap",
        "timeseries_ohlc_hourly",
        "scd2_event_type_dimension",
        "timeseries_ewma_bounded",
        "trending_decayed_topk",
        "scalar_date_trunc_monthly",
    ]
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        for name in names:
            spark.conf.set("spark.sql.session.timeZone", "America/New_York")
            from scout_spark.testing import check_item

            ok, msg = check_item(spark, registry[name], oracle_sf_dir)
            assert ok, f"under sabotaged timezone: {msg}"
            # and the query actually reset the session
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_driver_entry_is_stable_across_invocations(spark):
    """The driver may re-invoke entry() on one session; result set and
    schema must be identical both times (no temp-view collisions, no
    stateful plan-build surprises)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_mod_stability", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    a = mod.entry(spark)
    b = mod.entry(spark)
    assert a.schema == b.schema
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) >= 0


def test_publish_two_writer_race(tmp_path):
    """ADVICE r04: two sessions building the same fixture key race on
    os.replace; the loser must swallow ENOTEMPTY, discard its tmp dir,
    and leave the winner's publication intact."""
    from scout_spark.inventory.ingest import _publish

    path = str(tmp_path / "fixture")
    tmp_a = str(tmp_path / "fixture.tmp111")
    tmp_b = str(tmp_path / "fixture.tmp222")
    for t, payload in ((tmp_a, "winner"), (tmp_b, "loser")):
        os.makedirs(t)
        with open(os.path.join(t, "part-0.csv"), "w") as f:
            f.write(payload)
    _publish(tmp_a, path)  # winner publishes first
    _publish(tmp_b, path)  # loser must not raise, must clean its tmp
    assert os.path.isdir(path)
    assert not os.path.exists(tmp_b)
    with open(os.path.join(path, "part-0.csv")) as f:
        assert f.read() == "winner"


def test_compression_ratio_nan_input():
    """ADVICE r05: a float-NaN null representation must not raise in
    the Arrow batch path."""
    import math

    from scout_spark.operators.compressq import compression_ratio

    assert compression_ratio(float("nan")) == 1.0
    assert compression_ratio(None) == 1.0


def test_malformed_env_value_does_not_break_registry_load(monkeypatch):
    """The curate barrier gate is a constant: a malformed value of the
    retired SPARK_GRAFT_CURATE_BARRIER_ROWS variable must not crash the
    module import and with it the whole registry load."""
    import importlib

    from scout_spark.inventory import REGISTRY, curation, load_all

    monkeypatch.setenv("SPARK_GRAFT_CURATE_BARRIER_ROWS", "abc")
    saved = dict(REGISTRY)
    try:
        for name in [n for n, it in REGISTRY.items()
                     if it.spark.__module__ == curation.__name__]:
            del REGISTRY[name]
        importlib.reload(curation)
        assert load_all().keys() == saved.keys()
    finally:
        REGISTRY.clear()
        REGISTRY.update(saved)


@pytest.mark.parametrize("bad", ["abc", "-2", "0", "1.5"])
@pytest.mark.parametrize("var", ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS"])
def test_bad_env_count_falls_back_with_a_warning(spark, monkeypatch, var, bad):
    """A malformed or non-positive core or partition count warns and
    takes the default instead of crashing get_spark() (or asking for
    local[-2]); the running session is returned unchanged."""
    from scout_spark.session import get_spark

    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv(var, bad)
    try:
        with pytest.warns(UserWarning, match=var):
            assert get_spark("scout-spark-tests") is spark
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
