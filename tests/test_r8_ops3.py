"""Ground-truth tests for the round-8 wave-3 entries (planted fixtures
with hand-computed expectations)."""

import os

from pyspark.sql import functions as F

from scout_spark.inventory.curation import curation_filter_funnel
from scout_spark.inventory.dedup import dedup_intra_doc_repeats


def _write_docs(spark, td, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(td, "documents.parquet"))


def test_filter_funnel_hand_computed(spark, tmp_path):
    td = str(tmp_path)
    # doc 1: long (>=150 chars), 40 distinct tokens incl 'the' ->
    #        survives all 4 stages (40 tokens)
    # doc 2: long, 40 tokens but all identical -> distinct ratio
    #        1/40 < 0.3, rejected at stage 3
    # doc 3: long enough chars but only 20 tokens -> rejected stage 2
    # doc 4: short -> rejected stage 1
    d1 = "the " + " ".join(f"w{i}xxxxxx" for i in range(39))
    d2 = " ".join(["samexxxxx"] * 40)
    d3 = " ".join(f"y{i}xxxxxxxx" for i in range(20))
    d4 = "tiny doc"
    _write_docs(spark, td, [(1, d1), (2, d2), (3, d3), (4, d4)])
    rows = curation_filter_funnel(spark, td).collect()
    got = {
        r["stage"]: (
            r["stage_name"],
            r["n_docs_surviving"],
            r["n_tokens_surviving"],
            r["n_rejected_at_stage"],
            r["cum_reject_rate"],
        )
        for r in rows
    }
    assert got[1] == ("min_length", 3, 100, 1, 0.25)
    assert got[2] == ("min_tokens", 2, 80, 1, 0.5)
    assert got[3] == ("distinct_ratio", 1, 40, 1, 0.75)
    assert got[4] == ("has_stopword", 1, 40, 0, 0.75)


def test_intra_doc_repeats_exact_run(spark, tmp_path):
    td = str(tmp_path)
    # doc 1 repeats the 5-token run r1..r5 at offsets 1 and 9:
    # 5-3=2 anchors (4-gram width) on one diagonal -> repeat 5
    run = "r1 r2 r3 r4 r5"
    d1 = run + " a1 a2 a3 " + run + " a4"
    # doc 2 has no repeated 4-gram
    d2 = " ".join(f"b{i}" for i in range(12))
    _write_docs(spark, td, [(1, d1), (2, d2)])
    rows = dedup_intra_doc_repeats(spark, td).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 1
    assert r["repeat_tokens"] == 5
    assert r["n_anchor_matches"] == 2
