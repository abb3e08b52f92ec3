"""Ground-truth tests for the round-8 entries (planted fixtures with
hand-computed expectations — the oracle twin is the driver gate; these
pin the SEMANTICS on inputs where the answer is known by construction).
"""

import os

import pytest
from pyspark.sql import functions as F

from scout_spark.inventory.curation import (
    audit_packing_efficiency_by_lang,
    curation_source_mix_report,
)
from scout_spark.inventory.dedup import (
    dedup_duplicated_ngram_coverage,
    dedup_longest_duplicated_substring,
)
from scout_spark.inventory.text import lm_kneser_ney_bigram


def _write_docs(spark, td, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(td, "documents.parquet"))


@pytest.fixture()
def planted_dir(spark, tmp_path):
    """Docs A and B share EXACTLY one 13-token run (r1..r13) at
    different offsets; every other token is unique corpus-wide, so no
    accidental 8-gram collisions exist. Doc C shares nothing."""
    run = " ".join(f"r{i}" for i in range(1, 14))
    a = " ".join(f"a{i}" for i in range(1, 11)) + " " + run + " " + (
        " ".join(f"s{i}" for i in range(1, 6))
    )
    b = " ".join(f"b{i}" for i in range(1, 8)) + " " + run + " " + (
        " ".join(f"t{i}" for i in range(1, 5))
    )
    c = " ".join(f"c{i}" for i in range(1, 30))
    td = str(tmp_path)
    _write_docs(spark, td, [(1, a), (2, b), (3, c)])
    return td


def test_longest_duplicated_substring_exact_run(spark, planted_dir):
    rows = dedup_longest_duplicated_substring(
        spark, planted_dir
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # the planted 13-token run: 13-8+1 = 6 anchors on one diagonal
    assert (r["d1"], r["d2"]) == (1, 2)
    assert r["run_tokens"] == 13
    assert r["n_gram_matches"] == 6


def test_duplicated_coverage_is_run_over_doclen(spark, planted_dir):
    got = {
        r["doc_id"]: (r["n_tok"], r["covered_tokens"], r["dup_coverage"])
        for r in dedup_duplicated_ngram_coverage(
            spark, planted_dir
        ).collect()
    }
    # doc A: 10 + 13 + 5 = 28 tokens, covered = the 13-token run
    assert got[1] == (28, 13, round(13 / 28, 6))
    # doc B: 7 + 13 + 4 = 24 tokens
    assert got[2] == (24, 13, round(13 / 24, 6))
    # doc C has no duplicated grams — absent from the report
    assert 3 not in got


def test_kneser_ney_hand_computed(spark, tmp_path):
    # corpus 'a b a c': c(a,b)=c(b,a)=c(a,c)=1; c1(a)=2;
    # N1+(a,.)=2, N1+(.,b)=N1+(.,a)=N1+(.,c)=1, N1+(..)=3
    # P(b|a) = max(1-.75,0)/2 + (.75*2/2)*(1/3) = 0.375
    # P(a|b) = 0.25/1 + (.75*1/1)*(1/3)        = 0.5
    td = str(tmp_path)
    _write_docs(spark, td, [(1, "a b a c")])
    got = {
        (r["w1"], r["w2"]): (r["c12"], r["p_kn"])
        for r in lm_kneser_ney_bigram(spark, td).collect()
    }
    assert got[("a", "b")] == (1, 0.375)
    assert got[("a", "c")] == (1, 0.375)
    assert got[("b", "a")] == (1, 0.5)
    assert len(got) == 3


def test_source_mix_shares_sum_and_flag(spark, tmp_path):
    td = str(tmp_path)
    rows = [
        (1, "w1 w2 w3 w4 w5 w6", "big"),
        (2, "x1 x2 x3 x4 x5 x6", "big"),
        (3, "y1", "small"),
        (4, "z1", "tiny"),
    ]
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.parquet(
        os.path.join(td, "documents.parquet")
    )
    out = curation_source_mix_report(spark, td).collect()
    assert [r["source"] for r in out] == ["big", "small", "tiny"]
    big = out[0]
    assert big["n_tokens"] == 12
    assert big["token_share"] == round(12 / 14, 6)
    assert out[-1]["cum_token_share"] == 1.0
    # big holds 12/14 > 2 * (1/3 uniform) → over-represented (integer
    # compare: 12 * 3 > 2 * 14)
    assert big["over_represented"] == 1
    assert out[1]["over_represented"] == 0
    assert out[2]["over_represented"] == 0


def test_packing_audit_ceil_and_efficiency(spark, tmp_path):
    from scout_spark.inventory.curation import _PACK_CAPACITY

    td = str(tmp_path)
    # 3 docs in one lang; token totals small => every shard packs into
    # exactly ceil(tokens/capacity)=1 chunk per occupied shard
    _write_docs(
        spark,
        td,
        [(i, " ".join(f"w{i}x{j}" for j in range(10))) for i in range(3)],
    )
    out = audit_packing_efficiency_by_lang(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 3 and r["n_tokens"] == 30
    # chunks = number of distinct md5 shards hit (each holds <capacity)
    assert 1 <= r["n_chunks"] <= 3
    cap = r["n_chunks"] * _PACK_CAPACITY
    assert r["tail_waste_tokens"] == cap - 30
    assert r["pack_efficiency"] == round(30 / cap, 6)
