"""Ground-truth tests for the round-8 wave-2 entries (planted fixtures
with hand-computed expectations — the oracle twin is the driver gate;
these pin the SEMANTICS on inputs where the answer is known by
construction)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from scout_spark.inventory.curation import curation_cross_source_ngram_overlap
from scout_spark.inventory.dedup import eval_minhash_lsh_precision_recall
from scout_spark.inventory.retrieval import retrieval_prf_rocchio_expansion


def _write_docs(spark, td, rows, cols=("doc_id", "text")):
    df = spark.createDataFrame(rows, list(cols))
    if "lang" not in cols:
        df = df.withColumn("lang", F.lit("en"))
    if "source" not in cols:
        df = df.withColumn("source", F.lit("s"))
    df.withColumn("n_chars", F.length("text")).write.parquet(
        os.path.join(td, "documents.parquet")
    )


def test_minhash_lsh_eval_truth_grid(spark, tmp_path):
    # 40 docs with per-doc-unique vocab -> batch = near-copies of docs
    # 0 and 20 (drop first of 6 tokens: shingle jaccard 3/4 >= 0.5,
    # TRUE) + novels from docs 7 and 27 (FALSE); every cross pair is
    # disjoint-vocab FALSE. Grid = 4 batch x 40 corpus = 160 pairs.
    td = str(tmp_path)
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(6))) for i in range(40)
    ]
    _write_docs(spark, td, rows)
    r = eval_minhash_lsh_precision_recall(spark, td).collect()[0]
    assert r["n_pairs"] == 160
    assert r["n_true"] == 2
    assert 0 <= r["tp"] <= 2
    assert r["n_candidates"] >= r["tp"]
    if r["n_candidates"]:
        assert r["lsh_precision"] == round(r["tp"] / r["n_candidates"], 6)
    assert r["lsh_recall"] == round(r["tp"] / 2, 6)
    # a first-token-dropped 6-token near-copy keeps 12 of 16 minhash
    # slots at worst in practice; with per-doc-unique vocab the copies
    # MUST be the only plausible candidates — novels never collide
    assert r["tp"] == r["n_candidates"]  # no false-positive buckets here


def test_prf_rocchio_hand_computed(spark, tmp_path):
    # fb docs = the two docs containing query terms; expansion terms:
    # expansion(tf 2), alpha(1), beta(1); every term has corpus df 1 of
    # N=3 docs -> idf = ln(1 + 2.5/1.5) = ln(8/3)
    td = str(tmp_path)
    rows = [
        (1, "spark spark expansion expansion alpha"),
        (2, "table beta"),
        (3, "gamma gamma gamma"),
    ]
    _write_docs(spark, td, rows)
    out = retrieval_prf_rocchio_expansion(spark, td).collect()
    idf = math.log(1.0 + 2.5 / 1.5)
    got = [(r["term"], r["sum_tf"], r["df"], r["rocchio"]) for r in out]
    assert got == [
        ("expansion", 2, 1, round(2 * idf, 6)),
        ("alpha", 1, 1, round(idf, 6)),
        ("beta", 1, 1, round(idf, 6)),
    ]


def test_cross_source_overlap_hand_computed(spark, tmp_path):
    # source sa: one 8-token doc -> 1 gram; sb: the same 8 tokens + one
    # more -> 2 grams, 1 shared; sc: disjoint -> no pair rows
    td = str(tmp_path)
    run = " ".join(f"r{i}" for i in range(1, 9))
    rows = [
        (1, run, "sa"),
        (2, run + " b1", "sb"),
        (3, " ".join(f"c{i}" for i in range(1, 9)), "sc"),
    ]
    _write_docs(spark, td, rows, cols=("doc_id", "text", "source"))
    out = curation_cross_source_ngram_overlap(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("sa", "sb")
    assert (r["shared_grams"], r["grams_a"], r["grams_b"]) == (1, 1, 2)
    assert r["containment"] == 1.0
    assert r["jaccard"] == 0.5
