"""Ground-truth tests for the round-8 wave-5 entries."""

import hashlib
import os

from pyspark.sql import functions as F

from scout_spark.inventory.curation import sample_epoch_shuffle_hash
from scout_spark.inventory.text import text_term_burstiness


def _write_docs(spark, td, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(td, "documents.parquet"))


def test_burstiness_hand_computed(spark, tmp_path):
    td = str(tmp_path)
    # 'bursty' appears 4x in one doc of 4; 'flat' once in each doc.
    # n=4 docs: bursty mean 1, E[x^2]=4 -> var 3 -> VMR 3.0;
    # flat mean 1, var 0 -> VMR 0.0
    rows = [
        (1, "bursty bursty bursty bursty flat"),
        (2, "flat pad1"),
        (3, "flat pad2"),
        (4, "flat pad3"),
    ]
    _write_docs(spark, td, rows)
    got = {
        r["term"]: (r["freq"], r["doc_freq"], r["vmr"])
        for r in text_term_burstiness(spark, td).collect()
    }
    assert got["bursty"] == (4, 1, 3.0)
    assert got["flat"] == (4, 4, 0.0)


def test_epoch_shuffle_matches_md5_reference(spark, tmp_path):
    td = str(tmp_path)
    _write_docs(spark, td, [(i, f"doc {i}") for i in range(30)])
    rows = sample_epoch_shuffle_hash(spark, td).collect()
    assert len(rows) == 20
    for ep in (0, 1):
        exp = sorted(
            range(30), key=lambda i: hashlib.md5(f"{ep}:{i}".encode()).hexdigest()
        )[:10]
        got = [
            r["doc_id"]
            for r in rows
            if r["epoch"] == ep
        ]
        assert got == exp
    # movement counter matches a direct python recomputation
    moved = sum(
        1
        for i in range(30)
        if int(hashlib.md5(f"0:{i}".encode()).hexdigest()[:8], 16) % 16
        != int(hashlib.md5(f"1:{i}".encode()).hexdigest()[:8], 16) % 16
    )
    assert rows[0]["n_docs"] == 30
    assert rows[0]["n_moved_bucket16"] == moved
