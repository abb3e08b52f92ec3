"""Regression pins for the round-10 ADVICE items closed in round 11.

1. scout_spark/inventory/text.py — lm_kn3_heldout_doc_score orders
   with F.asc_nulls_last('avg_lnp'): avg_lnp is NULL for an all-OOV
   held-out doc (n_scored=0), Spark's plain asc is NULLS FIRST while
   the DuckDB oracle's ORDER BY avg_lnp ASC is NULLS LAST — plain asc
   would flip the top-20 the day a regenerated corpus produces a
   fully-OOV held-out doc. Pinned here on an all-OOV fixture AND on
   the raw DuckDB NULL-ordering semantics.
2. bench.py / operators/sketches.py comment+docstring items carry no
   runtime behavior (no pin needed).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from scout_spark.inventory.text import kn3_doc_trigrams, kn3_model, kn3_score_per_doc


def test_duckdb_asc_is_nulls_last():
    # The oracle-side premise: DuckDB ORDER BY x ASC sorts NULLs LAST.
    rows = duckdb.sql(
        "SELECT x FROM (VALUES (NULL), (1.0), (2.0)) t(x) ORDER BY x ASC"
    ).fetchall()
    assert [r[0] for r in rows] == [1.0, 2.0, None]


def test_kn3_all_oov_doc_sorts_last(spark):
    train = spark.createDataFrame(
        [(i, "the cat sat on the mat and the cat ran") for i in range(4)],
        "doc_id long, text string",
    )
    held = spark.createDataFrame(
        [
            # scored doc: trigrams seen in train -> avg_lnp non-NULL
            (100, "the cat sat on the mat"),
            # all-OOV doc: every trigram unseen token -> n_scored=0,
            # avg_lnp NULL (the entry KEEPS OOV columns by design)
            (101, "zz yy xx ww vv uu"),
        ],
        "doc_id long, text string",
    )
    model = kn3_model(kn3_doc_trigrams(train))
    scores = kn3_score_per_doc(kn3_doc_trigrams(held), model)
    got = (
        scores.orderBy(F.asc_nulls_last("avg_lnp"), "doc_id")
        .select("doc_id", "n_scored", "avg_lnp")
        .collect()
    )
    assert [r.doc_id for r in got] == [100, 101]
    assert got[0].avg_lnp is not None
    assert got[1].n_scored == 0 and got[1].avg_lnp is None
    # and the trap itself: plain asc would put the NULL first
    trap = scores.orderBy(F.asc("avg_lnp"), "doc_id").collect()
    assert trap[0].doc_id == 101
