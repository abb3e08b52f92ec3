"""Round-9 ADVICE closures — regression pins.

Each test pins one of the round-8 advisor findings so the fix can't
silently regress:

- embedding_neardup_pairs must DROP null-labeled vectors (the oracle's
  ``a.label = b.label`` equi-join semantics), not pair them up as a
  pandas group.
- the multimodal decode and shot-boundary entries must exclude non-ASCII documents
  identically on both engines (chars == bytes checked precondition),
  so a regenerated corpus containing non-ASCII text cannot silently
  diverge byte-sum signatures from code-point oracles.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_neardup_null_labels_never_pair(spark):
    """Two identical vectors sharing only a NULL label must produce no
    pair — groupBy would have bucketed them together before the fix."""
    from scout_spark.inventory.vector import _NEARDUP_THRESHOLD, _neardup_label_kernel

    df = spark.createDataFrame(
        [
            (1, None, [1.0, 0.0, 0.0]),
            (2, None, [1.0, 0.0, 0.0]),
            (3, "a", [0.0, 1.0, 0.0]),
            (4, "a", [0.0, 1.0, 0.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    pairs = (
        df.where(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(
            _neardup_label_kernel,
            "vec_a bigint, vec_b bigint, cos_raw double",
        )
        .where(F.col("cos_raw") > _NEARDUP_THRESHOLD)
        .collect()
    )
    got = {(r.vec_a, r.vec_b) for r in pairs}
    assert got == {(3, 4)}, got


def test_multimodal_ascii_filter_excludes_identically(spark, tmp_path):
    """A non-ASCII doc long enough to pass the frame-count filter must
    be dropped by BOTH the Spark entry and its oracle (here: the
    filter expressions agree), while an equal-length ASCII doc stays."""
    import duckdb

    ascii_text = "a" * 200
    uni_text = "é" * 200  # 200 chars, 400 UTF-8 bytes
    df = spark.createDataFrame(
        [(1, ascii_text), (2, uni_text)], "doc_id long, text string"
    )
    kept_spark = {
        r.doc_id
        for r in df.where(
            F.length("text") == F.octet_length("text")
        ).collect()
    }
    con = duckdb.connect()
    kept_duck = {
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM (VALUES (1, ?), (2, ?)) t(doc_id, text) "
            "WHERE length(text) = strlen(text)",
            [ascii_text, uni_text],
        ).fetchall()
    }
    assert kept_spark == kept_duck == {1}
