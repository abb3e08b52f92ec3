"""Ground-truth test for the shot-boundary entry (planted payload with
hand-computed frame signatures)."""

import os

from pyspark.sql import functions as F

from scout_spark.inventory.multimodal import multimodal_shot_boundaries


def test_shot_boundaries_hand_computed(spark, tmp_path):
    td = str(tmp_path)
    # doc 1: three 64-byte frames — 64x'a' (sig 97*64=6208),
    # 64x'a' (6208, jump 0 -> no cut), 64x'z' (122*64=7808,
    # jump 1600 > 200 -> cut). shots = 2, max jump 1600.
    d1 = "a" * 64 + "a" * 64 + "z" * 64
    # doc 2: two identical frames -> 0 boundaries, 1 shot
    d2 = "b" * 128
    # doc 3: too short (one frame) -> excluded
    d3 = "c" * 64
    rows = [(1, d1), (2, d2), (3, d3)]
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(td, "documents.parquet"))
    out = multimodal_shot_boundaries(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_media"] == 2
    assert r["total_frames"] == 5
    assert r["total_shots"] == 3  # doc1: 2 shots, doc2: 1
    assert r["avg_shots_per_media"] == 1.5
    assert r["max_abs_jump"] == 1600


def test_padding_waste_hand_computed(spark, tmp_path):
    import os

    td = str(tmp_path)
    # 64 docs, lengths alternating 1 and 5 tokens by doc_id: arrival
    # batches (2 x 32) each mix lengths -> max 5, waste (5*32-96)=64
    # per batch = 128 total; length-sorted batches are uniform ->
    # waste 0, reduction 1.0
    rows = []
    for i in range(64):
        text = f"t{i}" if i % 2 == 0 else f"t{i} xx yy zz qq"
        rows.append((i, text))
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(td, "documents.parquet"))
    from scout_spark.inventory.curation import audit_padding_waste_bucketed

    r = audit_padding_waste_bucketed(spark, td).collect()[0]
    assert r["n_docs"] == 64
    assert r["tokens_total"] == 32 * 1 + 32 * 5
    assert r["n_batches"] == 2
    assert r["waste_arrival"] == 128
    assert r["waste_bucketed"] == 0
    assert r["waste_reduction"] == 1.0
    assert r["pad_ratio_arrival"] == round(128 / (128 + 192), 6)
    assert r["pad_ratio_bucketed"] == 0.0


def test_decode_pnm_parses_real_format():
    """The PNM decoder is a REAL parser: magic, comment-tolerant
    header, maxval widths, truncation detection."""
    import numpy as np
    import pytest as _pt

    from scout_spark.operators.multimodal import decode_pnm, pnm_raster

    px = bytes(range(2 * 3 * 3))  # 3x2 RGB
    assert decode_pnm(b"P6\n3 2\n255\n" + px) == (3, 2, 3)
    # comments and odd whitespace inside the header are legal PNM
    assert decode_pnm(b"P6 # wide\n # c2\n 3\t2 # d\n255\n" + px) == (3, 2, 3)
    # grayscale P5
    assert decode_pnm(b"P5\n4 2\n255\n" + bytes(8)) == (4, 2, 1)
    # 16-bit maxval needs 2 bytes per sample
    assert decode_pnm(b"P5\n2 2\n65535\n" + bytes(8)) == (2, 2, 1)
    with _pt.raises(ValueError):
        decode_pnm(b"P6\n3 2\n255\n" + px[:-1])  # truncated plane
    with _pt.raises(ValueError):
        decode_pnm(b"JFIF....")  # wrong magic
    img = pnm_raster(b"P6\n3 2\n255\n" + px)
    assert img.shape == (2, 3, 3) and img[0, 0, 0] == 0 and img[1, 2, 2] == 17
    img16 = pnm_raster(b"P5\n2 1\n65535\n" + np.array([65535, 256], dtype=">u2").tobytes())
    assert img16.shape == (1, 2, 1) and list(img16.ravel()) == [255, 1]


def test_decode_pnm_entry_roundtrip(spark, tmp_path):
    import os

    td = str(tmp_path)
    rows = [(1, "hello world"), (14, "x")]  # w=4+1%13=5,h=3+7%11=10 ; w=4+1,h=3+(98%11)
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.parquet(os.path.join(td, "documents.parquet"))
    from scout_spark.inventory.multimodal import multimodal_decode_pnm_real

    r = multimodal_decode_pnm_real(spark, td).collect()[0]
    w1, h1 = 4 + 1 % 13, 3 + (1 * 7) % 11
    w2, h2 = 4 + 14 % 13, 3 + (14 * 7) % 11
    assert r["n_images"] == 2
    assert r["total_pixels"] == w1 * h1 + w2 * h2
    assert r["max_width"] == max(w1, w2)
    assert r["max_height"] == max(h1, h2)
    hdr = lambda w, h: len(f"P6\n{w} {h}\n255\n")
    assert r["total_bytes"] == (
        hdr(w1, h1) + w1 * h1 * 3 + hdr(w2, h2) + w2 * h2 * 3
    )
    assert r["n_rgb"] == 2
