"""Streaming cross-video keyframe dedup — incremental ingest probe.

The batch inventory's dedup_video_keyframe_phash (inventory/multimodal.py)
band-blocks WHT keyframe hashes and joins buckets across the whole
corpus. At ingest time the question inverts: a STREAM of newly arrived
videos probes the already-indexed corpus for shot-level near
duplicates — the minhash_probe pattern (operators/dedup.py:634) on the
video family. The keyframe kernel is a ``mapInPandas`` stage, legal on
streaming frames; the index side is a static frame, so the bucket join
is a stream-static equi-join; the hamming verify is pure-Column
bit_count. Every piece is the batch entry's code (keyframe_band_index /
keyframe_probe below are shared by both paths), so the drained stream
equals the batch probe row-for-row — asserted in
tests/test_r9_ops.py::test_keyframe_probe_stream_equals_batch.

100 TB: the index is (band, bucket, media, shot, ph) — shots-sized,
bucketed by (band, bucket); each micro-batch shuffles only its own
keyframes; no stream-stream join, no watermark state (the index is
static per ingest epoch, rebuilt by the batch path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scout_spark.inventory.multimodal import (  # noqa: F401 — re-exported
    KF_HAM,
    keyframe_band_index,
)


def keyframe_probe(
    incoming_sigs: DataFrame, index: DataFrame, max_hamming: int = KF_HAM
) -> DataFrame:
    """Probe incoming keyframe signatures (batch OR streaming frame)
    against a static banded index: bucket equi-join, bit_count verify,
    per-(incoming, indexed) media pair match counts. Distinct-free so
    it streams: band-duplicate candidates collapse via min(hamming) +
    distinct shot pairs being counted once per band — callers on the
    batch path dedup with groupBy, the streaming path aggregates in
    complete mode over the same keys."""
    a = keyframe_band_index(incoming_sigs).alias("a")
    b = index.alias("b")
    ham = F.bit_count(
        F.col("a.ph").bitwiseXOR(F.col("b.ph"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") != F.col("b.media_id")),
        )
        .where(ham <= max_hamming)
        .groupBy(
            F.col("a.media_id").alias("incoming_media"),
            F.col("b.media_id").alias("indexed_media"),
            F.col("a.shot_id").alias("incoming_shot"),
            F.col("b.shot_id").alias("indexed_shot"),
        )
        .agg(F.min(ham).alias("hamming"))
    )


__all__ = ["keyframe_band_index", "keyframe_probe"]
