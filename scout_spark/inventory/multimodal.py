"""Multimodal operators: frame sampling and decoding, audio energy, shot
boundaries and perceptual-hash dedup over synthetic media rows.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.inventory import register
from scout_spark.inventory.common import table, wide_table


@register(
    "multimodal_decode_stats",
    "Multimodal pipeline surfaced to the driver: documents' text bytes "
    "packed as opaque binary blobs (the production path ingests real "
    "media bytes), decoded via the Arrow mapInPandas stage "
    "(operators/multimodal.py — deterministic fake codec, REAL batch "
    "iteration/schema/explode plumbing), then per-channel-count "
    "aggregate stats. Rows-only: sha-derived fake dimensions aren't "
    "oracle-expressible; ground truth pinned in tests/test_multimodal.py.",
    tags=("rows-only",),
)
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.multimodal import decode_media, pack_blobs

    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"), "lang"
    )
    blobs = pack_blobs(d, "doc_id", "payload", kind="image", source_col="lang")
    decoded = decode_media(blobs)
    return (
        decoded.groupBy("channels")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.round(F.avg("width"), 4).alias("avg_width"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
        )
        .orderBy("channels")
    )


# ----------------------------------------- video frame sampling


@register(
    "multimodal_frame_sample_rollup",
    "Video frame sampling surfaced to the driver: documents' bytes "
    "packed as opaque video-kind blobs with PER-MEDIA declared frame "
    "counts (1 + doc_id % 12 — doc_id % 20 is the source index on "
    "this corpus, so % 12 varies WITHIN sources), frame-sampled "
    "through the ROW-EXPANDING mapInPandas stage (operators/"
    "multimodal.py::sample_frames — deterministic fake frame decode, "
    "REAL Arrow batch iteration / explode-shape / schema plumbing), "
    "then a per-media rollup (frame count, distinct checksums, max "
    "index). Converted from rows-only in r11 (VERDICT r10 item 5) by "
    "the decode_pnm oracle-PREDICTS discipline: the kernel's frame "
    "indices are pure integer arithmetic over declared_frames "
    "(step = max(d div 4, 1); indices = range(0, min(d, 4*step), "
    "step)), which the oracle re-derives in SQL, and the per-media "
    "distinct-checksum count equals the frame count because sha256 "
    "is injective on the distinct (payload, frame_index) inputs — a "
    "collision would be a break of sha256 itself. The driver hash "
    "therefore checks the REAL kernel loop, not a fixture. Kernel "
    "ground truth also pinned in tests/test_multimodal.py. 100 TB: "
    "the expansion factor is the frame sample rate (bounded per "
    "blob), and the rollup combines map-side.",
    oracle="""
      WITH m AS (
        SELECT doc_id, 1 + doc_id % 12 AS d FROM documents
      ),
      f AS (
        SELECT doc_id,
               greatest(d // 4, 1) AS step,
               least(d, 4 * greatest(d // 4, 1)) AS lim
        FROM m
      ),
      per AS (
        SELECT doc_id,
               (lim + step - 1) // step AS nf,
               ((lim + step - 1) // step - 1) * step AS mfi
        FROM f
      )
      SELECT nf::BIGINT AS n_frames,
             mfi::BIGINT AS max_frame_index,
             count(*)::BIGINT AS n_media,
             sum(nf)::BIGINT AS total_distinct_frames
      FROM per
      GROUP BY 1, 2
      ORDER BY 1, 2
    """,
)
def multimodal_frame_sample_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.multimodal import pack_blobs, sample_frames

    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"), "lang"
    )
    blobs = pack_blobs(
        d, "doc_id", "payload", kind="video", source_col="lang"
    ).withColumn(
        "meta",
        F.struct(
            F.col("meta.source").alias("source"),
            (F.lit(1) + F.pmod(F.col("media_id"), F.lit(12)))
            .cast("int")
            .alias("declared_frames"),
        ),
    )
    frames = sample_frames(blobs, n_frames=4)
    per_media = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.count_distinct("frame_checksum").cast("long").alias(
            "n_distinct_frames"
        ),
        F.max("frame_index").cast("long").alias("max_frame_index"),
    )
    return (
        per_media.groupBy("n_frames", "max_frame_index")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("n_distinct_frames").cast("long").alias(
                "total_distinct_frames"
            ),
        )
        .orderBy("n_frames", "max_frame_index")
    )


# ------------------------------------------- audio energy profile

_AE_WIN = 256


@register(
    "multimodal_audio_energy_windows",
    "Audio feature extraction surfaced to the driver — per-window "
    "signal energy over 8-bit PCM (the VAD/silence-trim primitive), "
    "computed in a numpy-vectorized Arrow mapInPandas kernel on the "
    "REAL payload bytes, and — uniquely in the multimodal family — "
    "ORACLE-BACKED: every intermediate is dyadic-exact ((b-128)^2 "
    "sums are integers < 2^53, window means divide by the power-of-"
    f"two {_AE_WIN}, and partial sums of those means stay exact "
    "multiples of 1/256 far below 2^53), so numpy's pairwise "
    "summation and DuckDB's sequential sum agree BIT-FOR-BIT and "
    "the SQL twin recomputes the kernel from ord() code points. "
    "Docs shorter than one window are excluded identically. "
    "100 TB: Arrow batches in, one map-side-combinable per-source "
    "rollup out.",
    oracle=f"""
      WITH b AS (
        SELECT source, doc_id, text,
               (length(text) // {_AE_WIN})::INT AS n
        FROM documents WHERE length(text) >= {_AE_WIN}
      ),
      w AS (
        SELECT source, doc_id, n, unnest(range(0, n)) AS wi, text
        FROM b
      ),
      e AS (
        SELECT source, doc_id, n,
               list_sum(list_transform(range(1, {_AE_WIN} + 1),
                 i -> (ascii(substr(text, (wi * {_AE_WIN})::INT + i, 1))
                       - 128.0) ^ 2)) / {_AE_WIN} AS energy
        FROM w
      ),
      per AS (
        SELECT source, doc_id, max(n) AS n_windows,
               sum(energy) / max(n) AS mean_energy,
               max(energy) AS peak_energy
        FROM e GROUP BY source, doc_id
      )
      SELECT source, count(*)::BIGINT AS n_media,
             sum(n_windows)::BIGINT AS total_windows,
             round(avg(mean_energy), 6) AS avg_mean_energy,
             round(max(peak_energy), 6) AS max_peak_energy
      FROM per GROUP BY source
      ORDER BY source
    """,
)
def multimodal_audio_energy_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.multimodal import audio_energy, pack_blobs

    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"), "source"
    )
    blobs = pack_blobs(
        d, "doc_id", "payload", kind="audio", source_col="source"
    )
    feats = audio_energy(blobs, window_bytes=_AE_WIN).where(
        F.col("n_windows") > 0
    )
    src = d.select(F.col("doc_id").alias("media_id"), "source")
    return (
        feats.join(src, "media_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("n_windows").cast("long").alias("total_windows"),
            F.round(F.avg("mean_energy"), 6).alias("avg_mean_energy"),
            F.round(F.max("peak_energy"), 6).alias("max_peak_energy"),
        )
        .orderBy("source")
    )


# Round-7 oracle twins for the last convertible rows-only families
# (VERDICT r06 items 2 and 4): Borůvka MST and multimodal frame sampling.
#
# Both follow the proven engine-exactness disciplines:
#
# - ``graph_mst_boruvka_unrolled_twin``: Borůvka is deterministic given a
#   TOTAL edge order ((w, src, dst) ties — exactly the order
#   operators/mst.py uses and tests/test_graph.py pins against Kruskal),
#   so a fixed number of rounds unrolls into a DuckDB CTE chain (the BPE
#   unrolled-twin discipline, bpe_train_merges_unrolled). Per round the oracle selects
#   each component's minimum incident cross edge via the established
#   lex-argmin-packed-int64 kernel, breaks the per-group 2-cycle at the
#   smaller label (the classic pointer-structure argument: keys strictly
#   decrease along selection pointers, so each merge group has exactly
#   ONE 2-cycle, at its minimum edge), and contracts with a recursive
#   pointer-chase CTE. Extra rounds past convergence are no-ops (no
#   cross edges → empty selection → labels unchanged), so a fixed unroll
#   ≥ log2(|V|) is exact. Component LABELS differ between engines
#   (Spark's driver union-find roots vs the oracle's pointer roots) but
#   the selected edge set depends only on the node PARTITION, which
#   evolves identically — the forests are equal edge-for-edge.
# - ``multimodal_frame_sample_md5_twin``: the frame-sampling plumbing
#   (operators/multimodal.py::sample_frames — row-expanding mapInPandas)
#   re-run with an INJECTED md5 checksum kernel whose preimage is
#   VARCHAR-expressible (DuckDB's sha256 is VARCHAR-only, so the
#   production sha-over-raw-bytes default stays rows-only; md5 over
#   ``text || '|' || frame_index`` hashes identical UTF-8 bytes on both
#   engines — the md5-twin discipline of the dedup md5 twins). Per-document
#   declared_frames (1 + length % 12) varies the sampled index set
#   {step·j : step·j < min(d, 4·step)}, step = max(d // 4, 1), so the
#   rollup pins the expansion shape, not a constant.

# ------------------------------------- frame-sample md5 twin

_FS_NFRAMES = 4
_FS_DECL_MOD = 12  # declared_frames = 1 + length(text) % 12 ∈ [1, 12]


def _fs_twin_oracle() -> str:
    return f"""
      WITH f AS (
        SELECT doc_id, coalesce(text, '') AS text,
               1 + (length(coalesce(text, '')) % {_FS_DECL_MOD}) AS d
        FROM documents
      ),
      s AS (
        SELECT doc_id, text, d,
               greatest(d // {_FS_NFRAMES}, 1) AS step
        FROM f
      ),
      frames AS (
        SELECT s.doc_id, (s.step * g.j)::BIGINT AS fi,
               md5(s.text || '|' || (s.step * g.j)::VARCHAR) AS ck
        FROM s CROSS JOIN generate_series(0, {_FS_NFRAMES - 1}) g(j)
        WHERE s.step * g.j < least(s.d, {_FS_NFRAMES} * s.step)
      ),
      per AS (
        SELECT doc_id, count(*)::BIGINT AS n_frames,
               count(DISTINCT ck)::BIGINT AS n_distinct,
               max(fi)::BIGINT AS max_fi,
               min(ck) AS mn, max(ck) AS mx
        FROM frames GROUP BY doc_id
      )
      SELECT n_frames, max_fi AS max_frame_index,
             count(*)::BIGINT AS n_media,
             sum(n_distinct)::BIGINT AS total_distinct_frames,
             min(mn) AS min_checksum, max(mx) AS max_checksum
      FROM per GROUP BY n_frames, max_fi
      ORDER BY n_frames, max_fi
    """


@register(
    "multimodal_frame_sample_md5_twin",
    "Oracle-exact frame-sampling twin (VERDICT r06 item 4): the "
    "multimodal_frame_sample_rollup plumbing — pack text bytes as "
    "video-kind blobs, row-expanding mapInPandas frame sampler "
    "(operators/multimodal.py::sample_frames) — re-run with (a) "
    "per-document declared_frames = 1 + length(text) % 12 so the "
    "sampled index set {step·j < min(d, 4·step)} actually varies, and "
    "(b) an injected md5 checksum over text||'|'||frame_index, the "
    "VARCHAR-expressible md5-twin preimage (DuckDB sha256 is "
    "VARCHAR-only; the production sha-over-raw-bytes default stays in "
    "the rows-only entry). Rollup by (n_frames, max_frame_index) with "
    "min/max checksum per group VALUE-PINNING the per-frame digests "
    "cross-engine, not just their counts. 100 TB: expansion factor "
    "bounded by the sample rate; rollup combines map-side; the Arrow "
    "kernel is batch-columnar, no per-row Python outside the sampler.",
    oracle=_fs_twin_oracle(),
)
def multimodal_frame_sample_md5_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.multimodal import sample_frames

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    blobs = d.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("documents").alias("source"),
            (F.lit(1) + F.length("text") % _FS_DECL_MOD)
            .cast("int")
            .alias("declared_frames"),
        ).alias("meta"),
    )

    def _md5_ck(payload: bytes, fi: int) -> str:
        return hashlib.md5(
            payload + b"|" + str(fi).encode()
        ).hexdigest()

    frames = sample_frames(
        blobs, n_frames=_FS_NFRAMES, checksum_fn=_md5_ck
    )
    per = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.count_distinct("frame_checksum").cast("long").alias(
            "n_distinct"
        ),
        F.max("frame_index").cast("long").alias("max_frame_index"),
        F.min("frame_checksum").alias("mn"),
        F.max("frame_checksum").alias("mx"),
    )
    return (
        per.groupBy("n_frames", "max_frame_index")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("n_distinct").cast("long").alias(
                "total_distinct_frames"
            ),
            F.min("mn").alias("min_checksum"),
            F.max("mx").alias("max_checksum"),
        )
        .orderBy("n_frames", "max_frame_index")
    )


# --------------------------------- image perceptual-hash dedup

_PH_BANDS = 4
_PH_BANDW = 16
_PH_HAM = 3  # pigeonhole: <= 3 differing bits over 4 bands => a band matches


def _phash_oracle() -> str:
    """63-bit Walsh–Hadamard sign hash + band-blocked Hamming pairs.

    The raster is the deterministic fake image decode recomputed from
    unicode code points (the audio-energy ord() discipline): pixel
    p[k] = code point of the character at 1 + k·stride, stride =
    max(len // 64, 1). The transform is the 8×8 WHT — the integer-
    exact stand-in for pHash's DCT (same sign-of-low-frequency-
    coefficient construction; WHT-based perceptual hashes are the
    standard integer variant) — with sign s_u(i) = (-1)^popcount(u&i).
    Bit (u·8+v)−1 of the hash is [c_uv > 0], DC (0,0) excluded so the
    hash fits 63 bits (bit 63 would overflow BIGINT <<).
    """
    return f"""
      WITH d AS (
        SELECT doc_id, coalesce(text, '') AS t,
               length(coalesce(text, '')) AS n
        FROM documents
      ),
      px AS (
        SELECT d.doc_id, g.k AS k,
          CASE WHEN 1 + (g.k * greatest(d.n // 64, 1)) <= d.n
               THEN unicode(substr(d.t, 1 + (g.k * greatest(d.n // 64, 1)), 1))
               ELSE 0 END AS p
        FROM d CROSS JOIN generate_series(0, 63) g(k)
      ),
      sgn AS (
        SELECT u.u, v.v, g.k,
               (1 - 2 * (bit_count((u.u & (g.k // 8))::BIGINT) % 2))
             * (1 - 2 * (bit_count((v.v & (g.k % 8))::BIGINT) % 2)) AS s
        FROM generate_series(0, 7) u(u),
             generate_series(0, 7) v(v),
             generate_series(0, 63) g(k)
      ),
      coef AS (
        SELECT px.doc_id, sgn.u, sgn.v, sum(sgn.s * px.p)::BIGINT AS c
        FROM px JOIN sgn ON sgn.k = px.k
        GROUP BY px.doc_id, sgn.u, sgn.v
      ),
      h AS (
        SELECT doc_id,
               coalesce(sum(
                 CASE WHEN c > 0 AND u + v > 0
                      THEN (1::BIGINT << ((u * 8 + v) - 1))
                      ELSE 0 END), 0)::BIGINT AS ph
        FROM coef GROUP BY doc_id
      ),
      bands AS (
        SELECT doc_id, ph, g.i AS band,
               ((ph >> (16 * g.i)) & 65535) AS bv
        FROM h CROSS JOIN generate_series(0, {_PH_BANDS - 1}) g(i)
      )
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.ph, b.ph))::BIGINT AS hamming
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.ph, b.ph)) <= {_PH_HAM}
      ORDER BY doc_a, doc_b
    """


def _phash_udf():
    """Arrow-batched 63-bit WHT perceptual hash (created lazily — a
    pandas_udf return type needs an active session to parse; pandas/
    numpy imported at module level so the type hints resolve under
    postponed annotations)."""
    hmat = np.array(
        [
            [1 - 2 * (bin(u & i).count("1") % 2) for i in range(8)]
            for u in range(8)
        ],
        dtype=np.int64,
    )
    weights = np.zeros(64, dtype=np.int64)
    weights[1:] = np.int64(1) << np.arange(0, 63, dtype=np.int64)

    @F.pandas_udf("long")
    def _ph(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for row, t in enumerate(texts):
            t = t or ""
            n = len(t)
            stride = max(n // 64, 1)
            px = np.zeros(64, dtype=np.int64)
            for k in range(64):
                pos = k * stride  # 0-based == SQL's 1-based 1+k*stride
                if pos < n:
                    px[k] = ord(t[pos])
            c = hmat @ px.reshape(8, 8) @ hmat
            bits = (c > 0).ravel()
            bits[0] = False  # DC excluded — 63-bit hash
            out[row] = int((bits * weights).sum())
        return pd.Series(out)

    return _ph


@register(
    "dedup_image_phash_wht_pairs",
    "Image perceptual-hash near-duplicate pairs (VERDICT r06 item 7a): "
    "a 63-bit Walsh–Hadamard sign hash over the deterministic fake "
    "8×8 raster (code points sampled at stride len//64 — the "
    "multimodal fake-decode contract; WHT is the integer-exact "
    "stand-in for pHash's DCT, same sign-of-coefficient bits, "
    "ord()-recomputable in SQL like the audio-energy twin), then the "
    "proven simhash machinery: 4×16-bit band blocking (pigeonhole-"
    "lossless for hamming <= 3) and a bucket EQUI-JOIN carrying both "
    "hashes so bit_count verifies inside codegen. The hash kernel is "
    "an Arrow pandas_udf (numpy 8×8 matmuls per batch — per-row-heavy "
    "work on the sanctioned slow path; production swaps the fake "
    "raster for a real image decode behind the same signature). "
    "100 TB: shuffles only (doc_id, band, bucket, hash); never "
    "all-pairs; bucket skew bounded by near-identical-raster cluster "
    "size (measured max bucket 3 at sf0.01).",
    oracle=_phash_oracle(),
)
def dedup_image_phash_wht_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    ph = _phash_udf()
    # lazy localCheckpoint: the optimizer inlines the Arrow-UDF hash
    # into BOTH the band-explode Generate and the carrying projection
    # on EACH join side (4 ArrowEvalPython kernels measured; a
    # repartition barrier did NOT stop it — projects collapse through
    # RepartitionByExpression). Materializing the narrow (doc_id, ph)
    # frame runs the kernel exactly once; bench lists this entry in
    # E2E_REBUILD so the checkpoint compute stays inside the timed
    # fresh build (the CC/pagerank discipline).
    sigs = d.select(
        "doc_id",
        ph(F.coalesce(F.col("text"), F.lit(""))).alias("ph"),
    ).localCheckpoint(eager=False)
    banded = sigs.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("ph"), b * _PH_BANDW)
                        .bitwiseAND(F.lit((1 << _PH_BANDW) - 1))
                        .alias("bv"),
                    )
                    for b in range(_PH_BANDS)
                ]
            )
        ).alias("x"),
    ).select("doc_id", "ph", "x.band", "x.bv")
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("ph").alias("pa"),
        "band", "bv",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("ph").alias("pb"),
        "band", "bv",
    )
    ham = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        a.join(b, ["band", "bv"])
        .where((F.col("doc_a") < F.col("doc_b")) & (ham <= _PH_HAM))
        .select(
            "doc_a", "doc_b", ham.cast("long").alias("hamming")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


# Round-8 wave 4: video shot-boundary detection — the second
# oracle-backed multimodal entry (after audio energy, which proved the
# recipe: integer/dyadic-exact features on the REAL payload bytes make a
# mapInPandas Arrow kernel reproducible in DuckDB SQL via ord()).
#
# Prototype check (CLAUDE.md rule): at threshold 200 the detector fires
# on 238 of 1,601 frame transitions at sf0.01 — discriminative, neither
# vacuous nor saturated (T=100 -> 49%, T=500 -> 1 boundary).

_SB_FRAME = 64
_SB_THRESHOLD = 200


@register(
    "multimodal_shot_boundaries",
    "Video shot-boundary detection surfaced to the driver — per-frame "
    f"integer byte-sum signatures ({_SB_FRAME}-byte frames), a cut "
    f"wherever the adjacent-signature jump exceeds {_SB_THRESHOLD} "
    "(the histogram-difference detector video-curation pipelines use "
    "to pick representative frames), rolled up per source. Computed "
    "in a numpy Arrow mapInPandas kernel on the REAL payload bytes "
    "(operators/multimodal.py::shot_boundaries — production swaps in "
    "a real frame decode behind the same signature) and ORACLE-BACKED "
    "because every intermediate is an int64 (order-exact regardless "
    "of numpy summation) which DuckDB recomputes from ord() code "
    "points. Media with fewer than 2 frames are excluded identically. "
    "100 TB: Arrow batches in, one map-side-combinable per-source "
    "rollup out — the audio-energy plan shape.",
    oracle=f"""
      WITH b AS (
        -- length(text) = strlen(text) is the checked ASCII
        -- precondition (ADVICE r08): the engine side hashes UTF-8
        -- BYTES while ascii(substr()) reads CODE POINTS — the two
        -- agree exactly on the docs this filter keeps, and non-ASCII
        -- docs are excluded IDENTICALLY on both sides instead of
        -- silently diverging
        SELECT source, doc_id, text,
               (length(text) // {_SB_FRAME})::INT AS n
        FROM documents WHERE length(text) >= {2 * _SB_FRAME}
          AND length(text) = strlen(text)
      ),
      f AS (
        SELECT source, doc_id, n, unnest(range(0, n)) AS fi, text
        FROM b
      ),
      s AS (
        SELECT source, doc_id, n, fi,
               list_sum(list_transform(range(1, {_SB_FRAME} + 1),
                 i -> ascii(substr(text, (fi * {_SB_FRAME})::INT + i, 1))
               ))::BIGINT AS fs
        FROM f
      ),
      d AS (
        SELECT source, doc_id, n,
               abs(fs - lag(fs) OVER (
                 PARTITION BY doc_id ORDER BY fi)) AS jump
        FROM s
      ),
      per AS (
        SELECT source, doc_id, max(n) AS n_frames,
               (sum(CASE WHEN jump > {_SB_THRESHOLD} THEN 1 ELSE 0 END)
                + 1)::BIGINT AS shots,
               max(jump)::BIGINT AS max_jump
        FROM d GROUP BY source, doc_id
      )
      SELECT source, count(*)::BIGINT AS n_media,
             sum(n_frames)::BIGINT AS total_frames,
             sum(shots)::BIGINT AS total_shots,
             round(avg(shots), 6) AS avg_shots_per_media,
             max(max_jump)::BIGINT AS max_abs_jump
      FROM per GROUP BY source
      ORDER BY source
    """,
)
def multimodal_shot_boundaries(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.multimodal import pack_blobs, shot_boundaries

    # chars == bytes pins the ASCII precondition the oracle checks
    # with length(text) = strlen(text) — see the oracle comment
    d = (
        wide_table(spark, sf_dir, "documents")
        .where(F.length("text") == F.octet_length("text"))
        .select(
            "doc_id",
            F.encode(F.col("text"), "UTF-8").alias("payload"),
            "source",
        )
    )
    blobs = pack_blobs(
        d, "doc_id", "payload", kind="video", source_col="source"
    )
    feats = shot_boundaries(
        blobs, frame_bytes=_SB_FRAME, threshold=_SB_THRESHOLD
    ).where(F.col("n_frames") >= 2)
    src = d.select(F.col("doc_id").alias("media_id"), "source")
    return (
        feats.join(src, "media_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.sum("n_frames").cast("long").alias("total_frames"),
            F.sum("shots").cast("long").alias("total_shots"),
            F.round(F.avg("shots"), 6).alias("avg_shots_per_media"),
            F.max("max_abs_jump").cast("long").alias("max_abs_jump"),
        )
        .orderBy("source")
    )


# ----------------------------------------- REAL-codec PNM decode


@register(
    "multimodal_decode_pnm_real",
    "Multimodal decode with a REAL injected codec — closes the 'the "
    "decode step is a stub' gap: deterministic binary P6 (Netpbm RGB) "
    "payloads are synthesized per document (header + text-derived "
    "sample plane, dimensions from doc_id arithmetic), and the Spark "
    "side PARSES them with the from-scratch binary-PNM decoder "
    "(operators/multimodal.py::decode_pnm — whitespace/comment-"
    "tolerant header scan + sample-plane length check) injected "
    "through the standard decode_media(decode_fn=...) seam. The "
    "oracle never parses: it independently PREDICTS what a correct "
    "decoder must return from the same construction arithmetic "
    "(width/height formulas, n_bytes = header length + w*h*3), so a "
    "wrong parse breaks the hash match. 100 TB: Arrow batches through "
    "one mapInPandas decode stage, per-source integer rollup — the "
    "decode_media plan shape with a real codec in the slot.",
    oracle="""
      WITH d AS (
        -- checked ASCII precondition (ADVICE r08): the engine builds
        -- the sample plane by CHARACTER repeat/substring then UTF-8
        -- encodes, so bytes == chars must hold for the predicted
        -- n_bytes to match the parse; non-ASCII docs are excluded
        -- identically on both sides
        SELECT source,
               4 + doc_id % 13 AS w,
               3 + (doc_id * 7) % 11 AS h
        FROM documents
        WHERE length(text) = strlen(text)
      )
      SELECT source,
             count(*)::BIGINT AS n_images,
             sum(w * h)::BIGINT AS total_pixels,
             max(w)::BIGINT AS max_width,
             max(h)::BIGINT AS max_height,
             sum(length('P6' || chr(10) || w || ' ' || h
                        || chr(10) || '255' || chr(10))
                 + w * h * 3)::BIGINT AS total_bytes,
             sum(CASE WHEN 3 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_rgb
      FROM d GROUP BY source
      ORDER BY source
    """,
)
def multimodal_decode_pnm_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.multimodal import decode_media, decode_pnm, pack_blobs

    # chars == bytes: the checked ASCII precondition (see oracle)
    d = wide_table(spark, sf_dir, "documents").where(
        F.length("text") == F.octet_length("text")
    )
    w = (4 + F.col("doc_id") % 13).cast("int")
    h = (3 + (F.col("doc_id") * 7) % 11).cast("int")
    # sample plane: the doc's (ASCII) text repeated out to w*h*3 bytes
    # — real bytes under the real header, so the parser exercises the
    # whole format; 'x' guard keeps repeat() defined on empty text
    body = F.expr(
        "substring(repeat(concat(text, 'x'), "
        "cast(ceil((wpx * hpx * 3) / (length(text) + 1)) as int) + 1), "
        "1, wpx * hpx * 3)"
    )
    payload = F.encode(
        F.concat(
            F.lit("P6\n"),
            F.col("wpx").cast("string"),
            F.lit(" "),
            F.col("hpx").cast("string"),
            F.lit("\n255\n"),
            body,
        ),
        "UTF-8",
    )
    blobs = pack_blobs(
        d.select(
            "doc_id", "text", "source", w.alias("wpx"), h.alias("hpx")
        ).withColumn("payload", payload),
        "doc_id",
        "payload",
        kind="image",
        source_col="source",
    )
    decoded = decode_media(blobs, decode_fn=decode_pnm)
    src = d.select(F.col("doc_id").alias("media_id"), "source")
    return (
        decoded.join(src, "media_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.sum(F.col("width") * F.col("height"))
            .cast("long")
            .alias("total_pixels"),
            F.max("width").cast("long").alias("max_width"),
            F.max("height").cast("long").alias("max_height"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum((F.col("channels") == 3).cast("long"))
            .cast("long")
            .alias("n_rgb"),
        )
        .orderBy("source")
    )


# ------------------------------------------ cross-video keyframe dedup

_KF_FRAME = 64
_KF_THRESHOLD = 200
_KF_BANDS = 4
KF_HAM = 3


def _keyframe_ctes() -> str:
    """The WITH body (shot detection + per-keyframe WHT hash +
    band-blocked candidate pairs) shared by the pair-level oracle and
    the r10 per-source dup-rate KPI oracle, so the two cannot diverge.
    Recomputed from code points (the audio-energy/pHash ord()
    discipline; every intermediate is int64). Keyframes are frame 0
    plus every frame whose signature jump exceeds the threshold —
    identical to the mapInPandas kernel by construction. The checked
    ASCII precondition (length = strlen) excludes non-ASCII docs
    identically on both engines (byte == code point only then)."""
    return f"""b AS (
        SELECT doc_id, text, (length(text) // {_KF_FRAME})::INT AS n
        FROM documents
        WHERE length(text) >= {_KF_FRAME}
          AND length(text) = strlen(text)
      ),
      f AS (
        SELECT doc_id, n, unnest(range(0, n)) AS fi, text FROM b
      ),
      s AS (
        SELECT doc_id, fi,
               list_sum(list_transform(range(1, {_KF_FRAME} + 1),
                 i -> ascii(substr(text, (fi * {_KF_FRAME})::INT + i, 1))
               ))::BIGINT AS fs
        FROM f
      ),
      j AS (
        SELECT doc_id, fi,
               abs(fs - lag(fs) OVER (
                 PARTITION BY doc_id ORDER BY fi)) AS jump
        FROM s
      ),
      kf AS (
        SELECT doc_id, fi,
               (row_number() OVER (
                  PARTITION BY doc_id ORDER BY fi) - 1)::INT AS shot_id
        FROM j WHERE fi = 0 OR jump > {_KF_THRESHOLD}
      ),
      px AS (
        SELECT kf.doc_id, kf.shot_id, g.k AS k,
               ascii(substr(b.text,
                            (kf.fi * {_KF_FRAME})::INT + g.k + 1, 1)) AS p
        FROM kf JOIN b USING (doc_id)
        CROSS JOIN generate_series(0, 63) g(k)
      ),
      sgn AS (
        SELECT u.u, v.v, g.k,
               (1 - 2 * (bit_count((u.u & (g.k // 8))::BIGINT) % 2))
             * (1 - 2 * (bit_count((v.v & (g.k % 8))::BIGINT) % 2)) AS s
        FROM generate_series(0, 7) u(u),
             generate_series(0, 7) v(v),
             generate_series(0, 63) g(k)
      ),
      coef AS (
        SELECT px.doc_id, px.shot_id, sgn.u, sgn.v,
               sum(sgn.s * px.p)::BIGINT AS c
        FROM px JOIN sgn ON sgn.k = px.k
        GROUP BY px.doc_id, px.shot_id, sgn.u, sgn.v
      ),
      h AS (
        SELECT doc_id, shot_id,
               coalesce(sum(
                 CASE WHEN c > 0 AND u + v > 0
                      THEN (1::BIGINT << ((u * 8 + v) - 1))
                      ELSE 0 END), 0)::BIGINT AS ph
        FROM coef GROUP BY doc_id, shot_id
      ),
      bands AS (
        SELECT doc_id, shot_id, ph, g.i AS band,
               ((ph >> (16 * g.i)) & 65535) AS bv
        FROM h CROSS JOIN generate_series(0, {_KF_BANDS - 1}) g(i)
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, a.shot_id AS sa,
               b.doc_id AS db, b.shot_id AS sb,
               bit_count(xor(a.ph, b.ph))::BIGINT AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ph, b.ph)) <= {KF_HAM}
      )"""


def _keyframe_oracle() -> str:
    return f"""
      WITH {_keyframe_ctes()}
      SELECT da AS media_a, db AS media_b,
             count(*)::BIGINT AS n_shared_keyframes,
             min(hamming)::BIGINT AS min_hamming
      FROM cand GROUP BY da, db
      ORDER BY media_a, media_b
    """


def keyframe_band_index(sigs: DataFrame) -> DataFrame:
    """(media_id, shot_id, ph) -> banded (media_id, shot_id, ph, band,
    bv) — the 4x16-bit band explode SHARED by the batch entry and the
    streaming ingest probe (streaming/keyframe.py), so the two paths
    cannot diverge."""
    return sigs.select(
        "media_id",
        "shot_id",
        "ph",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (
                            F.shiftright(F.col("ph"), 16 * i)
                            .bitwiseAND(F.lit(65535))
                        ).alias("bv"),
                    )
                    for i in range(_KF_BANDS)
                ]
            )
        ).alias("x"),
    ).select("media_id", "shot_id", "ph", "x.band", "x.bv")


def keyframe_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Banded keyframe candidate pairs (da, sa, db, sb, hamming) at
    hamming <= {KF_HAM} — the band-bucket equi-join SHARED by the
    pair-level dedup entry and the r10 per-source dup-rate KPI (and
    matching the `cand` CTE in _keyframe_ctes), so engine and oracle
    pair semantics live in exactly one place each."""
    banded = keyframe_band_index(sigs)
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(
        F.col("a.ph").bitwiseXOR(F.col("b.ph"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .where(ham <= KF_HAM)
        .select(
            F.col("a.media_id").alias("da"),
            F.col("a.shot_id").alias("sa"),
            F.col("b.media_id").alias("db"),
            F.col("b.shot_id").alias("sb"),
            ham.alias("hamming"),
        )
        .distinct()
    )


@register(
    "dedup_video_keyframe_phash",
    "Cross-video keyframe dedup — the composition a video-curation "
    "pipeline runs to find videos sharing near-identical shots: shot "
    "boundaries on the frame-signature stream (the r8 detector), the "
    "FIRST frame of each shot as its keyframe, a 63-bit WHT "
    "perceptual hash per keyframe (ONE batched numpy matmul per "
    f"Arrow batch), then the proven {_KF_BANDS}x16-bit band blocking "
    f"(pigeonhole-lossless for hamming <= {KF_HAM}) and a bucket "
    "equi-join; media pairs aggregate shared-keyframe counts. All "
    "intermediates int64 => bit-for-bit oracle-reproducible from "
    "code points; checked ASCII precondition on both engines. "
    "Prototyped before building: 724 keyframes, 42 keyframe pairs "
    "over 24 media pairs at sf0.01, max band bucket 3. 100 TB: one "
    "map-side kernel pass; shuffles carry only (media, shot, ph); "
    "never all-pairs — candidates are band-bucket-bounded exactly "
    "like the image pHash entry.",
    oracle=_keyframe_oracle(),
)
def dedup_video_keyframe_phash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.multimodal import (
        pack_blobs,
        shot_keyframe_hashes,
    )

    d = (
        wide_table(spark, sf_dir, "documents")
        .where(F.length("text") == F.octet_length("text"))
        .select(
            "doc_id",
            F.encode(F.col("text"), "UTF-8").alias("payload"),
            "source",
        )
    )
    blobs = pack_blobs(
        d, "doc_id", "payload", kind="video", source_col="source"
    )
    # lazy localCheckpoint: the same CollapseProject fence the image
    # pHash entry needs — without it the Arrow kernel re-runs in the
    # band-explode Generate and on each join side (r07 plan audit)
    sigs = shot_keyframe_hashes(
        blobs, frame_bytes=_KF_FRAME, threshold=_KF_THRESHOLD
    ).localCheckpoint(eager=False)
    cand = keyframe_candidate_pairs(sigs)
    return (
        cand.groupBy(
            F.col("da").alias("media_a"), F.col("db").alias("media_b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_keyframes"),
            F.min("hamming").cast("long").alias("min_hamming"),
        )
        .orderBy("media_a", "media_b")
    )


# ----------------------------- per-source keyframe dup-rate KPI


@register(
    "curation_keyframe_dup_rate_by_source",
    "Per-source video keyframe duplication KPI (VERDICT r09 item 5) — "
    "the number a video-data team acts on: for each source, how many "
    "of its media (videos with >= 1 keyframe) share a near-identical "
    "keyframe with ANY other media, and how many of those duplicate "
    "into a DIFFERENT source (cross-source redundancy is what "
    "source-level curation can actually deduplicate). Pairs come from "
    "the r09 keyframe machinery via the SHARED "
    "keyframe_candidate_pairs helper; the oracle shares the SAME "
    "_keyframe_ctes body as the pair entry, so KPI and pair semantics "
    "cannot diverge. dup_media_rate is one double division over "
    "identical integers, rounded 6dp. Prototyped: rates 0-0.2 across "
    "20 sources, 45 dup media / 43 cross-source at sf0.01. 100 TB: "
    "adds two media-keyed equi-joins and a 20-row rollup on top of "
    "the adjudicated pair plan; the source map is a slim (media_id, "
    "source) projection.",
    oracle=f"""
      WITH {_keyframe_ctes()},
      kstats AS (
        SELECT d.source, count(*)::BIGINT AS n_keyframes,
               count(DISTINCT h.doc_id)::BIGINT AS n_media
        FROM h JOIN documents d ON h.doc_id = d.doc_id GROUP BY 1
      ),
      dup AS (
        SELECT DISTINCT m, p FROM (
          SELECT da AS m, db AS p FROM cand
          UNION ALL SELECT db AS m, da AS p FROM cand)
      ),
      dupm AS (
        SELECT dup.m,
               max(CASE WHEN ds.source <> ps.source
                        THEN 1 ELSE 0 END) AS cross_f
        FROM dup
        JOIN documents ds ON dup.m = ds.doc_id
        JOIN documents ps ON dup.p = ps.doc_id
        GROUP BY dup.m
      ),
      dupstats AS (
        SELECT d.source, count(*)::BIGINT AS n_dup_media,
               sum(dupm.cross_f)::BIGINT AS n_dup_media_cross
        FROM dupm JOIN documents d ON dupm.m = d.doc_id GROUP BY 1
      )
      SELECT k.source, k.n_media, k.n_keyframes,
             coalesce(ds.n_dup_media, 0)::BIGINT AS n_dup_media,
             coalesce(ds.n_dup_media_cross, 0)::BIGINT
               AS n_dup_media_cross,
             round(coalesce(ds.n_dup_media, 0)::DOUBLE / k.n_media, 6)
               AS dup_media_rate
      FROM kstats k LEFT JOIN dupstats ds USING (source)
      ORDER BY k.source
    """,
)
def curation_keyframe_dup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.multimodal import (
        pack_blobs,
        shot_keyframe_hashes,
    )

    docs = table(spark, sf_dir, "documents")
    d = (
        wide_table(spark, sf_dir, "documents")
        .where(F.length("text") == F.octet_length("text"))
        .select(
            "doc_id",
            F.encode(F.col("text"), "UTF-8").alias("payload"),
            "source",
        )
    )
    blobs = pack_blobs(
        d, "doc_id", "payload", kind="video", source_col="source"
    )
    # same CollapseProject fence as the pair entry: without it the
    # Arrow kernel re-runs under the band-explode Generate and on
    # each join side
    sigs = shot_keyframe_hashes(
        blobs, frame_bytes=_KF_FRAME, threshold=_KF_THRESHOLD
    ).localCheckpoint(eager=False)
    src = docs.select(F.col("doc_id").alias("media_id"), "source")
    kstats = (
        sigs.join(src, "media_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keyframes"),
            F.countDistinct("media_id").cast("long").alias("n_media"),
        )
    )
    cand = keyframe_candidate_pairs(sigs)
    dup = (
        cand.select(F.col("da").alias("m"), F.col("db").alias("p"))
        .unionAll(
            cand.select(F.col("db").alias("m"), F.col("da").alias("p"))
        )
        .distinct()
    )
    dupm = (
        dup.join(
            src.select(
                F.col("media_id").alias("m"),
                F.col("source").alias("m_source"),
            ),
            "m",
        )
        .join(
            src.select(
                F.col("media_id").alias("p"),
                F.col("source").alias("p_source"),
            ),
            "p",
        )
        .groupBy("m", "m_source")
        .agg(
            F.max(
                F.when(
                    F.col("m_source") != F.col("p_source"), 1
                ).otherwise(0)
            ).alias("cross_f")
        )
    )
    dupstats = dupm.groupBy(F.col("m_source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_media"),
        F.sum("cross_f").cast("long").alias("n_dup_media_cross"),
    )
    return (
        kstats.join(dupstats, "source", "left")
        .select(
            "source",
            "n_media",
            "n_keyframes",
            F.coalesce(F.col("n_dup_media"), F.lit(0))
            .cast("long")
            .alias("n_dup_media"),
            F.coalesce(F.col("n_dup_media_cross"), F.lit(0))
            .cast("long")
            .alias("n_dup_media_cross"),
            F.round(
                F.coalesce(F.col("n_dup_media"), F.lit(0)).cast(
                    "double"
                )
                / F.col("n_media"),
                6,
            ).alias("dup_media_rate"),
        )
        .orderBy("source")
    )
