"""Vector search and embedding analytics over the embeddings table: exact
and approximate nearest neighbours (LSH, IVF, PQ, int8), clustering,
PCA and embedding drift. md5-seeded integer twins make the approximate
families oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.functions.vectors import cosine_similarity
from scout_spark.inventory import register
from scout_spark.inventory.common import QUERY_VEC_ID, table, wide_table


@register(
    "ann_cosine_topk_bruteforce",
    "Brute-force cosine top-k over the embedding column — the exact ANN "
    "baseline. The query vector is resolved at plan-build time (one "
    "pushed-down point lookup, the same driver-side parameter-resolve "
    "pattern as the IVF centroid sample; bench.py reports it in "
    "build_sec) and inlined as a literal, so execution is ONE job: a "
    "joinless scan with zip_with/aggregate dot products (JVM-side, no "
    "Python) into a TakeOrderedAndProject per-partition top-k merge. At "
    "100 TB the scan is embarrassingly parallel with no shuffle and no "
    "broadcast-build barrier.",
    oracle=f"""
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos_sim
      FROM embeddings e
      CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id = {QUERY_VEC_ID}) q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY cos_sim DESC, e.vec_id
      LIMIT 10
    """,
)
def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not qrows:
        # regenerated testdata without the probe id: the oracle's CROSS
        # JOIN over an empty query side returns no rows — degrade to
        # the same empty (not an IndexError at plan-build time)
        return e.where(F.lit(False)).select(
            "vec_id", "label", F.lit(0.0).alias("cos_sim")
        )
    qv = qrows[0][0]
    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            "label",
            F.round(
                cosine_similarity(F.col("embedding"), F.lit(qv)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


_NEARDUP_THRESHOLD = 0.30
# float64-BLAS-vs-sequential-fold disagreement is bounded by ~dims·eps
# relative (~1e-14 here); 1e-6 is a deep-margin candidate net — every
# candidate re-verifies with the EXACT sequential fold before output
_NEARDUP_MARGIN = 1e-6


def _neardup_label_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-label all-pairs cosine: one BLAS matmul proposes candidates
    above (threshold − margin); each candidate then recomputes cosine
    with the EXACT left-to-right double fold the previous pure-Column
    kernel used (Python float ops are IEEE double, so dot/norm/divide
    reproduce the JVM fold and DuckDB's sequential
    list_cosine_similarity bit-for-bit — the oracle is unchanged)."""
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy()
    rows = [np.asarray(v) for v in pdf["embedding"]]
    if len(rows) < 2:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_raw": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cos_raw": "float64"}
        )
    X = np.stack(rows).astype(np.float64)
    nrm = np.sqrt((X * X).sum(axis=1))
    G = X @ X.T
    den = np.outer(nrm, nrm)
    with np.errstate(divide="ignore", invalid="ignore"):
        C = np.where(den > 0, G / np.where(den > 0, den, 1.0), np.nan)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = C[iu, ju] > (_NEARDUP_THRESHOLD - _NEARDUP_MARGIN)
    out_a, out_b, out_c = [], [], []
    for i, j in zip(iu[keep], ju[keep]):
        a, b = rows[i], rows[j]
        dot = na = nb = 0.0
        for k in range(len(a)):
            x = float(a[k])
            y = float(b[k])
            dot += x * y
            na += x * x
            nb += y * y
        d = (na**0.5) * (nb**0.5)
        if d == 0.0:
            continue
        out_a.append(int(ids[i]))
        out_b.append(int(ids[j]))
        out_c.append(dot / d)
    return pd.DataFrame(
        {"vec_a": out_a, "vec_b": out_b, "cos_raw": out_c}
    ).astype({"vec_a": "int64", "vec_b": "int64", "cos_raw": "float64"})


@register(
    "embedding_neardup_pairs",
    "Embedding-cosine near-duplicate pairs, blocked by cluster label "
    "(filter-then-verify at n×m scale: the label blocking prunes the "
    "cross product; cosine verifies). Per-label all-pairs scoring runs "
    "as ONE BLAS matmul per block (the semdedup per-cluster kernel "
    "pattern — the r08 floor capture measured the earlier interpreted "
    "per-pair zip_with fold at 27× a single-thread DuckDB on identical "
    "work, re-evaluated 2× per pair by CollapseProject on top); "
    "candidates above (threshold − 1e-6) re-verify with the exact "
    "sequential double fold, so output values are bit-identical to the "
    "pure-Column kernel and the unchanged oracle. At 100 TB the label "
    "comes from LSH hyperplane signatures (see ann_lsh_bucketed) and "
    "each block is one task — never an all-pairs join row stream.",
    oracle="""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.30
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    pairs = (
        # NULL labels never pair: the oracle's a.label = b.label
        # equi-join drops them, but groupBy treats NULL as a real
        # group — pin the join semantics explicitly (ADVICE r08)
        e.where(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(
            _neardup_label_kernel,
            "vec_a bigint, vec_b bigint, cos_raw double",
        )
    )
    return pairs.where(F.col("cos_raw") > _NEARDUP_THRESHOLD).select(
        "vec_a",
        "vec_b",
        F.round(F.col("cos_raw"), 6).alias("cos_sim"),
    )


@register(
    "ann_lsh_bucketed",
    "LSH-bucketed approximate nearest neighbors — the 100 TB scale path: "
    "sign-of-projection onto deterministic pseudo-random hyperplanes "
    "(derived from dimension index arithmetic, no RNG state) buckets "
    "vectors; candidates share the query's bucket; exact cosine re-ranks "
    "within it. Recall vs brute force is pinned in tests/test_ann.py. "
    "Rows-only check: bucket membership isn't oracle-expressible.",
    tags=("rows-only",),
)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.ann import lsh_bucket_topk

    e = wide_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(e, query_vec_id=QUERY_VEC_ID, k=10, n_planes=4)


_LSH_MD5_PLANES = 4


def _lsh_md5_coef(plane: int, dim: int) -> int:
    """±1 hyperplane coefficient from md5 parity — md5 is md5 in every
    engine, so DuckDB's `('0x'||substr(md5(p||'_'||i),1,1))::INT % 2`
    reproduces this exactly (verified: md5('0_0')[0]='5' → -1)."""
    import hashlib

    return 1 if int(hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()[0], 16) % 2 == 0 else -1


def _lsh_md5_sig_sql(n_planes: int) -> str:
    """DuckDB bucket-id expression over `embedding` (cross-engine twin
    of the Spark kernel below). Projections use EXACT integer
    arithmetic — sum of ±floor(v*1e6) — so the sign is order-free and
    identical across engines (a double-sum dot product could flip sign
    near zero under different summation orders). Literal plane weights
    1/2/4/8, not shifts (DuckDB gives + higher precedence than <<)."""
    terms = []
    for p in range(n_planes):
        proj = (
            "list_sum(list_transform(range(0, len(embedding)), i -> "
            f"(CASE WHEN ('0x'||substr(md5({p} || '_' || i), 1, 1))::INT % 2 = 0 "
            "THEN 1 ELSE -1 END) * floor(embedding[i + 1]::DOUBLE * 1e6)::BIGINT))"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


@register(
    "ann_lsh_md5_bucketed",
    "LSH-bucketed ANN with a CROSS-ENGINE bucket kernel — the oracle-"
    "checked twin of ann_lsh_bucketed (whose fract(sin) hyperplanes "
    "are FP-fragile across engines): ±1 hyperplane coefficients from "
    "md5(plane_dim) parity, projections as EXACT integer sums of "
    "±floor(v*1e6) (order-free sign, no summation-order ULP risk), "
    "bucket = sign-bit integer. The query's bucket and vector resolve "
    "driver-side with the identical integer kernel, so execution is "
    "ONE joinless scan → bucket filter → exact cosine rerank → "
    "TakeOrderedAndProject, same 100 TB shape as the brute-force "
    "baseline but touching ~2^-planes of the corpus.",
    oracle=f"""
      WITH sigs AS (
        SELECT vec_id, embedding, {_lsh_md5_sig_sql(_LSH_MD5_PLANES)} AS bucket
        FROM embeddings
      ),
      q AS (
        SELECT embedding::DOUBLE[] AS qv, bucket AS qbucket
        FROM sigs WHERE vec_id = {QUERY_VEC_ID}
      )
      SELECT s.vec_id, s.bucket,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qv), 6)
               AS cos_sim
      FROM sigs s, q
      WHERE s.bucket = q.qbucket AND s.vec_id <> {QUERY_VEC_ID}
      ORDER BY cos_sim DESC, s.vec_id
      LIMIT 10
    """,
)
def ann_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not qrows:
        return e.where(F.lit(False)).select(
            "vec_id", F.lit(0).alias("bucket"), F.lit(0.0).alias("cos_sim")
        )
    qv = qrows[0][0]
    d = len(qv)
    coefs = [
        [_lsh_md5_coef(p, i) for i in range(d)] for p in range(_LSH_MD5_PLANES)
    ]
    qbucket = sum(
        (1 << p)
        for p in range(_LSH_MD5_PLANES)
        if sum(coefs[p][i] * math.floor(qv[i] * 1e6) for i in range(d)) >= 0
    )

    def _proj(p: int):
        # one array literal per plane, not |dim| py4j lit calls
        # (r12 plan-build chatter fix; ±1 ints -> ArrayType(LongType),
        # the cast("long") below was already the target type)
        cs = F.lit(coefs[p])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                cs,
                lambda v, c: c.cast("long")
                * F.floor(v.cast("double") * 1e6).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    bucket = sum(
        [
            F.when(_proj(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p in range(_LSH_MD5_PLANES)
        ],
        F.lit(0),
    )
    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            bucket.alias("bucket"),
            F.round(
                cosine_similarity(F.col("embedding"), F.lit(qv)), 6
            ).alias("cos_sim"),
        )
        .where(F.col("bucket") == qbucket)
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@register(
    "crossmodal_doc_embedding_join",
    "Cross-modal equi join: documents ⋈ embeddings on id, aggregating "
    "embedding L2 norms and doc lengths per language — the shape of a "
    "text+vector training-data pipeline stage (join key co-partitioning "
    "applies at 100 TB: both tables bucketed on the id).",
    oracle="""
      SELECT d.lang,
             count(*) AS n_docs,
             round(avg(sqrt(list_dot_product(e.embedding::DOUBLE[],
                                             e.embedding::DOUBLE[]))), 6)
               AS avg_l2_norm,
             round(avg(d.n_chars), 4) AS avg_chars
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      GROUP BY d.lang
    """,
)
def crossmodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.functions.vectors import l2_norm

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(l2_norm(F.col("embedding"))), 6).alias("avg_l2_norm"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "embedding_hashed_neardup",
    "Embedding-cosine near-dup WITHOUT precomputed vectors: documents "
    "are embedded on the fly with the deterministic feature-hashing "
    "trick (operators/embed.py — stable crc32 buckets, signed counts, "
    "L2 norm), then blocked by lang and verified by cosine. Rows-only: "
    "hashed embeddings are engine-defined; semantic ordering (near-dups "
    "above unrelated) is pinned in tests/test_operators.py.",
    tags=("rows-only",),
)
def embedding_hashed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.embed import embed_documents

    d = embed_documents(wide_table(spark, sf_dir, "documents"))
    a, b = d.alias("a"), d.alias("b")
    cos = cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(cos > 0.95)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


@register(
    "ann_ivf_topk",
    "IVF approximate nearest neighbors — the partition-pruned scale "
    "path: deterministic coarse centroids (hash-ranked sample standing "
    "in for k-means, TakeOrderedAndProject — no global sort, no count), "
    "fused numpy assign+cosine UDF over one joinless scan, probe cells "
    "filtered before the top-k merge. The prebuilt-index twin "
    "(ivf_build_index/ivf_probe, operators/ann.py) writes the "
    "assignment partitioned by centroid_id so a probe reads "
    "~nprobe/n_centroids of the table via PartitionFilters — physical "
    "pruning, proven in tests/test_operators.py. Rows-only; recall "
    "pinned vs brute force.",
    tags=("rows-only",),
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.ann import ivf_topk

    # table, not wide_table: the centroid sample + point lookup want the narrow
    # scan; the fused assign+cosine UDF runs once over a small table
    # (measured 0.25s -> 0.46s with the widening exchange)
    e = table(spark, sf_dir, "embeddings")
    return ivf_topk(e, query_vec_id=QUERY_VEC_ID, k=10, n_centroids=8, nprobe=2)


@register(
    "ann_int8_quantized_topk",
    "Int8 scalar-quantized cosine top-k (operators/quantize.py): "
    "symmetric absmax codes (scale from a deterministic 1/16 hash "
    "sample — no full pass, no global sort), 4x smaller vector payload, "
    "cosine computed directly on int8 with int32 accumulation in one "
    "numpy matmul per Arrow batch. Rows-only by design (quantization "
    "rounding is engine-specific); recall>=0.8 vs the float baseline "
    "pinned by tests/test_operators.py::test_int8_quantized_topk_recall.",
)
def ann_int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.quantize import (
        corpus_absmax,
        quantize_int8,
        quantized_topk,
    )

    e = wide_table(spark, sf_dir, "embeddings")
    scale = corpus_absmax(e)
    codes = quantize_int8(e, scale).select("vec_id", "code")
    qcode = codes.where(F.col("vec_id") == QUERY_VEC_ID).collect()[0]["code"]
    return quantized_topk(codes, qcode, k=10, exclude_id=QUERY_VEC_ID)


@register(
    "embedding_mean_pool_by_label",
    "Elementwise mean-pooling of embeddings per label (chunk-to-"
    "document pooling, the standard aggregation for long-doc "
    "embeddings): posexplode to (label, dim, value), one avg shuffle "
    "keyed on (label, dim) with map-side combine, then ordered "
    "re-assembly into a fixed-width array. Scale-safe: the shuffle "
    "carries scalars, never whole vectors, and skew is bounded by "
    "dim-fanout. Oracle rebuilds the same via index unnest + list(). "
    "The pooled vector is serialized as comma-joined micro-scaled "
    "integers (round(mv*1e6)::BIGINT) — the driver's canonicalizer "
    "sorts/hashes with pandas and cannot handle list cells, and "
    "integer serialization sidesteps double-rendering drift between "
    "engines.",
    oracle="""
      WITH x AS (
        SELECT label, unnest(range(1, len(embedding) + 1)) AS dim, embedding
        FROM embeddings
      ),
      v AS (
        SELECT label, dim, embedding[dim]::DOUBLE AS val FROM x
      ),
      m AS (
        SELECT label, dim, round(avg(val), 6) AS mv
        FROM v GROUP BY label, dim
      )
      SELECT label, count(*) AS n_dims,
             string_agg(round(mv * 1e6)::BIGINT::VARCHAR, ','
                        ORDER BY dim) AS pooled
      FROM m GROUP BY label
    """,
)
def embedding_mean_pool_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = wide_table(spark, sf_dir, "embeddings")
    v = e.select(
        "label", F.posexplode("embedding").alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), F.col("val").cast("double"))
    m = v.groupBy("label", "dim").agg(F.round(F.avg("val"), 6).alias("mv"))
    return m.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mv"))),
                lambda s: F.round(s.mv * 1e6, 0).cast("long").cast("string"),
            ),
            ",",
        ).alias("pooled"),
    )


@register(
    "ann_int8_codes_exact_topk",
    "Engine-exact int8 quantization twin (VERDICT r04 item 8: integer "
    "codes are engine-exact): symmetric absmax scalar quantization "
    "restated in pure SQL-expressible arithmetic — scale = corpus max "
    "|x| (exact double selection), code_i = sign(x) * "
    "min(floor(|x|/scale*127 + 0.5), 127) (floor on bit-identical "
    "IEEE doubles, so both engines emit the same int8 code arrays) — "
    "then top-10 by INTEGER dot product against the quantized query "
    "vector. Pins both the quantization kernel and integer ADC "
    "scoring that operators/quantize.py's numpy fast path implements "
    "(that one stays rows-only: np.rint rounds half-to-even). 100 TB: "
    "one scan for the scale agg (broadcast back), one joinless scoring "
    "scan into a per-partition top-k merge — same shape as the "
    "brute-force baseline with a 4x smaller payload.",
    oracle=f"""
      WITH s AS (
        SELECT max(list_max(list_transform(embedding, x -> abs(x::DOUBLE))))
               AS s
        FROM embeddings
      ),
      codes AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                 CASE WHEN x::DOUBLE >= 0
                      THEN least(floor(x::DOUBLE / s.s * 127.0 + 0.5),
                                 127)::BIGINT
                      ELSE -least(floor(-(x::DOUBLE) / s.s * 127.0 + 0.5),
                                  127)::BIGINT
                 END) AS code
        FROM embeddings, s
      ),
      q AS (SELECT code AS qc FROM codes WHERE vec_id = {QUERY_VEC_ID})
      SELECT c.vec_id,
             list_sum(list_transform(range(1, len(c.code) + 1),
                                     i -> c.code[i] * q.qc[i]))::BIGINT
               AS dot,
             array_to_string(c.code, ',') AS code_str
      FROM codes c, q
      WHERE c.vec_id <> {QUERY_VEC_ID}
      ORDER BY dot DESC, vec_id
      LIMIT 10
    """,
)
def ann_int8_codes_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = wide_table(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    scale = e.agg(F.max(absmax).alias("s"))

    def _one(x):
        xd = x.cast("double")
        cap = F.lit(127).cast("bigint")
        pos = F.least(F.floor(xd / F.col("s") * 127.0 + 0.5), cap)
        neg = -F.least(F.floor(-xd / F.col("s") * 127.0 + 0.5), cap)
        return F.when(xd >= 0, pos).otherwise(neg)

    codes = e.crossJoin(F.broadcast(scale)).select(
        "vec_id", F.transform("embedding", _one).alias("code")
    )
    q = codes.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("code").alias("qc")
    )
    dot = F.aggregate(
        F.zip_with("code", "qc", lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return (
        codes.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            dot.alias("dot"),
            F.array_join(
                F.transform("code", lambda c: c.cast("string")), ","
            ).alias("code_str"),
        )
        .orderBy(F.desc("dot"), "vec_id")
        .limit(10)
    )


# ------------------------------------- multiprobe filter-then-verify


def lsh_md5_bucket_col(dim: int, n_planes: int = _LSH_MD5_PLANES):
    """Spark Column: the engine-exact md5-parity LSH bucket of
    `embedding` (integer projections of ±floor(v*1e6), sign bits packed
    into an int). Shared by ann_lsh_md5_bucketed, the multiprobe entry,
    and the planted-fixture recall tests."""

    def _proj(p: int):
        # one array literal per plane (r12 plan-build chatter fix)
        cs = F.lit([_lsh_md5_coef(p, i) for i in range(dim)])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                cs,
                lambda v, c: c.cast("long")
                * F.floor(v.cast("double") * 1e6).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return sum(
        [
            F.when(_proj(p) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p in range(n_planes)
        ],
        F.lit(0),
    )


def lsh_md5_bucket_py(vec, n_planes: int = _LSH_MD5_PLANES) -> int:
    """Driver-side twin of lsh_md5_bucket_col (identical integer math)."""
    import math

    return sum(
        (1 << p)
        for p in range(n_planes)
        if sum(
            _lsh_md5_coef(p, i) * math.floor(float(v) * 1e6)
            for i, v in enumerate(vec)
        )
        >= 0
    )


def lsh_md5_multiprobe_topk(
    e: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """LSH multiprobe → exact-verify: candidates come from the query's
    bucket plus every Hamming-distance-1 neighbor bucket (5 of 16 probed
    at 4 planes — the standard multiprobe recall lever), then EXACT
    cosine re-ranks the candidate set. The query bucket and vector
    resolve driver-side, so execution is ONE joinless scan with an
    isin([5 ints]) filter — no broadcast barrier, ~5/16 of the corpus
    touched at 100 TB."""
    qrows = (
        e.where(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not qrows:
        return e.where(F.lit(False)).select(
            "vec_id", F.lit(0).alias("bucket"), F.lit(0.0).alias("cos_sim")
        )
    qv = qrows[0][0]
    qbucket = lsh_md5_bucket_py(qv)
    probes = [qbucket] + [qbucket ^ (1 << p) for p in range(_LSH_MD5_PLANES)]
    bucket = lsh_md5_bucket_col(len(qv))
    return (
        e.where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            bucket.alias("bucket"),
            F.round(
                cosine_similarity(F.col("embedding"), F.lit(qv)), 6
            ).alias("cos_sim"),
        )
        .where(F.col("bucket").isin(probes))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


@register(
    "ann_lsh_multiprobe_verified",
    "Filter-then-verify ANN, closing the loop the reference's "
    "architecture signature implies at similarity-search scale "
    "(VERDICT r04 item 9): the engine-exact md5-parity LSH bucket "
    "kernel generates CANDIDATES from the query's bucket plus all "
    "Hamming-1 neighbor buckets (multiprobe: 5 of 16 buckets, the "
    "recall lever that costs probes instead of planes), and exact "
    "cosine VERIFIES and re-ranks them. Oracle-backed end to end — "
    "bucket arithmetic is integer (order-free), cosine rounds at 6dp "
    "on both engines; recall==1.0 vs brute force on the planted "
    "fixture is pinned in tests/test_operators.py. 100 TB: one "
    "joinless scan, bucket filter on 5 literal ints, "
    "TakeOrderedAndProject top-k merge — no shuffle, no broadcast "
    "build.",
    oracle=f"""
      WITH sigs AS (
        SELECT vec_id, embedding, {_lsh_md5_sig_sql(_LSH_MD5_PLANES)} AS bucket
        FROM embeddings
      ),
      q AS (
        SELECT embedding::DOUBLE[] AS qv, bucket AS qbucket
        FROM sigs WHERE vec_id = {QUERY_VEC_ID}
      )
      SELECT s.vec_id, s.bucket,
             round(list_cosine_similarity(s.embedding::DOUBLE[], q.qv), 6)
               AS cos_sim
      FROM sigs s, q
      WHERE s.vec_id <> {QUERY_VEC_ID}
        AND bit_count(xor(s.bucket::BIGINT, q.qbucket::BIGINT)) <= 1
      ORDER BY cos_sim DESC, s.vec_id
      LIMIT 10
    """,
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return lsh_md5_multiprobe_topk(e, QUERY_VEC_ID, k=10)


# --------------------------------------- IVF cross-engine integer twin

_IVF_MD5_CELLS = 8
_IVF_MD5_NPROBE = 2


def _ivf_int_vec(vec) -> list[int]:
    """floor(v*1e6) integerization — identical to both engines' casts
    (float32 -> float64 -> *1e6 -> floor)."""
    import math

    return [math.floor(float(v) * 1e6) for v in vec]


@register(
    "ann_ivf_md5_integer_cells",
    "IVF ANN with a CROSS-ENGINE coarse quantizer — closes the last "
    "hash-twinnable similarity family (the r04 pattern: md5 + exact "
    "integers): centroids are the 8 vectors with smallest "
    "md5(vec_id) (engine-portable pseudo-random sample, the "
    "ivf_centroids stand-in for k-means), every vector assigns to its "
    "nearest centroid by EXACT INTEGER squared L2 on floor(v*1e6) "
    "coordinates (order-free, tie-break on cell id), the query probes "
    "its 2 nearest cells (resolved driver-side with the identical "
    "integer kernel), and exact cosine re-ranks the probed cells' "
    "members. The oracle reproduces centroid choice, assignment, "
    "probe, and rerank in SQL, so the hash match pins the FULL index "
    "path — the production variant (operators/ann.py ivf_assign) "
    "keeps its Arrow numpy matmul and stays rows-only. 100 TB: "
    "assignment is one scan against 8 broadcast literals (written "
    "partitioned by cell at index build); queries prune to nprobe "
    "cells.",
    oracle=f"""
      WITH iv AS (
        SELECT vec_id, embedding,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * 1e6)::BIGINT) AS q
        FROM embeddings
      ),
      cent AS (
        SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                 - 1 AS cid,
               q AS cv
        FROM iv ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {_IVF_MD5_CELLS}
      ),
      dist AS (
        SELECT iv.vec_id, c.cid,
               list_sum(list_transform(range(1, len(q) + 1),
                        i -> (q[i] - c.cv[i]) * (q[i] - c.cv[i]))) AS d
        FROM iv, cent c
      ),
      assign AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d, cid) AS rn
          FROM dist) _r
        WHERE rn = 1
      ),
      qprobe AS (
        SELECT cid FROM dist WHERE vec_id = {QUERY_VEC_ID}
        ORDER BY d, cid LIMIT {_IVF_MD5_NPROBE}
      ),
      qv AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id = {QUERY_VEC_ID}
      )
      SELECT e.vec_id, a.cid AS cell,
             round(list_cosine_similarity(e.embedding::DOUBLE[], qv.qv), 6)
               AS cos_sim
      FROM embeddings e
      JOIN assign a ON a.vec_id = e.vec_id
      JOIN qprobe p ON a.cid = p.cid
      CROSS JOIN qv
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY cos_sim DESC, e.vec_id
      LIMIT 10
    """,
)
def ann_ivf_md5_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    e = table(spark, sf_dir, "embeddings")
    crows = (
        e.select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("_hk"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .orderBy("_hk", "vec_id")
        .limit(_IVF_MD5_CELLS)
        .collect()
    )
    if not crows:
        return e.where(F.lit(False)).select(
            "vec_id",
            F.lit(0).alias("cell"),
            F.lit(0.0).alias("cos_sim"),
        )
    cents = [(cid, _ivf_int_vec(r["v"])) for cid, r in enumerate(crows)]
    qrows = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not qrows:
        return e.where(F.lit(False)).select(
            "vec_id",
            F.lit(0).alias("cell"),
            F.lit(0.0).alias("cos_sim"),
        )
    qv = qrows[0][0]
    qi = _ivf_int_vec(qv)
    qdists = sorted(
        (sum((a - b) ** 2 for a, b in zip(qi, cv)), cid)
        for cid, cv in cents
    )
    probe = [cid for _, cid in qdists[:_IVF_MD5_NPROBE]]

    # assignment kernel: Arrow numpy int64 (the interpreted 8-fold HOF
    # formulation measured 2.08 s vs 0.6 s at sf0.1 — CLAUDE.md rule:
    # numpy for per-row-heavy kernels). np.floor on float64 == SQL
    # floor; int64 squared sums are exact (<= 64 * (2e6)^2 ~ 2.6e14);
    # np.argmin returns the FIRST minimum, i.e. the lowest cid on ties
    # — the same order the oracle's ORDER BY d, cid picks.
    cmat = np.array([cv for _, cv in cents], dtype=np.int64)

    @F.pandas_udf("int")
    def _cell(col: pd.Series) -> pd.Series:
        m = np.stack(col.values).astype(np.float64)
        q = np.floor(m * 1e6).astype(np.int64)
        d = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    # referenced by both the probe filter and the projection — the
    # optimizer inlines a deterministic UDF into each reference (2x
    # kernel, r7 plan audit); the nondeterministic marker is a pure
    # optimizer fence (the function itself is deterministic)
    _cell = _cell.asNondeterministic()

    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            _cell(F.col("embedding").cast("array<double>")).alias("cell"),
            F.round(
                cosine_similarity(F.col("embedding"), F.lit(qv)), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cell").isin(probe))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@register(
    "kmeans_lloyd_round_integer_stats",
    "One Lloyd iteration of k-means with ENGINE-EXACT sufficient "
    "statistics — the cross-engine twin of the kmeans operator's "
    "update step (operators/kmeans.py stays rows-only: its float "
    "centroid means are summation-order-sensitive): starting from the "
    "8 md5-ordered seed centroids (the IVF twin's coarse sample), "
    "every vector assigns by exact int64 squared L2 on floor(v*1e6) "
    "coordinates, and the UPDATE is reported as integer sufficient "
    "stats — member count, the sum of every integer coordinate, and "
    "a dim-weighted checksum — i.e. the numerators of the new "
    "centroids, exact before the one division a float centroid would "
    "need. Pins init + assignment + update aggregation bit-for-bit. "
    "100 TB: one scan against 8 broadcast literals into a "
    "map-side-combined groupBy — the canonical distributed-Lloyd "
    "round with the driver holding only k x dim scalars.",
    oracle=f"""
      WITH iv AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * 1e6)::BIGINT) AS q
        FROM embeddings
      ),
      cent AS (
        SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                 - 1 AS cid,
               q AS cv
        FROM iv ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {_IVF_MD5_CELLS}
      ),
      dist AS (
        SELECT iv.vec_id, iv.q, c.cid,
               list_sum(list_transform(range(1, len(q) + 1),
                        i -> (q[i] - c.cv[i]) * (q[i] - c.cv[i]))) AS d
        FROM iv, cent c
      ),
      assign AS (
        SELECT vec_id, q, cid FROM (
          SELECT vec_id, q, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d, cid) AS rn
          FROM dist) _r
        WHERE rn = 1
      )
      SELECT cid AS cluster,
             count(*)::BIGINT AS n_members,
             sum(list_sum(q))::BIGINT AS coord_mass,
             sum(list_sum(list_transform(range(1, len(q) + 1),
                                         i -> i * q[i])))::BIGINT
               AS dim_weighted_checksum
      FROM assign GROUP BY cid ORDER BY cid
    """,
)
def kmeans_lloyd_round_integer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    crows = (
        e.select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("_hk"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .orderBy("_hk", "vec_id")
        .limit(_IVF_MD5_CELLS)
        .collect()
    )
    if not crows:
        return e.where(F.lit(False)).select(
            F.lit(0).alias("cluster"),
            F.lit(0).cast("bigint").alias("n_members"),
            F.lit(0).cast("bigint").alias("coord_mass"),
            F.lit(0).cast("bigint").alias("dim_weighted_checksum"),
        )
    cents = [(cid, _ivf_int_vec(r["v"])) for cid, r in enumerate(crows)]
    cmat = np.array([cv for _, cv in cents], dtype=np.int64)

    @F.pandas_udf("int")
    def _cell(col: pd.Series) -> pd.Series:
        m = np.stack(col.values).astype(np.float64)
        q = np.floor(m * 1e6).astype(np.int64)
        d = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1e6).cast("long"),
    )
    coord_mass = F.aggregate(
        F.col("_q"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    # single-parameter HOF lambda rule (CLAUDE.md): the dim index comes
    # from zip_with against a literal 1..d ramp, not a 2-arg transform
    ramp = F.array(
        *[F.lit(i + 1).cast("long") for i in range(len(cents[0][1]))]
    )
    weighted = F.aggregate(
        F.zip_with(F.col("_q"), ramp, lambda x, i: x * i),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        e.select(
            _cell(F.col("embedding").cast("array<double>")).alias(
                "cluster"
            ),
            q.alias("_q"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(coord_mass).alias("coord_mass"),
            F.sum(weighted).alias("dim_weighted_checksum"),
        )
        .orderBy("cluster")
    )


# ------------------------------ PQ ADC cross-engine integer twin

_PQ_M = 4  # subspaces (64-dim embeddings -> 16 dims each)
_PQ_K = 8  # codebook entries per subspace


@register(
    "ann_pq_md5_integer_codes",
    "Product quantization with a CROSS-ENGINE codebook — closes the "
    "last rows-only similarity family that resisted twinning "
    "(operators/pq.py's float ADC hits np.rint half-to-even vs SQL "
    "round; this twin removes rounding entirely): the codebook per "
    "subspace is the 8 md5-ordered sample vectors SLICED to that "
    "subspace, every vector encodes as 4 codes by EXACT int64 "
    "squared L2 on floor(v*1e6) coordinates (argmin's first-minimum "
    "== the oracle's ORDER BY d, cid tie-break), the query's "
    "asymmetric-distance table (4x8 integers) resolves driver-side, "
    "and the top-10 rank by ADC distance is a joinless scan over the "
    "packed codes. The oracle reproduces codebook, encoding, and ADC "
    "lookup in SQL, so the hash match pins the FULL index path — "
    "operators/pq.py keeps the float production variant with its "
    "recall pytest. 100 TB: codes are 4 bytes/vector (16x compression "
    "at 64-dim float32); encoding is one scan against 8 broadcast "
    "literals; queries never touch raw vectors.",
    oracle=f"""
      WITH iv AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * 1e6)::BIGINT) AS q
        FROM embeddings
      ),
      cent AS (
        SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                 - 1 AS cid,
               q AS cv
        FROM iv ORDER BY md5(vec_id::VARCHAR), vec_id
        LIMIT {_PQ_K}
      ),
      subs AS (SELECT unnest(range(0, {_PQ_M})) AS m),
      dist AS (
        SELECT iv.vec_id, s.m, c.cid,
               list_sum(list_transform(range(1, 1 + len(iv.q) // {_PQ_M}),
                 i -> (iv.q[s.m * (len(iv.q) // {_PQ_M}) + i]
                       - c.cv[s.m * (len(iv.q) // {_PQ_M}) + i])
                    * (iv.q[s.m * (len(iv.q) // {_PQ_M}) + i]
                       - c.cv[s.m * (len(iv.q) // {_PQ_M}) + i]))) AS d
        FROM iv, cent c, subs s
      ),
      codes AS (
        SELECT vec_id, m, cid FROM (
          SELECT vec_id, m, cid,
                 row_number() OVER (PARTITION BY vec_id, m
                                    ORDER BY d, cid) AS rn
          FROM dist) _r
        WHERE rn = 1
      ),
      qd AS (SELECT m, cid, d FROM dist WHERE vec_id = {QUERY_VEC_ID})
      SELECT c.vec_id,
             sum(c.cid * CASE c.m WHEN 0 THEN 1 WHEN 1 THEN 8
                                  WHEN 2 THEN 64 ELSE 512 END)::BIGINT
               AS pq_code,
             sum(q.d)::BIGINT AS adc_dist
      FROM codes c JOIN qd q ON c.m = q.m AND c.cid = q.cid
      WHERE c.vec_id <> {QUERY_VEC_ID}
      GROUP BY c.vec_id
      ORDER BY adc_dist, c.vec_id
      LIMIT 10
    """,
)
def ann_pq_md5_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    crows = (
        e.select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("_hk"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .orderBy("_hk", "vec_id")
        .limit(_PQ_K)
        .collect()
    )
    qrows = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not crows or not qrows:
        return e.where(F.lit(False)).select(
            "vec_id",
            F.lit(0).cast("long").alias("pq_code"),
            F.lit(0).cast("long").alias("adc_dist"),
        )
    cint = np.array([_ivf_int_vec(r["v"]) for r in crows], dtype=np.int64)
    qi = np.array(_ivf_int_vec(qrows[0][0]), dtype=np.int64)
    dim = cint.shape[1]
    ds = dim // _PQ_M
    csub = cint.reshape(_PQ_K, _PQ_M, ds)  # (K, M, ds)
    qsub = qi.reshape(_PQ_M, ds)
    # the 4x8 asymmetric-distance table, exact int64, driver-resolved
    qd = ((qsub[:, None, :] - csub.transpose(1, 0, 2)) ** 2).sum(axis=2)
    pows = 8 ** np.arange(_PQ_M, dtype=np.int64)

    @F.pandas_udf("struct<pq_code: bigint, adc_dist: bigint>")
    def _enc(col: pd.Series) -> pd.DataFrame:
        m = np.stack(col.values).astype(np.float64)
        q = np.floor(m * 1e6).astype(np.int64).reshape(len(m), _PQ_M, ds)
        # (n, M, K) subspace distances; argmin's first-min == lowest cid
        d = ((q[:, :, None, :] - csub.transpose(1, 0, 2)[None, :, :, :]) ** 2).sum(
            axis=3
        )
        codes = np.argmin(d, axis=2)  # (n, M)
        adc = np.take_along_axis(
            np.broadcast_to(qd, (len(m), _PQ_M, _PQ_K)), codes[:, :, None], 2
        )[:, :, 0].sum(axis=1)
        packed = (codes * pows[None, :]).sum(axis=1)
        return pd.DataFrame({"pq_code": packed, "adc_dist": adc})

    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            _enc(F.col("embedding").cast("array<double>")).alias("s"),
        )
        .select("vec_id", F.col("s.pq_code").alias("pq_code"), F.col("s.adc_dist").alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


@register(
    "ann_ivf_kmeans_topk",
    "IVF ANN probed with TRAINED k-means centroids (operators/kmeans.py "
    "feeding operators/ann.py::ivf_topk) instead of the hash-ranked "
    "sample — the full production shape: Lloyd rounds give tighter "
    "cells, so the same nprobe reads fewer wrong-cell candidates. "
    "Rows-only (iterative training); recall vs brute force pinned in "
    "tests/test_kmeans.py.",
    tags=("rows-only",),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.ann import ivf_topk
    from scout_spark.operators.kmeans import kmeans_fit

    e = table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, k=8, n_iters=3)
    return ivf_topk(
        e, query_vec_id=100, k=10, nprobe=2, centroid_matrix=cents
    )


@register(
    "kmeans_cluster_profile",
    "Distributed Lloyd's k-means over the embedding column (operators/"
    "kmeans.py) — the TRAINED coarse quantizer the IVF index's hash-"
    "sampled stand-in defers to. Per iteration: broadcast-closure numpy "
    "assignment (one matmul/argmax per Arrow batch), then a single "
    "groupBy with dim scalar avg() aggregates (JVM map-side partial "
    "agg — the shuffle carries k·dim partial sums, never vectors). "
    "Returns per-cluster sizes, mean intra-cluster cosine distance, and "
    "centroid L2 norm. Rows-only: the training loop is iterative "
    "(driver holds k·dim floats); determinism and inertia behavior "
    "pinned in tests/test_kmeans.py against an exact numpy replica.",
    tags=("rows-only",),
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from scout_spark.operators.kmeans import (
        kmeans_assign_with_distance,
        kmeans_fit,
    )

    e = table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(e, k=8, n_iters=4)
    assigned = kmeans_assign_with_distance(e, cents)
    norms = np.linalg.norm(cents, axis=1)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("cos_dist"), 6).alias("mean_intra_cosine_dist"),
        )
        .select(
            "cluster",
            "n_vectors",
            "mean_intra_cosine_dist",
            F.round(
                F.element_at(
                    F.array(*[F.lit(float(x)) for x in norms]),
                    F.col("cluster").cast("int") + 1,
                ),
                6,
            ).alias("centroid_l2_norm"),
        )
    )


@register(
    "embedding_dimension_profile",
    "Per-dimension feature profile of the embedding corpus (the sanity "
    "dashboard every vector pipeline runs before training an index: "
    "dead dimensions, scale drift, outlier coordinates): posexplode to "
    "(dim, value), one hash aggregate over 64 keys — map-side combine "
    "collapses the shuffle to 64 partial rows per task at any corpus "
    "size. Spark posexplode is 0-based; +1 aligns with the oracle's "
    "1-based generate_subscripts.",
    oracle="""
      WITH flat AS (
        SELECT generate_subscripts(embedding, 1) AS dim,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings
      )
      SELECT dim, count(*) AS n,
             round(avg(x), 6) AS mean_x,
             round(var_samp(x), 6) AS var_x,
             round(min(x), 6) AS min_x,
             round(max(x), 6) AS max_x
      FROM flat GROUP BY dim ORDER BY dim
    """,
)
def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        )
    ).select((F.col("pos") + 1).alias("dim"), "x")
    return (
        flat.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.var_samp("x"), 6).alias("var_x"),
            F.round(F.min("x"), 6).alias("min_x"),
            F.round(F.max("x"), 6).alias("max_x"),
        )
        .orderBy("dim")
    )


@register(
    "embedding_pca_label_scatter",
    "Distributed PCA (operators/pca.py): one mapInPandas pass computes "
    "the (n, Σx, ΣxxT) sufficient statistics as bounded per-partition "
    "partials, the driver eigendecomposes the 64×64 covariance (O(d³), "
    "corpus-size independent), and the projection is a vectorized "
    "pandas-UDF matmul. Output: per-label count and mean/stddev of the "
    "top-2 principal components — if the labels are real clusters, "
    "they separate in PC space. Rows-only: eigensolver internals are "
    "engine-specific; ground truth vs a dense numpy PCA is pinned in "
    "tests/test_graph.py.",
    tags=("rows-only",),
)
def embedding_pca_label_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.pca import fit_pca, project

    e = table(spark, sf_dir, "embeddings")
    mu, comps, ratio = fit_pca(e, "embedding", k=2)
    proj = project(e, mu, comps, "embedding")
    return (
        proj.select(
            "label",
            F.col("pc")[0].alias("pc1"),
            F.col("pc")[1].alias("pc2"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("pc1"), 4).alias("mean_pc1"),
            F.round(F.avg("pc2"), 4).alias("mean_pc2"),
            F.round(F.stddev_samp("pc1"), 4).alias("sd_pc1"),
            F.round(F.stddev_samp("pc2"), 4).alias("sd_pc2"),
        )
        .withColumn("explained_ratio_pc1", F.round(F.lit(float(ratio[0])), 4))
        .orderBy("label")
    )


@register(
    "ann_pq_adc_topk",
    "Product-quantized ANN with asymmetric distance computation "
    "(Jégou et al., TPAMI 2011; operators/pq.py) — the billion-vector "
    "production recipe: m=8 subspace codebooks (k=16, trained on a "
    "bounded deterministic driver sample, the faiss practice), corpus "
    "stored as 8 uint8 codes (32x payload cut at d=64), query scored "
    "via one (m x k) lookup table — a joinless codes scan into "
    "TakeOrderedAndProject, no float vector touched at query time. "
    "Rows-only: codebook contents are engine-specific; recall@50>=0.8 "
    "of the float brute-force top-10 (the shortlist a float-rerank "
    "stage would verify) is pinned in tests/test_graph.py.",
    tags=("rows-only",),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.pq import encode_pq, pq_topk, train_codebooks

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not qrows:
        return spark.createDataFrame(
            [], "vec_id long, adc_score double"
        )
    qv = np.array(qrows[0][0])
    books = train_codebooks(e, "embedding", m=8, k=16)
    codes = encode_pq(e, books, "embedding").select("vec_id", "code")
    return pq_topk(codes, qv, books, k_results=10, exclude_id=QUERY_VEC_ID)


@register(
    "ann_ivf_pq_topk",
    "IVF-PQ composite ANN (faiss IndexIVFPQ shape; operators/pq.py::"
    "ivf_pq_topk): coarse quantizer routes vectors to cells, corpus "
    "persists as m=8-byte PQ codes, the query probes nprobe=2 of 8 "
    "cells and ADC-scores only their codes — candidate-fraction and "
    "payload reductions COMPOSE (2/8 of the rows x 32x smaller each). "
    "Rows-only: codebooks and cell sample are engine-specific; "
    "recall and actual-pruning assertions are pinned in "
    "tests/test_graph.py.",
    tags=("rows-only",),
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.pq import ivf_pq_topk

    e = table(spark, sf_dir, "embeddings")
    topk, _diag = ivf_pq_topk(e, QUERY_VEC_ID, k_results=10)
    return topk


# ----------------------------------------------------------- ANN range


_RADIUS_QUERY_ID = 0
_RADIUS_MIN_COS = 0.25


@register(
    "ann_range_search_radius",
    "Range similarity search — ALL vectors within a cosine radius of "
    "the query (threshold 0.25), the dual of top-k ANN: dedup sweeps "
    "and policy filters want 'everything closer than r', not a fixed "
    "k. The query vector rides a broadcast 1-row crossJoin (lazy "
    "cursor — no build-time driver job), JVM-side zip_with dot "
    "product; the threshold test runs on the UNROUNDED similarity on "
    "both engines, so the predicate is the identical double comparison. "
    "100 TB: embarrassingly parallel scan with predicate selectivity "
    "doing the work of top-k's heap — pair with the IVF partition-"
    "pruned variant when the radius is tight.",
    oracle=f"""
      SELECT e.vec_id, e.label,
             round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
               AS cos_sim
      FROM embeddings e
      CROSS JOIN (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                  WHERE vec_id = {_RADIUS_QUERY_ID}) q
      WHERE e.vec_id <> {_RADIUS_QUERY_ID}
        AND list_cosine_similarity(e.embedding::DOUBLE[], q.qv)
            >= {_RADIUS_MIN_COS}
      ORDER BY cos_sim DESC, e.vec_id
    """,
)
def ann_range_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.functions.vectors import cosine_similarity

    e = table(spark, sf_dir, "embeddings")
    # lazy cursor resolution (ADVICE r04 d): the query vector rides a
    # broadcast 1-row crossJoin instead of a build-time collect(), so
    # queries() construction launches zero Spark jobs; a missing query
    # id yields an empty broadcast side and 0 rows — identical to the
    # oracle's empty-subquery semantics
    q = (
        e.where(F.col("vec_id") == _RADIUS_QUERY_ID)
        .select(F.col("embedding").cast("array<double>").alias("__qv"))
    )
    cos = cosine_similarity(F.col("embedding"), F.col("__qv"))
    return (
        e.where(F.col("vec_id") != _RADIUS_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .where(cos >= _RADIUS_MIN_COS)
        .select("vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
    )


# ----------------------------------------- embedding drift (centroids)


@register(
    "embedding_drift_centroid_shift",
    "Embedding distribution drift between two corpus snapshots "
    "(vec_id parity stands in for before/after): per-label centroids "
    "from ONE (label, half, dim) integer-count + double-sum "
    "aggregation over posexploded dims (dims bounded at 64 — the "
    "explode multiplies rows by a constant), then the L2 centroid "
    "shift per label with per-dim deltas rounded 9dp before the "
    "squared sum (one canonical FP order per dim on both engines, "
    "dim-indexed aggregation is order-free). The monitoring query "
    "every embedding pipeline runs on re-encode. 100 TB: map-side "
    "combine on (label, half, dim); output bounded by |labels|.",
    oracle="""
      WITH e AS (
        SELECT label, vec_id % 2 AS half,
               u.i - 1 AS dim, embedding[u.i]::DOUBLE AS v
        FROM embeddings,
             unnest(range(1, len(embedding) + 1)) u(i)
      ),
      c AS (
        SELECT label, half, dim,
               sum(v) / count(*) AS mu
        FROM e GROUP BY label, half, dim
      ),
      d AS (
        SELECT a.label, a.dim,
               round(a.mu - b.mu, 9) AS delta
        FROM c a JOIN c b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half = 0 AND b.half = 1
      )
      SELECT label,
             count(*)::BIGINT AS n_dims,
             round(sqrt(sum(delta * delta)), 6) AS centroid_shift_l2
      FROM d GROUP BY label ORDER BY label
    """,
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    c = e.groupBy("label", "half", "dim").agg(
        (F.sum("v") / F.count(F.lit(1))).alias("mu")
    )
    a = c.where(F.col("half") == 0).select(
        "label", "dim", F.col("mu").alias("mu_a")
    )
    b = c.where(F.col("half") == 1).select(
        F.col("label").alias("lb"),
        F.col("dim").alias("db"),
        F.col("mu").alias("mu_b"),
    )
    d = a.join(
        b, (a.label == b.lb) & (a.dim == b.db)
    ).select(
        "label", F.round(F.col("mu_a") - F.col("mu_b"), 9).alias("delta")
    )
    return (
        d.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.round(
                F.sqrt(F.sum(F.col("delta") * F.col("delta"))), 6
            ).alias("centroid_shift_l2"),
        )
        .orderBy("label")
    )


# ----------------------- ANN recall: quantized vs exact ranking

_RECALL_K = 10


@register(
    "ann_recall_eval_quantized_vs_exact",
    "ANN quality evaluation — recall@10 and Jaccard overlap of an "
    "UNNORMALIZED integer dot-product ranking (the floor(v*1e6) "
    "quantization every cross-engine ANN twin here uses) against the "
    "exact cosine ranking: the retrieval-metrics cousin of "
    "retrieval_eval_ndcg_mrr applied to the vector stack, and the "
    "measurement that justifies (or indicts) dropping normalization "
    "at index time. Both rankings are fully deterministic "
    "((rounded score, vec_id) orderings), so the overlap is "
    "oracle-checkable — unlike recall against a float index, which "
    "is rows-only. Query vector resolved at plan-build time "
    "(ann_cosine_topk_bruteforce pattern). 100 TB: two joinless "
    "TakeOrdered scans and a 10x10 intersection.",
    oracle=f"""
      WITH iv AS (
        SELECT vec_id, embedding,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * 1e6)::BIGINT) AS q
        FROM embeddings
      ),
      qv AS (
        SELECT embedding::DOUBLE[] AS v, q FROM iv
        WHERE vec_id = {QUERY_VEC_ID}
      ),
      exact AS (
        SELECT e.vec_id FROM iv e, qv
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[],
                                              qv.v), 6) DESC, e.vec_id
        LIMIT {_RECALL_K}
      ),
      approx AS (
        SELECT e.vec_id FROM iv e, qv
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY list_sum(list_transform(range(1, len(e.q) + 1),
                          i -> e.q[i] * qv.q[i])) DESC, e.vec_id
        LIMIT {_RECALL_K}
      ),
      common AS (
        SELECT count(*)::BIGINT AS n_common
        FROM exact JOIN approx USING (vec_id)
      )
      SELECT {_RECALL_K} AS k,
             n_common,
             round(n_common::DOUBLE / {_RECALL_K}, 6) AS recall_at_k,
             round(n_common::DOUBLE / (2 * {_RECALL_K} - n_common), 6)
               AS jaccard_at_k
      FROM common
    """,
)
def ann_recall_eval_quantized_vs_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    from scout_spark.functions.vectors import cosine_similarity

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not qrows:
        return e.where(F.lit(False)).select(
            F.lit(_RECALL_K).alias("k"),
            F.lit(0).cast("long").alias("n_common"),
            F.lit(0.0).alias("recall_at_k"),
            F.lit(0.0).alias("jaccard_at_k"),
        )
    qv = qrows[0][0]
    qint = [math.floor(x * 1e6) for x in qv]
    base = e.where(F.col("vec_id") != QUERY_VEC_ID)
    exact = (
        base.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.lit(qv)), 6
            ).alias("s"),
        )
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(_RECALL_K)
        .select("vec_id")
    )
    # integer dot product, JVM-side HOFs (bounded by dim=64 per row;
    # the production path uses the numpy matmul in operators/ann.py)
    # one array literal, not 64 py4j lit calls (r12 plan-build chatter
    # fix; Python ints infer ArrayType(LongType) — zip_with promotes
    # identically, values unchanged)
    qarr = F.lit([int(v) for v in qint])
    dot = F.expr(
        "aggregate(zip_with(transform(embedding,"
        " x -> cast(floor(cast(x as double) * 1e6) as bigint)), qarr,"
        " (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    )
    approx = (
        base.withColumn("qarr", qarr)
        .select("vec_id", dot.alias("d"))
        .orderBy(F.col("d").desc(), "vec_id")
        .limit(_RECALL_K)
        .select("vec_id")
    )
    common = exact.join(approx, "vec_id").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return common.select(
        F.lit(_RECALL_K).alias("k"),
        F.col("n_common").cast("long").alias("n_common"),
        F.round(F.col("n_common").cast("double") / _RECALL_K, 6).alias(
            "recall_at_k"
        ),
        F.round(
            F.col("n_common").cast("double")
            / (2 * _RECALL_K - F.col("n_common")),
            6,
        ).alias("jaccard_at_k"),
    )


# ------------------------------------------- centroid silhouette

_SIL_Q = 10_000  # quantization keeps the quadratic form in BIGINT range


@register(
    "embedding_centroid_silhouette",
    "Centroid-variant silhouette score per label — 'how separable is "
    "this labeling': s = (b - a)/max(a, b) with a = distance to own "
    "centroid, b = distance to the nearest other centroid (the "
    "linear-time variant of the quadratic classic; centroids include "
    "the point — documented variant). ENGINE-EXACT: vectors quantize "
    f"to floor(v*{_SIL_Q}), centroids stay RATIONAL (integer "
    "dim-sums S_d over count n, never a double mean), and the "
    "distance quadratic form n^2*d^2 = sum_d (n*q_d - S_d)^2 is pure "
    "BIGINT; only the final sqrt/division are doubles (IEEE ops are "
    "correctly rounded, hence bit-identical cross-engine — unlike "
    "exp/ln). 100 TB: centroids are one (label, dim) integer agg "
    "broadcast back; per-point work is |labels| quadratic forms, "
    "row-local.",
    oracle=f"""
      WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                              x -> floor(x::DOUBLE * {_SIL_Q})::BIGINT) AS q
        FROM embeddings
      ),
      flat AS (
        SELECT vec_id, label, unnest(q) AS v,
               unnest(range(1, len(q) + 1)) AS d
        FROM q
      ),
      cent AS (
        SELECT label AS clabel, d, sum(v)::BIGINT AS s,
               count(DISTINCT vec_id)::BIGINT AS n
        FROM flat GROUP BY label, d
      ),
      dist AS (
        SELECT f.vec_id, f.label, c.clabel,
               sqrt(sum((c.n * f.v - c.s) * (c.n * f.v - c.s))::DOUBLE)
                 / max(c.n) AS dist
        FROM flat f JOIN cent c USING (d)
        GROUP BY f.vec_id, f.label, c.clabel
      ),
      ab AS (
        SELECT vec_id, label,
               max(CASE WHEN label = clabel THEN dist END) AS a,
               min(CASE WHEN label <> clabel THEN dist END) AS b
        FROM dist GROUP BY vec_id, label
      )
      SELECT label, count(*)::BIGINT AS n_points,
             round(avg(CASE WHEN greatest(a, b) = 0 THEN 0.0
                       ELSE (b - a) / greatest(a, b) END), 6)
               AS mean_silhouette
      FROM ab GROUP BY label
      ORDER BY label
    """,
)
def embedding_centroid_silhouette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = wide_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding,"
            f" x -> cast(floor(cast(x as double) * {_SIL_Q}) as bigint))"
        ).alias("q"),
    )
    flat = q.select(
        "vec_id", "label", F.posexplode("q").alias("d", "v")
    )
    cent = flat.groupBy(F.col("label").alias("clabel"), "d").agg(
        F.sum("v").alias("s"),
        F.count_distinct("vec_id").alias("n"),
    )
    dist = (
        flat.join(F.broadcast(cent), "d")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            (
                F.sqrt(
                    F.sum(
                        (F.col("n") * F.col("v") - F.col("s"))
                        * (F.col("n") * F.col("v") - F.col("s"))
                    ).cast("double")
                )
                / F.max("n")
            ).alias("dist")
        )
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("label") == F.col("clabel"), F.col("dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("label") != F.col("clabel"), F.col("dist"))
        ).alias("b"),
    )
    # singleton-label guard (a = b = 0): classic silhouette defines
    # s = 0 there; an unguarded 0/0 would be NaN-vs-error cross-engine
    s = F.when(
        F.greatest(F.col("a"), F.col("b")) == 0, F.lit(0.0)
    ).otherwise(
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    )
    return (
        ab.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.avg(s), 6).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


@register(
    "embedding_quantization_distortion",
    "Int8 quantization DISTORTION audit — the storage-tradeoff number "
    "the ANN int8 family needs next to its recall: per-label "
    "reconstruction MSE, worst absolute error, and mean cosine "
    "similarity between each vector and its dequantized self. Codes "
    "use the SQL-expressible symmetric form of ann_int8_codes "
    "(sign * min(floor(|x|/s*127 + 0.5), 127) on the corpus-max "
    "scale — floor on bit-identical doubles, not np.rint's "
    "half-to-even); reconstruction c*s/127 and the error folds are "
    "sequential IEEE ops over 64 dims, identical on both engines, "
    "rounded 6dp after the per-label average. 100 TB: one scan for "
    "the scale (broadcast back), one joinless scan for the per-"
    "vector errors, one dimension-bounded agg.",
    oracle="""
      WITH s AS (
        SELECT max(list_max(list_transform(embedding,
                                           x -> abs(x::DOUBLE)))) AS s
        FROM embeddings
      ),
      per AS (
        SELECT e.label,
               list_sum(list_transform(e.embedding, x ->
                 (x::DOUBLE - (CASE WHEN x >= 0
                    THEN least(floor(x::DOUBLE / s.s * 127.0 + 0.5), 127)
                    ELSE -least(floor(-(x::DOUBLE) / s.s * 127.0 + 0.5),
                                127) END) * s.s / 127.0)
                 * (x::DOUBLE - (CASE WHEN x >= 0
                    THEN least(floor(x::DOUBLE / s.s * 127.0 + 0.5), 127)
                    ELSE -least(floor(-(x::DOUBLE) / s.s * 127.0 + 0.5),
                                127) END) * s.s / 127.0)))
                 / len(e.embedding) AS mse,
               list_max(list_transform(e.embedding, x ->
                 abs(x::DOUBLE - (CASE WHEN x >= 0
                    THEN least(floor(x::DOUBLE / s.s * 127.0 + 0.5), 127)
                    ELSE -least(floor(-(x::DOUBLE) / s.s * 127.0 + 0.5),
                                127) END) * s.s / 127.0))) AS maxerr
        FROM embeddings e, s
      )
      SELECT label, count(*)::BIGINT AS n_vectors,
             round(avg(mse), 6) AS avg_mse,
             round(max(maxerr), 6) AS max_abs_err
      FROM per GROUP BY label
      ORDER BY label
    """,
)
def embedding_quantization_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = wide_table(spark, sf_dir, "embeddings")
    s = e.agg(
        F.max(
            F.expr(
                "array_max(transform(embedding,"
                " x -> abs(cast(x as double))))"
            )
        ).alias("s")
    )
    recon_err = (
        "transform(embedding, x -> cast(x as double)"
        " - (CASE WHEN x >= 0"
        "    THEN least(floor(cast(x as double) / s * 127.0 + 0.5), 127)"
        "    ELSE -least(floor(-cast(x as double) / s * 127.0 + 0.5),"
        "                127) END) * s / 127.0)"
    )
    per = e.crossJoin(F.broadcast(s)).select(
        "label",
        F.expr(
            f"aggregate({recon_err}, cast(0.0 as double),"
            " (acc, d) -> acc + d * d) / size(embedding)"
        ).alias("mse"),
        F.expr(
            f"array_max(transform({recon_err}, d -> abs(d)))"
        ).alias("maxerr"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.avg("mse"), 6).alias("avg_mse"),
            F.round(F.max("maxerr"), 6).alias("max_abs_err"),
        )
        .orderBy("label")
    )


# ------------------ between-class scatter power-iteration twin

_PCA_SCALE = 1000  # q = floor(1000·x): exact on IEEE doubles
_PCA_VSCALE = 4096  # per-round renormalization target for |v|
_PCA_ROUNDS = 48  # eigengap ~0.80 on this corpus: 0.8^48 ≈ 2e-5


def _pca_twin_oracle(rounds: int = _PCA_ROUNDS) -> str:
    """Unrolled integer power iteration on the between-class (label)
    scatter of the quantized embeddings.

    The RAW covariance of this corpus is near-isotropic (λ2/λ1 ≈ 0.98
    at sf0.1 — power iteration cannot separate a top direction there;
    measured cos 0.01 after 64 rounds), but the label structure gives
    the between-class scatter a 0.80 eigengap at every sf. Integer
    form: d_l = n·S_l − n_l·S (= n·n_l·(μ_l − μ), BIGINT-exact), then
    B[i,j] = Σ_l sgn(d_l[i]d_l[j]) · (|d_l[i]d_l[j]| // (n·n_l)) —
    per-entry truncation ≤ |labels| absolute, relative ~1e-8. Each
    round: w = B·v, renormalize with the cross-engine-unambiguous
    sgn·(|w| // max(max|w| // VSCALE, 1)) (DuckDB ``//`` TRUNCATES
    while Python ``//`` floors — routing through abs makes them
    identical). Bounds measured on this corpus: |B| ≤ 8e8, |w| ≤
    1.5e13 ≪ 2⁶³; the Spark driver loop asserts the bound, DuckDB
    raises on overflow (loud either way). Direction == numpy's true
    top eigenvector of the float between-class scatter (cos = 1.0 at
    sf0.001/0.01/0.1, pinned in tests/test_graph.py).
    """
    parts = [
        f"""
      WITH flat AS MATERIALIZED (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS dim,
               floor(unnest(embedding)::DOUBLE * {_PCA_SCALE})::BIGINT AS q
        FROM embeddings
      ),
      nn AS (SELECT count(DISTINCT vec_id) AS n FROM flat),
      nl AS (
        SELECT label, count(DISTINCT vec_id) AS c FROM flat
        GROUP BY label
      ),
      sg AS MATERIALIZED (
        SELECT dim, sum(q)::BIGINT AS s FROM flat GROUP BY dim
      ),
      sl AS MATERIALIZED (
        SELECT label, dim, sum(q)::BIGINT AS s FROM flat
        GROUP BY label, dim
      ),
      dvec AS MATERIALIZED (
        SELECT sl.label, sl.dim,
               (nn.n * sl.s - nl.c * sg.s)::BIGINT AS d
        FROM sl CROSS JOIN nn
        JOIN nl USING (label)
        JOIN sg ON sg.dim = sl.dim
      ),
      bmat AS MATERIALIZED (
        SELECT a.dim AS i, b.dim AS j,
               sum(
                 (CASE WHEN a.d * b.d < 0 THEN -1 ELSE 1 END)
                 * (abs(a.d * b.d) // (nn.n * nl.c))
               )::BIGINT AS s
        FROM dvec a
        JOIN dvec b USING (label)
        JOIN nl USING (label)
        CROSS JOIN nn
        GROUP BY a.dim, b.dim
      ),
      v0 AS (SELECT dim AS i, 1::BIGINT AS v FROM sg)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
      w{r} AS MATERIALIZED (
        SELECT m.i, sum(m.s * v.v)::BIGINT AS w
        FROM bmat m JOIN v{r - 1} v ON v.i = m.j
        GROUP BY m.i
      ),
      d{r} AS (
        SELECT greatest(max(abs(w)) // {_PCA_VSCALE}, 1) AS d FROM w{r}
      ),
      v{r} AS MATERIALIZED (
        SELECT i,
               (CASE WHEN w < 0 THEN -1 ELSE 1 END)
               * (abs(w) // dd.d) AS v
        FROM w{r} CROSS JOIN d{r} dd
      )"""
        )
    parts.append(
        f"""
      SELECT v.i::BIGINT AS dim, v.v::BIGINT AS eigvec_q,
             m.s::BIGINT AS bscatter_diag
      FROM v{rounds} v JOIN bmat m ON m.i = v.i AND m.j = v.i
      ORDER BY dim"""
    )
    return "".join(parts)


@register(
    "pca_between_scatter_integer_twin",
    "Oracle-exact principal-direction twin for the last "
    "float-iterative rows-only family (embedding_pca_label_scatter "
    "stays the float production path): top eigendirection of the "
    "BETWEEN-CLASS label scatter via integer power iteration over "
    "floor(1000x) codes — the HITS scaled-integer-iteration "
    "discipline (the raw covariance is near-isotropic on this corpus "
    "and has no recoverable top direction; the label scatter has a "
    "0.80 eigengap, see oracle docstring). Spark runs the "
    "DISTRIBUTED integer moment pass (per-label and global per-dim "
    "sums — map-side combinable; at 100 TB this is the "
    "operators/pca.py sufficient-statistics shape) and contracts the "
    "dimension-bounded 64×64 scatter to the driver for 48 "
    "deterministic renormalized iterations (Python ints == BIGINT "
    "under the asserted no-overflow bound; k-means/MMR "
    "bounded-contraction precedent). Direction == numpy's float "
    "between-class top eigenvector, cos 1.0 at every sf (pinned in "
    "tests/test_graph.py).",
    oracle=_pca_twin_oracle(),
)
def pca_between_scatter_integer_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _PCA_SCALE).cast(
                    "bigint"
                ),
            )
        ).alias("pos", "q"),
    ).select(
        "vec_id", "label", (F.col("pos") + 1).alias("dim"), "q"
    )
    # ONE distributed moment pass: per-(label, dim) integer sums and
    # counts — |labels|×64 rows, dimension-bounded contraction. The
    # global sums, label counts, and n all derive from it exactly
    # (integer sums are order-independent), saving three extra jobs
    # that each paid the local job floor (2.2 s -> 1.2 s at sf0.1).
    sl_rows = (
        flat.groupBy("label", "dim")
        .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    )
    nl = {r["label"]: r["c"] for r in sl_rows if r["dim"] == 1}
    n = sum(nl.values())
    sg: dict[int, int] = {}
    for r in sl_rows:
        sg[r["dim"]] = sg.get(r["dim"], 0) + r["s"]
    dims = sorted(sg)
    dvec: dict[int, dict[int, int]] = {}
    for r in sl_rows:
        dvec.setdefault(r["label"], {})[r["dim"]] = (
            n * r["s"] - nl[r["label"]] * sg[r["dim"]]
        )
    b = {(i, j): 0 for i in dims for j in dims}
    for lab, d in dvec.items():
        den = n * nl[lab]
        for i in dims:
            di = d[i]
            for j in dims:
                p = di * d[j]
                b[(i, j)] += (-1 if p < 0 else 1) * (abs(p) // den)
    v = {i: 1 for i in dims}
    for _ in range(_PCA_ROUNDS):
        w = {i: sum(b[(i, j)] * v[j] for j in dims) for i in dims}
        for x in w.values():  # mirror DuckDB's loud overflow, not wrap
            if abs(x) >= 1 << 63:
                raise OverflowError(
                    "pca twin: |w| exceeds BIGINT — rescale "
                    "_PCA_VSCALE for this corpus size"
                )
        m = max(max(abs(x) for x in w.values()) // _PCA_VSCALE, 1)
        v = {
            i: (-1 if w[i] < 0 else 1) * (abs(w[i]) // m) for i in dims
        }
    rows = [(int(i), int(v[i]), int(b[(i, i)])) for i in dims]
    return spark.createDataFrame(
        rows, "dim bigint, eigvec_q bigint, bscatter_diag bigint"
    ).orderBy("dim")


# ---------------------------- MMR greedy unrolled integer twin

_MMR_POOL = 20
_MMR_PICKS = 5
# λ = 0.7 scaled by 10: score = 7·rel − 3·max_sim_to_selected
_MMR_WREL, _MMR_WSIM = 7, 3


def _mmr_twin_oracle(picks: int = _MMR_PICKS) -> str:
    """Unrolled greedy MMR over a deterministic top-{pool} candidate
    cut: pick r is ONE argmax CTE over the pool minus the selected
    set, scoring 7·rel − 3·max(dot to selected) in exact BIGINT
    (floor(1000x) codes; dot ≤ 64·3079² < 2³⁰, ×7 ≪ 2⁶³). Plain WITH
    (no RECURSIVE), so the sel{r} UNION ALL chains are safe from the
    recursive-grammar footgun documented at the MST twin."""
    head = f"""
      WITH qv AS (
        SELECT list_transform(embedding,
                 x -> floor(x::DOUBLE * {_PCA_SCALE})::BIGINT) AS q
        FROM embeddings WHERE vec_id = 0
      ),
      cand AS (
        SELECT e.vec_id,
               list_transform(e.embedding,
                 x -> floor(x::DOUBLE * {_PCA_SCALE})::BIGINT) AS v
        FROM embeddings e WHERE e.vec_id <> 0
      ),
      relv AS MATERIALIZED (
        SELECT c.vec_id, c.v,
               list_sum(list_transform(range(1, len(c.v) + 1),
                        i -> c.v[i] * qv.q[i]))::BIGINT AS rel
        FROM cand c CROSS JOIN qv
      ),
      pool AS MATERIALIZED (
        SELECT vec_id, v, rel FROM relv
        ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
      ),
      gram AS MATERIALIZED (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               list_sum(list_transform(range(1, len(a.v) + 1),
                        i -> a.v[i] * b.v[i]))::BIGINT AS dot
        FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
      ),
      p1 AS (
        SELECT vec_id, rel, ({_MMR_WREL} * rel)::BIGINT AS score
        FROM pool ORDER BY rel DESC, vec_id LIMIT 1
      ),
      sel1 AS (SELECT vec_id FROM p1)"""
    parts = [head]
    for r in range(2, picks + 1):
        parts.append(
            f""",
      p{r} AS (
        SELECT po.vec_id, po.rel,
               ({_MMR_WREL} * po.rel
                - {_MMR_WSIM} * max(g.dot))::BIGINT AS score
        FROM pool po JOIN gram g ON g.ia = po.vec_id
        WHERE g.ib IN (SELECT vec_id FROM sel{r - 1})
          AND po.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
        GROUP BY po.vec_id, po.rel
        ORDER BY score DESC, po.vec_id LIMIT 1
      ),
      sel{r} AS (
        SELECT vec_id FROM sel{r - 1}
        UNION ALL
        SELECT vec_id FROM p{r}
      )"""
        )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS rank, vec_id, rel AS rel_dot, score AS mmr_score"
        f" FROM p{r}"
        for r in range(1, picks + 1)
    )
    parts.append(f"\n      {union}\n      ORDER BY rank")
    return "".join(parts)


@register(
    "mmr_greedy_integer_unrolled_twin",
    "Oracle-exact MMR twin (Carbonell & Goldstein greedy "
    "diversification; rerank_mmr_diversified stays the float "
    "production path): integer relevance = dot of floor(1000x) codes "
    "against query vec 0, deterministic top-20 candidate cut, then "
    "the inherently sequential greedy unrolled as 5 argmax CTEs "
    "(score = 7·rel − 3·max dot to selected, ties on vec_id) — the "
    "BPE/MST fixed-step-unroll discipline applied to a greedy trace. "
    "Spark mirrors the same arithmetic: distributed relevance scan + "
    "TakeOrdered pool cut, then the driver greedy over the BOUNDED "
    "20-row pool with exact Python ints (the numpy pool pattern of "
    "operators/mmr.py, integer-exact here). 100 TB: the scan is the "
    "joinless ann_cosine shape; greedy cost is pool-bounded, never "
    "corpus-bounded.",
    oracle=_mmr_twin_oracle(),
)
def mmr_greedy_integer_unrolled_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") == 0)
        .select(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _PCA_SCALE).cast(
                    "bigint"
                ),
            ).alias("q")
        )
        .collect()
    )
    schema = (
        "rank int, vec_id bigint, rel_dot bigint, mmr_score bigint"
    )
    if not qrows:
        return spark.createDataFrame([], schema)
    qv = [int(x) for x in qrows[0]["q"]]
    # ONE array literal (r12): the per-element F.array(*[F.lit(x)
    # .cast(...)]) form paid ~128 py4j round trips of plan-construction
    # chatter per build (A/B: 1.286 -> 1.129 s fresh, rows identical).
    # Python ints infer ArrayType(LongType) — the same bigint type.
    qcol = F.lit(qv)
    cand = e.where(F.col("vec_id") != 0).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _PCA_SCALE).cast(
                "bigint"
            ),
        ).alias("v"),
    )
    rel = F.aggregate(
        F.zip_with("v", qcol, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pool = (
        cand.withColumn("rel", rel)
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .collect()  # bounded pool — driver greedy over 20 rows
    )
    vecs = {r["vec_id"]: [int(x) for x in r["v"]] for r in pool}
    rels = {r["vec_id"]: int(r["rel"]) for r in pool}

    def dot(a: list[int], b: list[int]) -> int:
        return sum(x * y for x, y in zip(a, b))

    order = sorted(rels, key=lambda i: (-rels[i], i))
    first = order[0]
    picks = [(1, first, rels[first], _MMR_WREL * rels[first])]
    selected = [first]
    for rank in range(2, _MMR_PICKS + 1):
        best = None
        for i in order:
            if i in selected:
                continue
            msim = max(dot(vecs[i], vecs[s]) for s in selected)
            score = _MMR_WREL * rels[i] - _MMR_WSIM * msim
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, rels[i], score)
        picks.append((rank, best[1], best[2], best[3]))
        selected.append(best[1])
    return spark.createDataFrame(picks, schema).orderBy("rank")
