#!/usr/bin/env python3
"""End-to-end training-data curation pipeline — the 100 TB shape, run on
the local testdata:

  raw documents
    → quality filter (length / stopword / distinct-token heuristics)
    → language filter (stopword-voting langid)
    → exact dedup (md5 fingerprint, keep lowest id)
    → near dedup (MinHash-LSH pairs → connected components → keepers)
    → benchmark decontamination (5-gram shingle overlap vs eval set)
    → semantic dedup over embeddings (SemDeDup: k-means blocking +
      cosine balls, one keeper per ball)
    → temperature mixture rebalance (sqrt-scaled language weights)
    → deterministic 80/10/10 train/val/test split (Knuth-hash bucket)
    → curated parquet (partitioned by split) + corpus stats

Every stage is declarative DataFrame ops (or an Arrow kernel), so the
same script scales from 500 docs to a cluster: the only knobs that
change are partitions and paths.

    python examples/training_pipeline.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.session import get_spark
from scout_spark.functions.text import (
    fingerprint_md5,
    langid_expr,
    quality_features,
    token_count,
)
from scout_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
)


def main() -> None:
    spark = get_spark("training-pipeline", cpus=8)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n0 = docs.count()

    # 1. quality filter ------------------------------------------------
    q = quality_features("text")
    scored = docs.select(
        "*",
        q["n_tokens"].alias("q_tokens"),
        q["stopword_ratio"].alias("q_stop"),
    )
    kept_quality = scored.where(
        (F.col("q_tokens") >= 10) & (F.col("q_stop") <= 0.8)
    )
    n1 = kept_quality.count()

    # 2. language filter ----------------------------------------------
    with_lang = kept_quality.withColumn("lang_guess", langid_expr("text"))
    kept_lang = with_lang.where(F.col("lang_guess") != "und")
    n2 = kept_lang.count()

    # 3. exact dedup ---------------------------------------------------
    fp = kept_lang.withColumn("fp", fingerprint_md5(F.col("text")))
    keepers_exact = (
        fp.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn", "fp")
    )
    n3 = keepers_exact.count()

    # 4. near dedup ----------------------------------------------------
    pairs = minhash_lsh_pairs(keepers_exact, "doc_id", "text", 16, 4, 0.8)
    cc = connected_components(pairs)
    dup_ids = cc.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    curated = keepers_exact.join(dup_ids, "doc_id", "left_anti")
    n4 = curated.count()

    # 4.5 benchmark decontamination ------------------------------------
    # Remove docs overlapping the held-out eval set (source='src0'
    # stands in for the benchmark) on any distinct 5-word shingle. The
    # eval shingle dictionary is broadcast — corpus never self-joins.
    from scout_spark.functions.normalize import canon_ascii
    from scout_spark.functions.text import word_shingles

    shingled = curated.withColumn(
        "_sh", F.array_distinct(word_shingles(canon_ascii(F.col("text")), 5))
    )
    eval_shingles = (
        shingled.where(F.col("source") == "src0")
        .select(F.explode("_sh").alias("g"))
        .distinct()
    )
    contaminated = (
        shingled.where(F.col("source") != "src0")
        .select("doc_id", F.explode("_sh").alias("g"))
        .join(F.broadcast(eval_shingles), "g")
        .select("doc_id")
        .distinct()
    )
    curated = (
        shingled.drop("_sh")
        .where(F.col("source") != "src0")
        .join(contaminated, "doc_id", "left_anti")
    )
    n45 = curated.count()

    # 4.6 semantic dedup over embeddings (SemDeDup) --------------------
    # k-means blocks the quadratic step; one keeper per cosine>=0.95
    # ball. Embeddings live in their own table keyed by doc id.
    from scout_spark.operators.semdedup import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    surviving = curated.select(F.col("doc_id").alias("vec_id"))
    sem = semdedup(emb.join(surviving, "vec_id"), k=4, threshold=0.95)
    sem_dups = sem.where(F.col("is_duplicate")).select(
        F.col("vec_id").alias("doc_id")
    )
    curated = curated.join(sem_dups, "doc_id", "left_anti")
    n46 = curated.count()

    # 4.7 temperature mixture rebalance (alpha=0.5) --------------------
    # Downsample head languages toward sqrt-scaled weights, keyed on
    # the corpus's labeled lang column (the heuristic lang_guess
    # collapses this synthetic corpus to one bucket). The keep draw
    # must be INDEPENDENT of the split bucket below — an additive salt
    # into the same multiplicative hash is NOT (it shifts the bucket
    # by a constant mod 100, which would starve downsampled languages
    # of val/test rows entirely), so the draw uses an md5 of a salted
    # key instead.
    cnt = curated.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    mn = cnt.agg(F.min("_n").alias("_mn"))
    thr = cnt.crossJoin(F.broadcast(mn)).select(
        "lang",
        (F.lit(100.0) * F.sqrt(F.col("_mn").cast("double") / F.col("_n")))
        .alias("_thr"),
    )
    mix_draw = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                       F.lit(":mix"))), 1, 8),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
        * 100.0
    )
    curated = (
        curated.join(F.broadcast(thr), "lang")
        .where(mix_draw < F.col("_thr"))
        .drop("_thr")
    )
    n47 = curated.count()

    # 4.75 deterministic 80/10/10 split --------------------------------
    # Knuth-hash bucket of doc_id: row-local, reproducible across runs
    # and appends — no shuffle to assign a split.
    bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
    curated = curated.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )

    # 5. write + stats -------------------------------------------------
    out = os.path.join(tempfile.gettempdir(), "curated_corpus")
    curated.drop("q_tokens", "q_stop").write.mode("overwrite").partitionBy(
        "split"
    ).parquet(out)
    stats = curated.agg(
        F.sum(token_count("text")).alias("total_tokens"),
        F.round(F.avg("n_chars"), 1).alias("avg_chars"),
        F.countDistinct("lang_guess").alias("n_langs"),
    ).collect()[0]

    print(
        f"pipeline: {n0} raw → {n1} quality → {n2} lang → {n3} exact-dedup "
        f"→ {n4} near-dedup → {n45} decontaminated → {n46} sem-dedup "
        f"→ {n47} temperature-mixed"
    )
    print(
        f"curated corpus: {n47} docs, {stats['total_tokens']} tokens, "
        f"avg {stats['avg_chars']} chars, {stats['n_langs']} languages → {out}"
    )

    # 6. curation audit report ------------------------------------------
    # The per-stage filter funnel (the ablation table a dataset writeup
    # publishes) over the CURATED corpus — counters are decomposable
    # sums, so the same helpers run batch here and on a document
    # stream in complete mode.
    from scout_spark.inventory.curation import funnel_counters, funnel_report

    print("filter-funnel audit of the curated corpus:")
    for r in funnel_report(funnel_counters(curated)).collect():
        print(
            f"  stage {r['stage']} ({r['stage_name']}): "
            f"{r['n_docs_surviving']} docs / "
            f"{r['n_tokens_surviving']} tokens survive, "
            f"{r['n_rejected_at_stage']} rejected here"
        )

    # 7. deterministic epoch order --------------------------------------
    # Training shuffle without materializing a permutation: epoch order
    # = sort by md5(epoch:doc_id), re-derivable on any shard/engine.
    epoch0 = (
        curated.select("doc_id")
        .orderBy(F.md5(F.concat(F.lit("0:"), F.col("doc_id").cast("string"))))
        .limit(5)
        .collect()
    )
    print("epoch-0 order (first 5):", [r["doc_id"] for r in epoch0])


if __name__ == "__main__":
    main()
