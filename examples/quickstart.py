#!/usr/bin/env python3
"""Quickstart: everything a jollyboss123/scout user does, on Spark.

    python examples/quickstart.py

1. Build a gazetteer from a raw OSM-like source (here: the deterministic
   fixture; for real data run scripts/build_gazetteer.py on a .osm.pbf
   or QuackOSM-exported parquet).
2. Forward geocode (the reference's POST /v1/geocode/forward).
3. Reverse geocode (extension).
4. Batch geocode a request battery in one job.
5. Training-data ops on a document corpus: exact + near dedup,
   language-ID, quality features, ANN over embeddings.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from scout_spark.session import get_spark
from scout_spark.etl.fixtures import raw_osm_fixture
from scout_spark.etl.gazetteer import build_gazetteer, build_admin, build_pois
from scout_spark.plans.api import ForwardRequest, forward_geocode
from scout_spark.plans.geocode import ScoutEngine
from scout_spark.plans.batch_geocode import forward_geocode_batch
from scout_spark.settings import load_settings


def main() -> None:
    spark = get_spark("scout-spark-quickstart", cpus=8)

    # 1. build ---------------------------------------------------------
    out = os.path.join(tempfile.gettempdir(), "scout_spark_quickstart_gaz")
    raw = raw_osm_fixture(spark, n_pois=400)
    build_gazetteer(spark, raw, out, meta={"source": "fixture"})
    pois = spark.read.parquet(os.path.join(out, "pois")).cache()
    admin = spark.read.parquet(os.path.join(out, "admin"))
    print(f"gazetteer built: {pois.count()} POIs, {admin.count()} admin areas")

    # 2. forward geocode ----------------------------------------------
    engine = ScoutEngine(spark, pois, admin, load_settings(None).geocode)
    resp = forward_geocode(
        engine,
        ForwardRequest(candidates=["Monograph Dining"], country="malaysia", limit=3),
    )
    print(f"\nforward('Monograph Dining', country=malaysia) [{resp.took_ms}ms]:")
    for h in resp.hits:
        print(f"  {h['score']:.3f}  {h['name']}  ({h['lat']:.4f},{h['lon']:.4f}) {h['kind']}")

    # 3. reverse geocode ----------------------------------------------
    print("\nreverse(3.139, 101.6869) — nearest to KL center:")
    for r in engine.reverse(3.139, 101.6869, limit=3).collect():
        print(f"  {r['distance_km']:8.2f} km  {r['name']}")

    # 4. batch geocode -------------------------------------------------
    battery = spark.createDataFrame(
        [(0, "kopitiam 88", None), (1, "taman botani", "malaysia")],
        "req_id long, query string, country string",
    )
    print("\nbatch geocode (one job):")
    for r in forward_geocode_batch(battery, pois, admin, limit=1).collect():
        print(f"  req {r['req_id']}: {r['name']} (score {r['score']:.3f})")

    # 5. training-data ops --------------------------------------------
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    from scout_spark.functions.text import fingerprint_md5, langid_expr
    from scout_spark.operators.ann import brute_force_topk
    from scout_spark.operators.dedup import exact_dedup, minhash_lsh_pairs

    n_exact = (
        exact_dedup(docs, "doc_id", fingerprint_md5(F.col("text")))
        .where(F.col("group_size") > 1)
        .count()
    )
    n_near = minhash_lsh_pairs(docs, "doc_id", "text", 16, 4, 0.8).count()
    lang_acc = (
        docs.select((langid_expr("text") == F.col("lang")).cast("int").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    nn = brute_force_topk(emb.where(F.col("vec_id") != 0), q, k=3).collect()
    print(
        f"\ndocuments: {docs.count()} rows | exact-dup groups: {n_exact} | "
        f"near-dup pairs (jaccard≥0.8): {n_near} | langid agreement: {lang_acc:.2f}"
    )
    print("nearest neighbors of vec 0:", [(r["vec_id"], r["cos_sim"]) for r in nn])


if __name__ == "__main__":
    main()
