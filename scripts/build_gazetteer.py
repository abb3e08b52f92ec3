#!/usr/bin/env python3
"""Build the gazetteer from an OSM extract — the reference's CLI,
Spark-native (reference scripts/build_gazetteer.py:113-197: QuackOSM
subprocess → DuckDB migrations; here: native PBF/parquet read →
DataFrame ETL → sorted parquet tables + provenance meta).

Usage:
  python -m scripts.build_gazetteer [INPUT] [--out DIR] [--config CFG]
      [--overwrite | --no-overwrite] [--fixture-rows N]
      [--bbox MINLON,MINLAT,MAXLON,MAXLAT] [--require-tag KEY ...]

INPUT is a ``.osm.pbf`` file (read via the native blob-parallel reader),
a parquet/GeoParquet path (QuackOSM export or raw fixture —
schema-adaptive binding picks id/name/geometry columns), or ``fixture``
(the default: the deterministic synthetic source). ``--out`` and the
overwrite gate default to the config (env > TOML > default,
scout_spark.settings); with overwrite off and a gazetteer already at
``--out`` the CLI exits 0 before starting Spark (reference
build_gazetteer.py:151-156).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "input",
        nargs="?",
        default="fixture",
        help=".osm.pbf file, parquet/GeoParquet path, or 'fixture' (default)",
    )
    p.add_argument("--out", default=None, help="output gazetteer directory")
    p.add_argument("--config", default=None, help="TOML config path")
    p.add_argument("--overwrite", dest="overwrite", action="store_true", default=None)
    p.add_argument("--no-overwrite", dest="overwrite", action="store_false")
    p.add_argument("--fixture-rows", type=int, default=600)
    p.add_argument(
        "--bbox",
        help="minlon,minlat,maxlon,maxlat ingest filter "
        "(reference --geom-filter-bbox)",
    )
    p.add_argument(
        "--require-tag",
        action="append",
        default=[],
        metavar="KEY[=VALUE]",
        help="keep only features carrying this tag (repeatable; "
        "reference --osm-tags-filter-file)",
    )
    p.add_argument("--cpus", type=int, default=None)
    return p.parse_args(argv)


def build(args: argparse.Namespace) -> dict[str, str]:
    """Table → path of the built gazetteer; empty when the idempotency
    gate keeps an existing one."""
    from scout_spark.settings import load_settings

    settings = load_settings(args.config)
    out = args.out or settings.data_dir
    overwrite = settings.overwrite if args.overwrite is None else args.overwrite
    if not overwrite and os.path.exists(os.path.join(out, "pois")):
        print(f"gazetteer exists at {out} and overwrite disabled; nothing to do")
        return {}

    from pyspark.sql import functions as F

    from scout_spark.etl.gazetteer import build_gazetteer
    from scout_spark.session import get_spark

    spark = get_spark("build-gazetteer", cpus=args.cpus)
    source = args.input
    if args.input == "fixture":
        from scout_spark.etl.fixtures import raw_osm_fixture

        raw = raw_osm_fixture(spark, n_pois=args.fixture_rows)
        source = f"fixture(n_pois={args.fixture_rows}, seed=42)"
    elif args.input.endswith(".pbf"):
        from scout_spark.sources.osmpbf import pbf_features

        raw = pbf_features(spark, args.input)
    else:
        raw = spark.read.parquet(args.input)

    # ingest filters run BEFORE the ETL so pruning happens at the scan
    # (reference applies them inside the QuackOSM invocation)
    if args.bbox:
        minlon, minlat, maxlon, maxlat = (float(x) for x in args.bbox.split(","))
        raw = raw.where(
            F.col("lon").between(minlon, maxlon)
            & F.col("lat").between(minlat, maxlat)
        )
    for spec in args.require_tag:
        key, _, value = spec.partition("=")
        tag = F.col("tags").getItem(key)
        raw = raw.where((tag == value) if value else tag.isNotNull())

    return build_gazetteer(spark, raw, out, meta={"source": source})


def main(argv: list[str] | None = None) -> int:
    for table, path in build(parse_args(argv)).items():
        print(f"[build] {table}: {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
