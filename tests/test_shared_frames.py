"""Session-shared persisted frames (sources.tables.shared_frame): a hit
re-persists after ``spark.catalog.clearCache()``, a rewritten source
swaps the old frame for one new frame, and concurrent cold callers share
one build. Hermetic: each test writes its own tiny source tables."""

from __future__ import annotations

import os
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel

from scout_spark.inventory import graph_ops
from scout_spark.inventory.quality_ops import doc_tokens
from scout_spark.inventory.retrieval import _bm25_per_doc
from scout_spark.sources import tables

GETTERS = (doc_tokens, _bm25_per_doc, graph_ops._edges, graph_ops._degrees)


def _write_sources(sf: str, n_docs: int, orders: list[int], parts: list[int]):
    texts = [
        "Spark merges tables fast",
        "a fast table scan",
        "spark spark merge",
        "",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(1, n_docs + 1)),
                "lang": ["en", "en", "de", "en"][:n_docs],
                "source": ["web", "wiki", "web", "code"][:n_docs],
                "text": texts[:n_docs],
            }
        ),
        os.path.join(sf, "documents.parquet"),
    )
    pq.write_table(
        pa.table({"l_orderkey": orders, "l_partkey": parts}),
        os.path.join(sf, "lineitem.parquet"),
    )


@pytest.fixture
def sf(tmp_path) -> str:
    _write_sources(str(tmp_path), 4, [1, 1, 1, 2, 2, 3], [10, 11, 12, 10, 11, 12])
    return str(tmp_path)


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_hit_repersists_after_clear_cache(spark, sf):
    counts = {get: get(spark, sf).count() for get in GETTERS}
    spark.catalog.clearCache()
    for get in GETTERS:
        df = get(spark, sf)
        assert df.storageLevel != StorageLevel.NONE, get.__name__
        assert df.count() == counts[get], get.__name__


def test_source_rewrite_swaps_frame(spark, sf):
    old = {get: get(spark, sf) for get in GETTERS}
    assert [old[get].count() for get in GETTERS] == [11, 4, 3, 3]
    materialized = _persisted_rdds(spark)
    # fewer docs and a single two-part order; the mtime is moved forward
    # so the rewrite shows even on a coarse-grained filesystem clock
    _write_sources(sf, 2, [1, 1], [10, 11])
    for table in ("documents", "lineitem"):
        path = os.path.join(sf, f"{table}.parquet")
        st = os.stat(path)
        os.utime(path, (st.st_atime, st.st_mtime + 10))
    for _ in range(2):
        new = {get: get(spark, sf) for get in GETTERS}
        assert all(new[get] is not old[get] for get in GETTERS)
        assert [new[get].count() for get in GETTERS] == [8, 2, 1, 2]
    # each name swapped its old materialization for exactly one new one
    assert _persisted_rdds(spark) <= materialized


def test_concurrent_cold_callers_share_one_build(spark, sf, monkeypatch):
    builds: Counter[str] = Counter()

    def counting_shared_frame(name, key, build):
        def counted():
            builds[name] += 1
            return build()

        return tables.shared_frame(name, key, counted)

    monkeypatch.setattr(graph_ops, "shared_frame", counting_shared_frame)
    start = threading.Barrier(8, timeout=60)

    def call(_):
        start.wait()
        return graph_ops._degrees(spark, sf)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            got = list(ex.map(call, range(8), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert all(df is got[0] for df in got)
    assert builds == {"graph_edges": 1, "graph_degrees": 1}
    assert sorted(map(tuple, got[0].collect())) == [(10, 2), (11, 2), (12, 2)]
