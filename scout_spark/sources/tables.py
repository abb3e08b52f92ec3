"""Parquet table sources for the driver-provided TPC-H-ish testdata.

The reference ingests OSM PBF via a QuackOSM subprocess into DuckDB
(reference scripts/build_gazetteer.py:159-180); here all sources are
columnar Parquet read through the DataSource V2 path so Catalyst pushes
filters and prunes columns into the scan (check .explain for
PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _mtime(sf_dir: str, table: str) -> float:
    try:
        return os.path.getmtime(os.path.join(sf_dir, f"{table}.parquet"))
    except OSError:
        return -1.0


def source_key(
    spark: SparkSession, sf_dir: str, table: str
) -> tuple[str, str, str, float]:
    """(applicationId, sf_dir, table, mtime of ``{table}.parquet``) —
    the cache key of anything derived from one source table.
    applicationId (not id(spark)) keys the session: a recycled object
    id would serve plans bound to a shut-down SparkContext. The mtime
    invalidates after a rewrite/compaction of the file."""
    mtime = _mtime(sf_dir, table)
    return (spark.sparkContext.applicationId, sf_dir, table, mtime)


# DataFrame handles are immutable and reusable: cache per source_key so
# repeated queries don't re-list files and re-read parquet footers on
# every call (driver-side latency, ~50ms per load).
_df_cache: dict[tuple[str, str, str, float], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = source_key(spark, sf_dir, name)
    cached = _df_cache.get(key)
    if cached is not None:
        return cached
    # events.parquet carries TIMESTAMP(NANOS), which the vectorized parquet
    # reader rejects; read nanos as long and truncate to microseconds —
    # exactly what the DuckDB oracle does when it loads the same file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer division — double division loses µs precision on
            # int64 nanosecond values (> 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # µs-precision parquet timestamps with isAdjustedToUTC=false
            # infer as TIMESTAMP_NTZ under Spark 4, which rejects the
            # epoch arithmetic (cast to double/unix_micros) the temporal
            # operators use. The session runs in UTC (session.py), so the
            # NTZ→LTZ cast reinterprets the same wall-clock instant DuckDB
            # sees when it reads the naive column — parity-preserving.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    _df_cache[key] = df
    return df


_shared: dict[str, tuple[tuple, DataFrame]] = {}
# reentrant: a builder may itself call shared_frame (_degrees -> _edges)
_shared_lock = threading.RLock()


def shared_frame(
    name: str, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """The session-shared persisted frame ``name``: ``build()`` persisted
    once per ``key`` (which starts with the applicationId), reused by
    every later query of the session. One live frame per name — a new
    key unpersists the old frame first. A hit whose blocks were dropped
    (``spark.catalog.clearCache()``) is re-persisted before it is
    returned, so clearCache() is the only reset a harness needs."""
    with _shared_lock:
        hit = _shared.get(name)
        if hit is not None and hit[0] == key:
            df = hit[1]
            if df.storageLevel == StorageLevel.NONE:
                df.persist()
            return df
        if hit is not None:
            try:
                hit[1].unpersist()
            except Exception:
                pass  # session already stopped — blocks died with it
        df = build().persist()
        _shared[name] = (key, df)
        return df


def widen_if_narrow(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition a NARROW scan before a per-row-heavy
    kernel (pandas-UDF minhash/simhash, JSON parse, language-ID scoring).

    Small benchmark files arrive as one parquet row group → a single
    input partition, which serializes the expensive per-row stage on one
    core while the rest of the executor idles. The repartition is gated
    on the actual partition count: a production 100 TB scan has
    thousands of file splits, so this is a no-op there and the plan
    keeps its shuffle-free scan→kernel shape. The Exchange it inserts at
    bench scale moves only the few-MB input once, and is repaid ~10× by
    parallelizing the kernel (measured: minhash-LSH at sf0.1 2.9s → 0.8s).
    """
    sc = df.sparkSession.sparkContext
    t = target or max(2, min(sc.defaultParallelism // 2, 16))
    if df.rdd.getNumPartitions() >= t:
        return df
    return df.repartition(t)


_parquet_rows_cache: dict[tuple[str, float], int] = {}


def parquet_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count of a source table from the parquet FOOTER —
    driver-side pyarrow metadata read, no Spark job. Used as a cheap
    upper bound for measured small-frame gates (operators/rank.py):
    a derived frame keyed by a subset of a table's rows can never
    exceed the table's row count, so the gate can fire without a
    count() action. Returns None for a missing/multi-file path (the
    gate then takes the distributed branch — always safe). Cached per
    (path, mtime), like ``source_key``: a rewritten file is re-read."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (path, _mtime(sf_dir, name))
    if key in _parquet_rows_cache:
        return _parquet_rows_cache[key]
    try:
        import pyarrow.parquet as pq

        n = pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None
    _parquet_rows_cache[key] = n
    return n


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (mirrors the oracle harness's
    pre-registered DuckDB views) so SQL-path queries can run verbatim."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
