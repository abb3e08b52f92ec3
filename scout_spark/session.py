"""SparkSession construction for the scout_spark engine.

One long-lived session replaces the reference's per-request DuckDB
connections (reference app.py:44-56); see SURVEY.md §2.1 S3. Configuration
targets both local[N] testing and a large multi-executor cluster: AQE is on
so skewed shuffles re-plan at runtime, and Arrow is on so the few pandas
UDF paths batch efficiently.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def _env_count(name: str) -> int:
    """$name as a positive integer, or 0 (use the default) when it is
    unset or empty; any other value warns and also falls back."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return 0
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        warnings.warn(
            f"{name}={raw!r} is not a positive integer; using the default",
            stacklevel=3,
        )
        return 0
    return value


def get_spark(
    app_name: str = "scout-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) the engine session.

    cpus defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle partitions
    default to the parallelism level locally; on a real cluster leave the
    default and let AQE coalesce (spark.sql.adaptive.coalescePartitions).
    """
    cpus = cpus or _env_count("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    shuffle = (
        shuffle_partitions
        or _env_count("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        or max(cpus, 8)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # zero locality wait: in local mode every task is node-local, and
        # on a real cluster the default 3s wait stalls small stages more
        # than rack-remote reads cost
        .config("spark.locality.wait", "0s")
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def tune_for_engine(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a caller-provided session.

    The driver harness passes its own SparkSession into ``queries()``
    callables; only runtime-mutable confs may be touched here. UTC keeps
    timestamp arithmetic identical to the DuckDB oracle (which treats naive
    timestamps as UTC epoch).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE skips runtime re-optimization (notably SMJ→broadcast
    # conversion) for any plan that reads a cached relation unless this
    # is on; with the session-cached shared frames (doc_tokens, graph
    # _edges/_degrees) that cost 4× on triangle counting — measured
    # 21.4 s cached-without vs 4.4 s cached-with vs 5.2 s uncached at
    # sf0.1. Runtime-mutable, public conf (SPARK-35332 family).
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    return spark
