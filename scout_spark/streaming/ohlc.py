"""Streaming OHLC candlestick bars.

The batch twin (inventory/temporal.py::timeseries_ohlc_hourly) takes
open/close via row_number — a construct Structured Streaming forbids
(no window functions over streams).  The streaming-safe reformulation
rides on the fact that open/close are ARGMIN/ARGMAX by (ts, event_id),
and Spark's min/max over a STRUCT compare lexicographically: carrying
``min(struct(ts, event_id, value))`` keeps the earliest row's value
(and max the latest) as plain decomposable aggregates — legal in a
watermarked streaming groupBy, exact under any micro-batch split, and
mergeable across partials (the same property the rollup cascade rests
on).  One state row per open (user, hour) bar; watermark bounds state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OPEN = F.min(F.struct("ts", "event_id", "value")).alias("open_s")
_CLOSE = F.max(F.struct("ts", "event_id", "value")).alias("close_s")


def ohlc_bars_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked per-(user, hour) OHLC aggregation over a stream."""
    return finalize_ohlc(
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "user_id",
        )
        .agg(
            _OPEN,
            _CLOSE,
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("bar_hour", F.col("w.start"))
        .drop("w")
    )


def ohlc_partial(events: DataFrame) -> DataFrame:
    """Decomposable OHLC state for a batch of events — the shape an
    incremental foreachBatch refresh merges (see merge_ohlc_state)."""
    return events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bar_hour")
    ).agg(
        _OPEN,
        _CLOSE,
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


def merge_ohlc_state(existing: DataFrame, partial: DataFrame) -> DataFrame:
    """Merge two OHLC state tables: open composes by struct-min, close
    by struct-max, high/low/count by max/min/sum — every field is a
    semilattice or additive, so the merge is exact under any split of
    the event stream (micro-batches, backfills, shard-parallel
    ingests)."""
    return existing.unionByName(partial).groupBy("user_id", "bar_hour").agg(
        F.min("open_s").alias("open_s"),
        F.max("close_s").alias("close_s"),
        F.max("high_v").alias("high_v"),
        F.min("low_v").alias("low_v"),
        F.sum("n_events").alias("n_events"),
    )


def finalize_ohlc(state: DataFrame) -> DataFrame:
    """Project the carried argmin/argmax structs down to the bar view."""
    return state.select(
        "user_id",
        "bar_hour",
        F.col("open_s.value").alias("open_v"),
        "high_v",
        "low_v",
        F.col("close_s.value").alias("close_v"),
        "n_events",
    )
