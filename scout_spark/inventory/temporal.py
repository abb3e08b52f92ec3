"""Temporal and event analytics over the events table: as-of and range
joins, windows over time, sessionization, funnels, retention, time-series
decomposition and forecasting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.inventory import register
from scout_spark.inventory.common import HOUR_US, table


@register(
    "asof_join_last_purchase_before_error",
    "Backward as-of join (SURVEY.md §2.3 J4): for every 'error' event, "
    "the same user's most recent 'purchase' at or before it. Implemented "
    "as the scalable union+window carry-forward (one shuffle on user_id + "
    "one sort — cost independent of time density, unlike a range "
    "theta-join). Oracle uses DuckDB's native ASOF JOIN.",
    oracle="""
      SELECT e.event_id, e.user_id, e.ts AS error_ts,
             p.ts AS right_ts, round(p.value, 2) AS right_value
      FROM (SELECT * FROM events WHERE event_type = 'error') e
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def asof_purchase_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("error_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        errors,
        purchases,
        on="user_id",
        left_ts="error_ts",
        right_ts="ts",
        right_payload=["value"],
        how="inner",
    )
    return joined.select(
        "event_id",
        "user_id",
        "error_ts",
        "right_ts",
        F.round("right_value", 2).alias("right_value"),
    )


@register(
    "join_range_purchases_after_clicks",
    "Time-bounded range join: purchases matched to the same user's "
    "clicks within the preceding 30 minutes — the batch twin of the "
    "watermarked stream-stream join (scout_spark/streaming/events.py::"
    "purchases_after_clicks; equality on user_id carries the shuffle, "
    "the time band is a post-join filter — never a cross product).",
    oracle="""
      SELECT p.event_id AS purchase_id, p.user_id,
             p.ts AS purchase_ts, c.event_id AS click_id, c.ts AS click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts
       AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def join_range_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
    ).select("purchase_id", "user_id", "purchase_ts", "click_id", "click_ts")


@register(
    "window_tumbling_10min",
    "Tumbling 10-minute window aggregation — the batch shape of "
    "Structured Streaming's window() (SURVEY.md §2.10; streaming version "
    "in scout_spark/streaming/events.py). Epoch-aligned buckets; "
    "low-cardinality groupBy → map-side partial agg carries the shuffle.",
    oracle="""
      SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000)
               AS window_start,
             event_type,
             count(*) AS n_events,
             round(sum(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "rollup_cascade_hourly",
    "Continuous-aggregate cascade (hypertable-style; scout_spark/"
    "streaming/rollup.py): hourly level RE-AGGREGATED from the 10-minute "
    "level — never from raw events. The oracle aggregates raw directly; "
    "matching results prove the decomposable-state cascade is exact.",
    oracle="""
      SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
               AS bucket,
             event_type,
             count(*) AS n_events,
             round(sum(value), 2) AS sum_value,
             min(value) AS min_value,
             max(value) AS max_value
      FROM events
      GROUP BY 1, 2
    """,
)
def rollup_cascade_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.streaming.rollup import rollup_events, rollup_up

    ev = table(spark, sf_dir, "events")
    ten_min = rollup_events(ev, 600)
    hourly = rollup_up(ten_min, 3600)
    return hourly.select(
        "bucket",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "min_value",
        "max_value",
    )


@register(
    "sessionize_30min_gap",
    "Gap-based sessionization (batch shape of session_window; SURVEY.md "
    "§2.10): per-user sessions split at >30-minute silence, via "
    "gaps-and-islands (lag + conditional cumulative sum) — two window "
    "passes over one shuffle-by-user.",
    oracle="""
      WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - coalesce(lag(ts) OVER w, ts) > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW)::BIGINT
                 AS session_id
        FROM flagged
      )
      SELECT user_id, session_id,
             count(*) AS n_events,
             min(ts) AS session_start,
             max(ts) AS session_end,
             CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS session_value
      FROM sessions
      GROUP BY user_id, session_id
    """,
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the running sum must use the SAME total order as the flag window —
    # on a ts tie, ordering by ts alone could place the flagged row
    # before/after its tie-mate differently per engine
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.col("ts").cast("double") - F.coalesce(
        F.lag("ts").over(w), F.col("ts")
    ).cast("double")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap > 1800, 1).otherwise(0).alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(wsum).cast("bigint")
    )
    # session_value sums in exact DECIMAL (value is 2dp-exact in the
    # testdata) so the result is summation-order-insensitive — a plain
    # double sum can land a half-cent tie on different sides per engine
    # (driver hash-red r02; same pattern as tpch.py Q9/Q11/Q22).
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("session_value"),
    )


@register(
    "window_hopping_10min_5min",
    "Hopping (sliding) 10-minute window with 5-minute slide — each event "
    "contributes to exactly width/slide = 2 windows. Spark expands via "
    "window(ts, '10 minutes', '5 minutes'); the oracle unnests the two "
    "epoch-aligned starts per event. The expansion is row-local "
    "(explode before the shuffle), so shuffle volume is 2× events, "
    "never a range join.",
    oracle="""
      SELECT make_timestamp(s) AS window_start, event_type,
             count(*) AS n_events,
             round(sum(value), 2) AS total_value
      FROM (
        SELECT event_type, value,
               unnest([(epoch_us(ts) // 300000000) * 300000000,
                       (epoch_us(ts) // 300000000) * 300000000 - 300000000]) AS s
        FROM events
      )
      GROUP BY 1, 2
    """,
)
def window_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "funnel_view_click_purchase",
    "Ordered funnel analysis: per user, the first 'view', the first "
    "'click' strictly after that view, and the first 'purchase' "
    "strictly after that click — stage timestamps plus the reached "
    "stage (0-3). Three per-user min-aggregations chained by join: "
    "every shuffle keys on user_id (one partitioning reused), no "
    "self-theta-join over the event stream — at 100 TB each stage is a "
    "map-side-combined agg over an already-clustered key.",
    oracle="""
      WITH v AS (
        SELECT user_id, min(ts) AS view_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id
      ),
      c AS (
        SELECT e.user_id, min(e.ts) AS click_ts
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.view_ts
        GROUP BY e.user_id
      ),
      p AS (
        SELECT e.user_id, min(e.ts) AS purchase_ts
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
        GROUP BY e.user_id
      )
      SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
             1 + (c.user_id IS NOT NULL)::INT + (p.user_id IS NOT NULL)::INT
               AS stage
      FROM v LEFT JOIN c ON v.user_id = c.user_id
              LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            (
                F.lit(1)
                + F.col("click_ts").isNotNull().cast("int")
                + F.col("purchase_ts").isNotNull().cast("int")
            ).alias("stage"),
        )
    )


@register(
    "events_transition_matrix",
    "Per-user event-sequence transition counts (Markov-chain edge "
    "weights): lag(event_type) over (user_id ORDER BY ts, event_id) "
    "pairs each event with its predecessor, then a global groupBy "
    "counts (prev, next) transitions and their share of all "
    "transitions. One window shuffle on user_id + one small agg; the "
    "deterministic event_id tie-break makes simultaneous events "
    "reproducible across engines.",
    oracle="""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
      ),
      t AS (
        SELECT prev, event_type AS next, count(*) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
      )
      SELECT prev, next, n,
             round(n::DOUBLE / sum(n) OVER (), 6) AS share
      FROM t
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    t = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # total via broadcast scalar, not a partitionless window (which
    # single-partitions and sprays WindowExec warnings)
    total = t.agg(F.sum("n").alias("total"))
    return t.crossJoin(F.broadcast(total)).select(
        "prev",
        "next",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
    )


@register(
    "timeseries_gapfill_locf",
    "Hypertable-style gap-filled resampling: per user, an hourly grid "
    "spanning that user's activity (sequence + explode — row-local "
    "expansion, no driver loop), hourly avg(value) where events exist, "
    "gaps carried forward with last-observation-carried-forward "
    "(last_value IGNORE NULLS over a per-user hour-ordered window). "
    "One shuffle keys the grid build AND the window on user_id; at "
    "100 TB the grid inflates rows by mean-gap-count, not by a "
    "cross join.",
    oracle="""
      WITH b AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
               round(avg(value), 6) AS hr_avg
        FROM events GROUP BY 1, 2
      ),
      span AS (
        SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM b GROUP BY 1
      ),
      grid AS (
        SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM span
      ),
      j AS (
        SELECT g.user_id, g.hr, b.hr_avg,
               b.hr_avg IS NULL AS is_gap
        FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.hr = b.hr
      )
      SELECT user_id, hr, is_gap,
             last_value(hr_avg IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS value_filled
      FROM j
    """,
)
def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    b = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
            "value",
        )
        .groupBy("user_id", "hr")
        .agg(F.round(F.avg("value"), 6).alias("hr_avg"))
    )
    span = b.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    j = grid.join(b, ["user_id", "hr"], "left").select(
        "user_id", "hr", "hr_avg", F.col("hr_avg").isNull().alias("is_gap")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "hr",
        "is_gap",
        F.last("hr_avg", ignorenulls=True).over(w).alias("value_filled"),
    )


@register(
    "cohort_monthly_retention",
    "Cohort retention matrix over orders: each customer's cohort is "
    "their first order month (one min-agg), activity rows join back "
    "(broadcast-able dim of (customer, cohort)), and the matrix counts "
    "distinct active customers per (cohort_month, months_since). Two "
    "shuffles total — cohort agg on custkey, matrix agg on the "
    "(cohort, offset) pair; months_since via exact month arithmetic "
    "(year*12+month), no date subtraction FP.",
    oracle="""
      WITH first_order AS (
        SELECT o_custkey,
               min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
        FROM orders GROUP BY o_custkey
      ),
      activity AS (
        SELECT o.o_custkey, f.cohort_m,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m
                 AS months_since
        FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
      )
      SELECT cohort_m, months_since,
             count(DISTINCT o_custkey) AS active_customers
      FROM activity
      WHERE months_since <= 12
      GROUP BY cohort_m, months_since
    """,
)
def cohort_monthly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    month_idx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    first = o.groupBy("o_custkey").agg(F.min(month_idx).alias("cohort_m"))
    activity = o.join(first, "o_custkey").select(
        "o_custkey",
        "cohort_m",
        (month_idx - F.col("cohort_m")).alias("months_since"),
    )
    return (
        activity.where(F.col("months_since") <= 12)
        .groupBy("cohort_m", "months_since")
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
    )


@register(
    "join_interval_overlap_sessions_busy",
    "Interval-overlap join — the classic range-join shape (session "
    "intervals x corpus-wide busy hours): per-user 30-min-gap sessions "
    "(the sessionize kernel) joined to hours whose event count exceeds "
    "1.1x the average. The Spark side REWRITES the inequality join as "
    "an hour-grid equi-join (sequence-explode each session into its "
    "covered hour buckets, equi-join on the bucket) — the 100 TB shape: "
    "hash-partitionable, no BroadcastNestedLoopJoin growing with either "
    "side, fanout bounded by session duration. The oracle keeps the "
    "direct inequality overlap join, so matching results PROVE the "
    "rewrite. Busy threshold is relative (scale-free) and built from "
    "IEEE exactly-rounded ops only.",
    oracle="""
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - coalesce(lag(ts) OVER w, ts) > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sess AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW)::BIGINT
                 AS session_id,
               ts
        FROM flagged
      ), intervals AS (
        SELECT user_id, session_id,
               min(ts) AS session_start, max(ts) AS session_end
        FROM sess GROUP BY user_id, session_id
      ), hourly AS (
        SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
                 AS hr, count(*) AS c
        FROM events GROUP BY 1
      ), busy AS (
        SELECT hr, c FROM hourly
        WHERE c > 1.1 * (SELECT avg(c) FROM hourly)
      )
      SELECT i.user_id, i.session_id,
             count(*) AS n_busy_hours,
             max(b.c) AS peak_events
      FROM intervals i JOIN busy b
        ON b.hr <= i.session_end
       AND b.hr + INTERVAL 1 HOUR > i.session_start
      GROUP BY i.user_id, i.session_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.col("ts").cast("double") - F.coalesce(
        F.lag("ts").over(w), F.col("ts")
    ).cast("double")
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(F.when(gap > 1800, 1).otherwise(0)).over(wsum)
        .cast("bigint")
        .alias("session_id"),
    )
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.max("ts").alias("session_end")
    )
    hour_bucket = F.timestamp_seconds(
        (F.col("ts").cast("long") / 3600).cast("long") * 3600
    )
    hourly = ev.groupBy(hour_bucket.alias("hr")).agg(
        F.count(F.lit(1)).alias("c")
    )
    avg_c = hourly.agg(F.avg("c").alias("avg_c"))
    busy = (
        hourly.crossJoin(F.broadcast(avg_c))
        .where(F.col("c") > 1.1 * F.col("avg_c"))
        .select("hr", "c")
    )
    # scale rewrite: explode each session into its covered hour grid,
    # then EQUI-join on the bucket (no inequality/nested-loop join)
    grid = intervals.select(
        "user_id",
        "session_id",
        F.explode(
            F.sequence(
                F.timestamp_seconds(
                    (F.col("session_start").cast("long") / 3600).cast("long")
                    * 3600
                ),
                F.timestamp_seconds(
                    (F.col("session_end").cast("long") / 3600).cast("long")
                    * 3600
                ),
                F.expr("interval 1 hour"),
            )
        ).alias("hr"),
    )
    return (
        grid.join(busy, "hr")
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_busy_hours"),
            F.max("c").alias("peak_events"),
        )
    )


# Round-4 time-series additions over the events table: bounded EWMA,
# SCD2 dimension build, rolling median, and OHLC bars.
#
# Cross-engine FP discipline (the invariants that keep these hash-green):
#
# - The EWMA is built from ``lag()`` terms folded LEFT-ASSOCIATIVELY with
#   IDENTICAL literal weights on both sides (the Python float repr of
#   0.7**k round-trips exactly and both engines parse it to the same
#   double), so the whole expression is the same IEEE op sequence
#   bit-for-bit — no window-frame summation whose order DuckDB's segment
#   trees could reorder.
# - The rolling median interpolates as (a+b)/2 — one add + one halving of
#   2dp-exact doubles, bit-identical on both engines.
# - SCD2 and OHLC use only comparisons, row_number, and min/max — no FP
#   accumulation at all.
#
# Every per-user window orders by (ts, event_id): ts alone ties under
# generated data and an engine-dependent tie order flips lag/lead values.

# identical literal weights on both sides (repr round-trips exactly)
_DECAY = 0.7
_EWMA_TAPS = 8
_W = [repr(_DECAY**k) for k in range(_EWMA_TAPS)]


def _ewma_sql() -> tuple[str, str]:
    """(numerator, denominator) SQL — explicit left-assoc folds."""
    num = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NULL THEN 0.0 "
        f"ELSE {w} * lag(value, {k}) OVER w END"
        for k, w in enumerate(_W)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NULL THEN 0.0 ELSE {w} END"
        for k, w in enumerate(_W)
    )
    return num, den


@register(
    "timeseries_ewma_bounded",
    "Bounded exponentially-weighted moving average (8 taps, decay 0.7) "
    "of event values per user — the smoothing pass behind rate/latency "
    "dashboards. Implemented as a fixed lag-tap FIR filter rather than "
    "a frame aggregate: one window shuffle on user_id, zero FP "
    "order-sensitivity (see module docstring), and at 100 TB the plan "
    "is a single hash-partitioned sort per user partition, identical "
    "to any sessionization pass.",
    oracle=f"""
      SELECT user_id, event_id, ts, value,
             round(({_ewma_sql()[0]}) / ({_ewma_sql()[1]}), 6) AS ewma_8
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def timeseries_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for k, wk in enumerate(_W):
        lagv = F.lag("value", k).over(w)
        term = F.when(lagv.isNull(), 0.0).otherwise(F.lit(float(wk)) * lagv)
        dterm = F.when(lagv.isNull(), 0.0).otherwise(F.lit(float(wk)))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.round(num / den, 6).alias("ewma_8"),
    )


@register(
    "window_rolling_median",
    "Exact rolling median of event values over a 7-row trailing frame "
    "per user — the robust-smoothing twin of the moving average "
    "(medians shrug off the spike outliers that wreck means). Spark "
    "runs the percentile aggregate over a ROWS frame; the oracle uses "
    "quantile_cont. Both interpolate even-count frames as (a+b)/2 — "
    "one add and one exact halving of 2dp doubles, bit-identical "
    "across engines (module docstring). One shuffle on user_id.",
    oracle="""
      SELECT user_id, event_id, ts, value,
             round(quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS rolling_median
      FROM events
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias(
            "rolling_median"
        ),
    )


@register(
    "timeseries_ohlc_hourly",
    "OHLC candlestick bars: per (user, hour) the opening value (first "
    "by (ts, event_id)), high, low, closing value (last), and the "
    "event count. open/close via row_number over one window pass; "
    "high/low/n via the grouped aggregate — comparisons and min/max "
    "only, zero FP accumulation. One shuffle on (user, hour); at scale "
    "this is the canonical pre-aggregation that turns a raw tick "
    "stream into a queryable rollup 1000x smaller.",
    oracle="""
      WITH ranked AS (
        SELECT user_id, date_trunc('hour', ts) AS bar_hour, value,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
      )
      SELECT user_id, bar_hour,
             min(CASE WHEN rn_a = 1 THEN value END) AS open_v,
             max(value) AS high_v,
             min(value) AS low_v,
             min(CASE WHEN rn_d = 1 THEN value END) AS close_v,
             count(*) AS n_events
      FROM ranked
      GROUP BY user_id, bar_hour
    """,
)
def timeseries_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", "ts").alias("bar_hour"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("user_id", "bar_hour").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bar_hour").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.select(
        "user_id",
        "bar_hour",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("user_id", "bar_hour").agg(
        F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.min(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


_TREND_HALF_LIFE_S = 21600.0  # 6 h
_LN2 = 0.6931471805599453


@register(
    "trending_decayed_topk",
    "Exponentially-decayed trending counts (streaming/trending.py's "
    "batch shape): each event-type mention weighs 2^(-age/6h) as of "
    "the corpus max timestamp, so a recent burst outranks a stale "
    "pile — the 'what is trending NOW' primitive. One broadcast "
    "1-row max-ts frame + one groupBy; weights are exp of "
    "non-positive arguments (no overflow), ages in microsecond-exact "
    "double seconds on both engines, identical ln2 literal. "
    "Deterministic top-5 on the rounded count with a token "
    "tie-break.",
    oracle=f"""
      WITH t AS (SELECT max(ts) AS t_end FROM events)
      SELECT event_type,
             count(*) AS n_mentions,
             round(sum(exp((epoch(ts) - epoch(t_end))
                           / {_TREND_HALF_LIFE_S} * {_LN2})), 6)
               AS decayed_count
      FROM events, t
      GROUP BY event_type
      ORDER BY decayed_count DESC, event_type
      LIMIT 5
    """,
)
def trending_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    t_end = ev.agg(F.max("ts").alias("t_end"))
    age = F.col("ts").cast("double") - F.col("t_end").cast("double")
    w = F.exp(age / F.lit(_TREND_HALF_LIFE_S) * F.lit(_LN2))
    return (
        ev.crossJoin(F.broadcast(t_end))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.round(F.sum(w), 6).alias("decayed_count"),
        )
        .orderBy(F.desc("decayed_count"), "event_type")
        .limit(5)
    )


# ---------------------------------------------- event inter-arrival


@register(
    "events_interarrival_stats",
    "Per-event-type inter-arrival profile (median / p95 / max gap "
    "seconds between consecutive events of the same type for the same "
    "user) — the stream-health statistic behind watermark and session-"
    "gap tuning. One lag window per (user, type) partition ordered by "
    "(ts, event_id) (the id tie-break makes equal-timestamp ordering "
    "deterministic), gaps in integer microseconds, then one agg with "
    "interpolated percentiles. 100 TB: single shuffle on the window "
    "key; percentile_approx swaps in where exact sorting is too "
    "expensive (see agg_approx_distinct_and_percentile).",
    oracle="""
      WITH g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY ts, event_id) AS gap_us
        FROM events
      )
      SELECT event_type,
             count(*) AS n_gaps,
             round(quantile_cont(gap_us, 0.5) / 1e6, 4) AS p50_s,
             round(quantile_cont(gap_us, 0.95) / 1e6, 4) AS p95_s,
             round(max(gap_us) / 1e6, 4) AS max_s
      FROM g WHERE gap_us IS NOT NULL
      GROUP BY event_type ORDER BY event_type
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
    )
    us = F.expr("unix_micros(ts)")
    g = e.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.percentile("gap_us", F.lit(0.5)) / 1e6, 4).alias(
                "p50_s"
            ),
            F.round(F.percentile("gap_us", F.lit(0.95)) / 1e6, 4).alias(
                "p95_s"
            ),
            F.round(F.max("gap_us") / 1e6, 4).alias("max_s"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------- markov


@register(
    "markov_second_order_transitions",
    "SECOND-order Markov model over per-user event streams: condition "
    "the next event on the previous TWO (lag-2, lag-1) states — the "
    "step up from events_transition_matrix's first-order edge counts "
    "that captures momentum patterns (e.g. view>click converts "
    "differently than click>view). Per-context conditional "
    "probabilities are ratios of exact integer counts over a "
    "|types|^2-sized context space. 100 TB: one window shuffle on "
    "user_id (both lags share the single sort) + one map-side-combined "
    "count agg; the context key space stays tiny regardless of data "
    "volume.",
    oracle="""
      WITH p AS (
        SELECT lag(event_type, 2) OVER w AS s2,
               lag(event_type, 1) OVER w AS s1,
               event_type AS dst
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      c AS (
        SELECT s2 || '>' || s1 AS ctx, dst, count(*) AS n
        FROM p WHERE s2 IS NOT NULL GROUP BY 1, 2
      )
      SELECT ctx, dst, n,
             round(n::DOUBLE / sum(n) OVER (PARTITION BY ctx), 6) AS prob
      FROM c
      ORDER BY n DESC, ctx, dst
      LIMIT 20
    """,
)
def markov_second_order_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        F.lag("event_type", 2).over(w).alias("s2"),
        F.lag("event_type", 1).over(w).alias("s1"),
        F.col("event_type").alias("dst"),
    ).where(F.col("s2").isNotNull())
    c = p.groupBy(
        F.concat_ws(">", "s2", "s1").alias("ctx"), "dst"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("ctx"))
    return (
        c.select(
            "ctx",
            "dst",
            "n",
            F.round(F.col("n").cast("double") / tot, 6).alias("prob"),
        )
        .orderBy(F.col("n").desc(), "ctx", "dst")
        .limit(20)
    )


@register(
    "path_top_sequences",
    "Top entry paths: each user's first three events (ordered by ts, "
    "event_id) joined into an 'a>b>c' path string, counted across "
    "users — the product-analytics 'common journeys' report. Spark "
    "builds the path with array_sort(collect_list(struct(rn, type))) + "
    "a transform/array_join HOF (order pinned by rn, not shuffle "
    "arrival); the oracle uses DuckDB's ordered string_agg — "
    "independent formulations. 100 TB: the row_number window and the "
    "path agg share the user_id partitioning, so the whole plan is one "
    "shuffle + one tiny count agg.",
    oracle="""
      WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ),
      p AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 3 GROUP BY user_id HAVING count(*) = 3
      )
      SELECT path, count(*) AS n_users
      FROM p GROUP BY path
      ORDER BY n_users DESC, path
      LIMIT 15
    """,
)
def path_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= 3)
    per_user = (
        first3.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_ev"),
            F.array_sort(
                F.collect_list(F.struct("rn", "event_type"))
            ).alias("seq"),
        )
        .where(F.col("n_ev") == 3)
        .select(
            F.expr(
                "array_join(transform(seq, s -> s.event_type), '>')"
            ).alias("path")
        )
    )
    return (
        per_user.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(15)
    )


# -------------------------------------------------------------- anomaly


@register(
    "timeseries_anomaly_zscore",
    "Rolling z-score anomaly detection on hourly event-type counts: "
    "each (type, hour) bucket is scored against the trailing 24 "
    "buckets' mean/std (ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) and "
    "flagged when |z| > 2 with >= 12 history buckets — the volume-spike "
    "monitor every ingest pipeline runs. The rolling sum/sum-of-squares "
    "are INTEGER counts (exact, order-independent — no FP window "
    "accumulation; the variance formula goes double only in the final "
    "expression, written identically on both engines). 100 TB: the "
    "hourly pre-agg collapses the stream 10^5:1 before the window, "
    "which then shuffles only (type, hour, count) triples.",
    oracle="""
      WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events GROUP BY 1, 2
      ),
      w AS (
        SELECT event_type, hr, n,
               count(*) OVER win AS m,
               sum(n) OVER win AS s,
               sum(n * n) OVER win AS ss
        FROM h
        WINDOW win AS (PARTITION BY event_type ORDER BY hr
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      )
      SELECT event_type, strftime(hr, '%Y-%m-%d %H:00') AS hour, n,
             round((n - s::DOUBLE / m) /
                   sqrt((ss - s::DOUBLE * s / m) / (m - 1)), 4) AS zscore
      FROM w
      WHERE m >= 12 AND (ss - s::DOUBLE * s / m) > 0
        AND abs((n - s::DOUBLE / m) /
                sqrt((ss - s::DOUBLE * s / m) / (m - 1))) > 2
      ORDER BY event_type, hour
    """,
)
def timeseries_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    win = (
        Window.partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
    )
    w = h.select(
        "event_type",
        "hr",
        "n",
        F.count(F.lit(1)).over(win).alias("m"),
        F.sum("n").over(win).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(win).alias("ss"),
    )
    s_d = F.col("s").cast("double")
    mean = s_d / F.col("m")
    var = (F.col("ss") - s_d * F.col("s") / F.col("m")) / (F.col("m") - 1)
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        w.where(
            (F.col("m") >= 12)
            & ((F.col("ss") - s_d * F.col("s") / F.col("m")) > 0)
            & (F.abs(z) > 2)
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:00").alias("hour"),
            "n",
            F.round(z, 4).alias("zscore"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "timeseries_linear_interpolate",
    "Hourly gap-fill with LINEAR interpolation (the sibling of "
    "timeseries_gapfill_locf): per event_type, densify the hourly "
    "avg(value) series onto a complete min..max hour grid and fill "
    "missing hours as prev + (next - prev) * elapsed-fraction, using "
    "last/first IGNORE NULLS windows for the bracketing observations "
    "and exact integer epoch-microsecond arithmetic for the fraction. "
    "100 TB: the grid explode is per-type and the two fill windows "
    "reuse one (type ORDER BY hr) sort — a single shuffle over the "
    "ALREADY hourly-collapsed frame, never the raw stream.",
    oracle="""
      WITH h AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               round(avg(value), 6) AS v
        FROM events GROUP BY 1, 2
      ),
      b AS (
        SELECT event_type, min(hr) AS lo, max(hr) AS hi
        FROM h GROUP BY 1
      ),
      grid AS (
        SELECT event_type,
               unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        FROM b
      ),
      j AS (
        SELECT g.event_type, g.hr, h.v FROM grid g
        LEFT JOIN h ON h.event_type = g.event_type AND h.hr = g.hr
      ),
      f AS (
        SELECT event_type, hr, v,
               last_value(v IGNORE NULLS) OVER
                 (PARTITION BY event_type ORDER BY hr
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY hr
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
               first_value(v IGNORE NULLS) OVER
                 (PARTITION BY event_type ORDER BY hr
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
                 OVER (PARTITION BY event_type ORDER BY hr
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM j
      )
      SELECT event_type, strftime(hr, '%Y-%m-%d %H:00') AS hour,
             CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS observed,
             CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                    round(pv + (nv - pv) *
                          ((epoch_us(hr) - epoch_us(pt))::DOUBLE
                           / (epoch_us(nt) - epoch_us(pt))), 6)
                  ELSE coalesce(pv, nv) END AS filled
      FROM f
      ORDER BY event_type, hour
    """,
)
def timeseries_linear_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Spark formulation avoids the oracle's grid-join entirely: each
    # OBSERVED hour looks ahead to the next observed hour (lead over
    # the one per-type sort) and map-side explodes the gap hours in
    # between, interpolating against the bracketing pair it already
    # holds — one events scan, one window shuffle, no second hourly
    # agg for the bounds and no densify join. Produces exactly the
    # oracle's per-type min..max grid.
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    w = Window.partitionBy("event_type").orderBy("hr")
    led = h.select(
        "event_type",
        "hr",
        "v",
        F.lead("hr").over(w).alias("nt"),
        F.lead("v").over(w).alias("nv"),
    )
    g = led.select(
        "event_type",
        "hr",
        "v",
        "nt",
        "nv",
        F.explode(
            F.expr(
                "sequence(hr, coalesce(nt - interval 1 hour, hr), "
                "interval 1 hour)"
            )
        ).alias("ghr"),
    )
    frac = (
        (F.unix_micros(F.col("ghr")) - F.unix_micros(F.col("hr"))).cast(
            "double"
        )
        / (F.unix_micros(F.col("nt")) - F.unix_micros(F.col("hr")))
    )
    observed = F.col("ghr") == F.col("hr")
    filled = F.when(observed, F.col("v")).otherwise(
        F.round(F.col("v") + (F.col("nv") - F.col("v")) * frac, 6)
    )
    return g.select(
        "event_type",
        F.date_format("ghr", "yyyy-MM-dd HH:00").alias("hour"),
        F.when(observed, 1).otherwise(0).alias("observed"),
        filled.alias("filled"),
    ).orderBy("event_type", "hour")


# --------------------------------------------------------- rolling mode


@register(
    "window_rolling_mode",
    "Rolling MODE — each event's most frequent event_type over the "
    "user's trailing 10 events (count desc, type asc tie-break): the "
    "'dominant recent behavior' feature engines rarely ship because "
    "mode doesn't decompose like sum/min. Spark: ONE window pass "
    "collects the trailing types (frame-ordered, deterministic) and a "
    "bounded HOF picks the mode via array_min over (-count, type) "
    "structs — per-row cost is window-sized, never corpus-sized, and "
    "the lambda only references the window-materialized array (safe "
    "from projection-collapse duplication). The oracle independently "
    "recounts via a bounded rn-band self-join + argmax. 100 TB: the "
    "single user_id window shuffle every sessionization pass already "
    "pays; no joins.",
    oracle="""
      WITH r AS (
        SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ),
      pairs AS (
        SELECT a.user_id, a.rn, b.event_type AS t
        FROM r a JOIN r b
          ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 9 AND a.rn
      ),
      c AS (
        SELECT user_id, rn, t, count(*) AS cnt
        FROM pairs GROUP BY user_id, rn, t
      ),
      m AS (
        SELECT user_id, rn, t, cnt,
               sum(cnt) OVER (PARTITION BY user_id, rn)::BIGINT AS wn,
               row_number() OVER (PARTITION BY user_id, rn
                                  ORDER BY cnt DESC, t) AS pick
        FROM c
      )
      SELECT user_id, rn, t AS mode_type, cnt AS mode_cnt, wn AS window_n
      FROM m WHERE pick = 1
      ORDER BY user_id, rn
    """,
)
def window_rolling_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wtrail = w.rowsBetween(-9, 0)
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.collect_list("event_type").over(wtrail).alias("arr"),
    )
    # mode = min over (-count, type): highest count first, then the
    # lexicographically smallest type — matches the oracle's ORDER BY
    # cnt DESC, t tie-break exactly. The expression is referenced
    # twice below (projection collapse duplicates it) — deliberate:
    # the HOF scans a <=10-element window array, so the duplicated
    # cost is O(20) per row, not the corpus-derived blowup the
    # CLAUDE.md collapse rule targets.
    mode = F.expr(
        "array_min(transform(array_distinct(arr), x -> "
        "struct(-size(filter(arr, y -> y = x)) AS negc, x AS t)))"
    )
    return base.select(
        "user_id",
        "rn",
        mode.getField("t").alias("mode_type"),
        (-mode.getField("negc")).cast("long").alias("mode_cnt"),
        F.size("arr").cast("long").alias("window_n"),
    ).orderBy("user_id", "rn")


# ------------------------------------------------------ diurnal profile


@register(
    "timeseries_diurnal_profile",
    "Diurnal (hour-of-day) seasonality profile per event type: volume, "
    "share of the type's events, mean value, and a peak-hour flag — "
    "the seasonal component every capacity planner and anomaly "
    "baseline starts from. Counts and shares are exact integers/"
    "ratios; the per-bucket mean is rounded 6dp (the proven hourly-avg "
    "discipline); the peak flag compares integer counts only. 100 TB: "
    "one map-side-combined agg onto a 24x|types| key space, then "
    "constant-size windows.",
    oracle="""
      WITH h AS (
        SELECT event_type, hour(ts) AS hod, count(*) AS n,
               round(avg(value), 6) AS avg_value
        FROM events GROUP BY 1, 2
      )
      SELECT event_type, hod, n,
             round(n::DOUBLE / sum(n) OVER (PARTITION BY event_type), 6)
               AS share,
             avg_value,
             CASE WHEN n = max(n) OVER (PARTITION BY event_type)
                  THEN 1 ELSE 0 END AS is_peak_hour
      FROM h
      ORDER BY event_type, hod
    """,
)
def timeseries_diurnal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    wt = Window.partitionBy("event_type")
    return h.select(
        "event_type",
        "hod",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias(
            "share"
        ),
        "avg_value",
        F.when(F.col("n") == F.max("n").over(wt), 1)
        .otherwise(0)
        .alias("is_peak_hour"),
    ).orderBy("event_type", "hod")


# ------------------------------------------------ autocorrelation


_ACF_MAX_LAG = 6


@register(
    "timeseries_acf_hourly",
    "Autocorrelation function of the hourly event-count series at lags "
    "1..6 — the seasonality screen before any forecasting model: "
    "events collapse to integer (hour_index, count) once (the same "
    "pre-agg discipline as the anomaly z-score entry), then each lag's "
    "Pearson r comes from EXACT integer sums (n, Σx, Σy, Σxx, Σyy, "
    "Σxy) over pairs matched by an hour_index + lag equi-join — "
    "missing hours drop out of the join on both engines identically, "
    "and one double division per lag at the end keeps the FP "
    "summation-order surface at zero. 100 TB: the hourly frame is "
    "bounded by the time domain (a year is 8.8k rows); the 6-lag "
    "expansion and joins are constant-size after the one real "
    "aggregation over raw events.",
    oracle=f"""
      WITH h AS (
        SELECT epoch_us(ts) // {HOUR_US} AS hi, count(*)::BIGINT AS c
        FROM events GROUP BY 1
      ),
      p AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM (SELECT unnest(range(1, {_ACF_MAX_LAG} + 1)) AS lag) l
        JOIN h a ON true
        JOIN h b ON b.hi = a.hi + l.lag
      ),
      s AS (
        SELECT lag, count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
               sum(x * y)::BIGINT AS sxy
        FROM p GROUP BY lag
      )
      SELECT lag::BIGINT AS lag, n,
             round((n * sxy - sx * sy)::DOUBLE
                   / (sqrt((n * sxx - sx * sx)::DOUBLE)
                      * sqrt((n * syy - sy * sy)::DOUBLE)), 6) AS acf
      FROM s WHERE n * sxx > sx * sx AND n * syy > sy * sy
      ORDER BY lag
    """,
)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # integer-µs floor division (CLAUDE.md: div, never double division)
    h = e.groupBy(
        F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hi")
    ).agg(F.count(F.lit(1)).alias("c"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = h.select(F.col("hi").alias("a_hi"), F.col("c").alias("x"))
    b = h.select(F.col("hi").alias("b_hi"), F.col("c").alias("y"))
    p = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("b_hi") == F.col("a_hi") + F.col("lag")
    )
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return (
        s.where((n * sxx > sx * sx) & (n * syy > sy * sy))
        .select(
            "lag",
            "n",
            F.round(
                (n * sxy - sx * sy).cast("double")
                / (
                    F.sqrt((n * sxx - sx * sx).cast("double"))
                    * F.sqrt((n * syy - sy * sy).cast("double"))
                ),
                6,
            ).alias("acf"),
        )
        .orderBy("lag")
    )


# ------------------------------------------------- CUSUM changepoint


@register(
    "changepoint_cusum_max",
    "CUSUM changepoint detection over the hourly event-count series: "
    "the classic level-shift locator argmax_i |S_i| with S_i = "
    "prefix_i - i*mean is computed in SCALED INTEGER arithmetic — "
    "m*S_i = m*prefix_i - i*total is exact in bigint, so the argmax "
    "(the changepoint) cannot flap on FP summation order; the "
    "statistic is divided back to a rounded double only in the final "
    "projection. The prefix sum runs over the PRE-COLLAPSED hourly "
    "frame (cardinality = the hour domain, ~8.8k/year at any corpus "
    "size — the documented bounded-window exemption), ordered by hour "
    "index with the smallest index winning ties deterministically. "
    "100 TB: one real aggregation over events; the window never sees "
    "raw rows.",
    oracle=f"""
      WITH h AS (
        SELECT epoch_us(ts) // {HOUR_US} AS hi, count(*)::BIGINT AS c
        FROM events GROUP BY 1
      ),
      t AS (SELECT count(*)::BIGINT AS m, sum(c)::BIGINT AS total FROM h),
      p AS (
        SELECT hi,
               row_number() OVER (ORDER BY hi) AS i,
               sum(c) OVER (ORDER BY hi
                            ROWS UNBOUNDED PRECEDING) AS prefix,
               t.m, t.total
        FROM h, t
      ),
      s AS (
        SELECT hi, i, m, total,
               m * prefix - i * total AS scaled,
               abs(m * prefix - i * total) AS mag
        FROM p
      )
      SELECT hi AS at_hour_index, m AS n_hours, total AS n_events,
             scaled::BIGINT AS cusum_scaled,
             round(scaled::DOUBLE / m, 6) AS cusum
      FROM s ORDER BY mag DESC, hi LIMIT 1
    """,
)
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # integer-µs floor division (CLAUDE.md: div, never double division)
    h = e.groupBy(
        F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hi")
    ).agg(F.count(F.lit(1)).alias("c"))
    t = h.agg(
        F.count(F.lit(1)).alias("m"), F.sum("c").alias("total")
    )
    # unpartitioned windows below are scale-safe: the frame is the
    # hourly histogram (bounded by the hour domain), never raw events
    w = Window.orderBy("hi")
    p = h.crossJoin(F.broadcast(t)).select(
        "hi",
        "m",
        "total",
        F.row_number().over(w).alias("i"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "prefix"
        ),
    )
    scaled = F.col("m") * F.col("prefix") - F.col("i") * F.col("total")
    return (
        p.select(
            F.col("hi").alias("at_hour_index"),
            F.col("m").alias("n_hours"),
            F.col("total").alias("n_events"),
            scaled.alias("cusum_scaled"),
            F.round(scaled.cast("double") / F.col("m"), 6).alias("cusum"),
            F.abs(scaled).alias("_mag"),
        )
        .orderBy(F.col("_mag").desc(), "at_hour_index")
        .drop("_mag")
        .limit(1)
    )


# ------------------------------------------------ bitmap retention

_DAY_US = 86_400_000_000


@register(
    "retention_bitmap_daily",
    "Retention analysis via BIT-PACKED activity masks — the ClickHouse/"
    "Druid trick for cohort math without row explosions: each user's "
    "30-day event history collapses to ONE bigint (bit k = active on "
    "day-offset k, bit_or-aggregated map-side), and every retention "
    "question becomes integer bit arithmetic on the 1-row-per-user "
    "mask frame — here the day-0 retention curve (users active on day "
    "0 AND day k) plus per-day actives, via a broadcast crossJoin of "
    "the bounded day spine. Offsets are clamped to the 64-bit window "
    "identically on both engines (segment masks per month at longer "
    "horizons). 100 TB: raw events reduce to |users| bigints in one "
    "combine-heavy agg; everything after is constant-size.",
    oracle=f"""
      WITH d0 AS (
        SELECT min(epoch_us(ts) // {_DAY_US}) AS day0 FROM events
      ),
      m AS (
        SELECT user_id,
               bit_or(1::BIGINT << ((epoch_us(ts) // {_DAY_US}) - day0)
                      ::INT) AS mask
        FROM events, d0
        WHERE (epoch_us(ts) // {_DAY_US}) - day0 < 64
        GROUP BY user_id
      ),
      spine AS (SELECT unnest(range(0, 64)) AS k)
      SELECT k::BIGINT AS day_k,
             count(*) FILTER (WHERE (mask >> k::INT) & 1 = 1)::BIGINT
               AS n_active,
             count(*) FILTER (WHERE mask & 1 = 1
                              AND (mask >> k::INT) & 1 = 1)::BIGINT
               AS n_retained_from_day0
      FROM m, spine
      GROUP BY k HAVING count(*) FILTER (WHERE (mask >> k::INT) & 1 = 1) > 0
      ORDER BY day_k
    """,
)
def retention_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(ts) div {_DAY_US}")
    d0 = e.agg(F.min(day).alias("day0"))
    m = (
        e.crossJoin(F.broadcast(d0))
        .select("user_id", (day - F.col("day0")).cast("int").alias("off"))
        .where(F.col("off") < 64)
        .groupBy("user_id")
        .agg(
            F.expr("bit_or(shiftleft(1L, off))").alias("mask")
        )
    )
    spine = spark.range(0, 64).select(F.col("id").alias("day_k"))
    # F.shiftright only takes a literal shift — the column-shift form
    # goes through expr (and the bit test needs a BIGINT literal)
    active = F.expr("(shiftright(mask, cast(day_k AS INT)) & 1L) = 1L")
    day0 = F.expr("(mask & 1L) = 1L")
    return (
        m.crossJoin(F.broadcast(spine))
        .groupBy("day_k")
        .agg(
            F.count_if(active).alias("n_active"),
            F.count_if(active & day0).alias("n_retained_from_day0"),
        )
        .where(F.col("n_active") > 0)
        .orderBy("day_k")
    )


# ---------------------------------------------- interval union coverage

_SPAN_US = 600_000_000  # each event covers [ts, ts + 10 min)


@register(
    "interval_union_coverage",
    "Interval-union coverage (the uptime/SLA sweep-line classic, and "
    "the missing sibling of the interval-overlap JOIN): each event "
    "opens a 10-minute activity interval; per user, overlapping "
    "intervals merge into islands (start > running max of prior ends "
    "opens a new island — lag-free sweep line via an EXCLUSIVE-frame "
    "running max + conditional cumsum, the sessionize discipline) and "
    "the report gives island count, total covered microseconds "
    "(exact integers), and the covered share of the user's active "
    "span. Two window passes over ONE shuffle on user_id. 100 TB: "
    "partitioned by the entity key; per-partition sort is the "
    "algorithm's intrinsic cost, no self-join, no explosion.",
    oracle=f"""
      WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s,
               epoch_us(ts) + {_SPAN_US} AS e,
               event_id
        FROM events
      ),
      flagged AS (
        SELECT user_id, s, e, event_id,
               CASE WHEN s > coalesce(
                      max(e) OVER (PARTITION BY user_id
                                   ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
      ),
      islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id
                                     ORDER BY s, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW)::BIGINT
                 AS island_id
        FROM flagged
      ),
      merged AS (
        SELECT user_id, island_id,
               min(s)::BIGINT AS island_s, max(e)::BIGINT AS island_e
        FROM islands GROUP BY user_id, island_id
      )
      SELECT user_id,
             count(*)::BIGINT AS n_islands,
             sum(island_e - island_s)::BIGINT AS covered_us,
             round(sum(island_e - island_s)::DOUBLE
                   / (max(island_e) - min(island_s)), 6) AS coverage_ratio
      FROM merged GROUP BY user_id ORDER BY user_id
    """,
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.lit(_SPAN_US)).alias("e"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prior_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        "event_id",
        F.when(
            F.col("s") > F.coalesce(prior_max_e, F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_s"), F.max("e").alias("island_e")
    )
    span = F.col("island_e") - F.col("island_s")
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(span).alias("covered_us"),
            F.round(
                F.sum(span).cast("double")
                / (F.max("island_e") - F.min("island_s")),
                6,
            ).alias("coverage_ratio"),
        )
        .orderBy("user_id")
    )


# ------------------------------------- row pattern matching (V-shapes)


@register(
    "window_pattern_vshape_runs",
    "SQL:2016 row pattern matching (MATCH_RECOGNIZE's DOWN+ UP+ "
    "V-shape, which Spark lacks) COMPILED to runs + windows: per-user "
    "value sequences get a sign-of-delta direction, monotone runs "
    "form islands (direction-change flag + cumsum — the sessionize "
    "discipline), and a V is a strict-down run immediately followed "
    "by a strict-up run; the report counts Vs per user and the "
    "deepest trough (run-start value minus run-min, one rounded "
    "subtraction). Three window passes over ONE shuffle on user_id — "
    "the standard compilation of variable-length row patterns onto a "
    "distributed engine, no self-join, no per-row UDF state machine. "
    "100 TB: everything is keyed by the entity; per-key sort is the "
    "pattern semantics' intrinsic cost.",
    oracle="""
      WITH d AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN value > lag(value) OVER w THEN 1
                    WHEN value < lag(value) OVER w THEN -1
                    ELSE 0 END AS dir
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      flagged AS (
        SELECT user_id, ts, event_id, value, dir,
               CASE WHEN dir IS DISTINCT FROM lag(dir) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM d WHERE dir IS NOT NULL AND dir <> 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      runs AS (
        SELECT user_id, ts, event_id, value, dir,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS run_id
        FROM flagged
      ),
      r AS (
        SELECT user_id, run_id, min(dir) AS dir,
               arg_min(value, ts) AS v_start,
               min(value) AS v_min,
               count(*)::BIGINT AS run_len
        FROM runs GROUP BY user_id, run_id
      ),
      v AS (
        SELECT a.user_id,
               round(a.v_start - a.v_min, 2) AS depth
        FROM r a JOIN r b
          ON b.user_id = a.user_id AND b.run_id = a.run_id + 1
        WHERE a.dir = -1 AND b.dir = 1
      )
      SELECT user_id, count(*)::BIGINT AS n_vshapes,
             round(max(depth), 2) AS max_depth
      FROM v GROUP BY user_id ORDER BY user_id
    """,
)
def window_pattern_vshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagv = F.lag("value").over(w)
    d = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("value") > lagv, 1)
        .when(F.col("value") < lagv, -1)
        .otherwise(F.when(lagv.isNull(), F.lit(None)).otherwise(0))
        .alias("dir"),
    ).where(F.col("dir").isNotNull() & (F.col("dir") != 0))
    flagged = d.withColumn(
        "chg",
        F.when(
            ~F.col("dir").eqNullSafe(F.lag("dir").over(w)), 1
        ).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    r = runs.groupBy("user_id", "run_id").agg(
        F.min("dir").alias("dir"),
        F.min_by("value", "ts").alias("v_start"),
        F.min("value").alias("v_min"),
        F.count(F.lit(1)).alias("run_len"),
    )
    a = r.where(F.col("dir") == -1).select(
        "user_id",
        F.col("run_id").alias("rid"),
        F.round(F.col("v_start") - F.col("v_min"), 2).alias("depth"),
    )
    b = r.where(F.col("dir") == 1).select(
        F.col("user_id").alias("ub"), F.col("run_id").alias("rid_b")
    )
    v = a.join(
        b,
        (F.col("user_id") == F.col("ub"))
        & (F.col("rid_b") == F.col("rid") + 1),
    )
    return (
        v.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_vshapes"),
            F.round(F.max("depth"), 2).alias("max_depth"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------- funnel time-to-convert


@register(
    "funnel_time_to_convert",
    "Funnel latency distribution — the metric behind 'median time "
    "from first view to purchase': per user, the first 'view' "
    "timestamp (a conditional min carried by a user-partitioned "
    "window) anchors the funnel, the first subsequent 'purchase' "
    "closes it, and the corpus-level digest reports funnel entry/"
    "conversion counts, the conversion rate, and median / p90 "
    "conversion delay in seconds (integer-microsecond delays; one "
    "percentile interpolation over the per-user delay multiset). ONE "
    "shuffle on user_id does everything before the constant-size "
    "digest. 100 TB: per-entity windows + a bounded final agg — the "
    "delay frame is one row per converted user.",
    oracle="""
      WITH fv AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                 AS first_view
        FROM events GROUP BY user_id
      ),
      conv AS (
        SELECT e.user_id,
               min(epoch_us(e.ts)) - fv.first_view AS delay_us
        FROM events e JOIN fv ON fv.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND fv.first_view IS NOT NULL
          AND epoch_us(e.ts) >= fv.first_view
        GROUP BY e.user_id, fv.first_view
      )
      SELECT (SELECT count(*) FROM fv WHERE first_view IS NOT NULL)
               ::BIGINT AS n_entered,
             count(*)::BIGINT AS n_converted,
             round(count(*)::DOUBLE
                   / (SELECT count(*) FROM fv
                      WHERE first_view IS NOT NULL), 6) AS conversion_rate,
             round(median(delay_us) / 1e6, 3) AS median_delay_sec,
             round(quantile_cont(delay_us, 0.9) / 1e6, 3) AS p90_delay_sec
      FROM conv
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id")
    first_view = F.min(
        F.when(F.col("event_type") == "view", us)
    ).over(w)
    rows = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        first_view.alias("first_view"),
    )
    conv = (
        rows.where(
            (F.col("event_type") == "purchase")
            & F.col("first_view").isNotNull()
            & (F.col("us") >= F.col("first_view"))
        )
        .groupBy("user_id", "first_view")
        .agg((F.min("us") - F.col("first_view")).alias("delay_us"))
    )
    entered = (
        rows.where(F.col("first_view").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    # `entered` is a bounded driver scalar (one count over the same
    # shuffled frame); inlining it keeps the digest a single row
    return conv.agg(
        F.lit(entered).cast("bigint").alias("n_entered"),
        F.count(F.lit(1)).alias("n_converted"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.lit(entered), 6
        ).alias("conversion_rate"),
        F.round(F.expr("percentile(delay_us, 0.5)") / 1e6, 3).alias(
            "median_delay_sec"
        ),
        F.round(F.expr("percentile(delay_us, 0.9)") / 1e6, 3).alias(
            "p90_delay_sec"
        ),
    )


# Round-5 sixth wave: survival analysis (Kaplan-Meier), multi-touch
# attribution, reciprocal-rank fusion, geohash spatial binning, seasonal
# decomposition, and time-weighted averages.  Every entry keeps its
# running state in exact integers (quantized logs, ppm credit shares,
# bit-interleaved codes, 25x-scaled deviations, cents x seconds) so the
# DuckDB twins hash-match; doubles appear only in final rounded columns.
#
# Reference parity: these are the analytics a user of the reference
# (jollyboss123/scout) runs AROUND its serve path — the reference's own
# scan/score/rank shape is covered by retrieval.py and relational.py;
# this module extends the warehouse-side insight family (cf. reference
# repo.py's candidate-scan + app.py's ranked responses for the fusion
# entry's two-ranker shape).

# --------------------------------------- Kaplan-Meier survival curve

_KM_LN_SCALE = 1_000_000_000  # ln terms quantized to 1e-9 before summing
_KM_ZERO_Q = -100 * _KM_LN_SCALE  # stands in for ln(0): exp(-100) -> 0.0


@register(
    "survival_kaplan_meier",
    "Kaplan-Meier survival estimator — time-to-conversion with RIGHT "
    "CENSORING, the statistic behind retention/churn curves that a "
    "plain funnel (funnel_time_to_convert) gets wrong because users "
    "who have not converted YET are evidence, not missing data. Each "
    "user anchors at first 'view'; the event is first 'purchase' at or "
    "after the anchor; users without one are censored at the corpus "
    "horizon (global max ts). Durations in whole hours (integer-µs "
    "floor division). Per distinct event time: d deaths, n at risk "
    "(reverse-cumulative integer sum), and the product-limit survivor "
    "S(t) = prod(1 - d/n) carried as a RUNNING INTEGER sum of "
    "1e-9-quantized ln terms (d = n contributes a -100 sentinel, i.e. "
    "exp -> 0), so both engines sum exactly and only the final "
    "exp/round is floating point. 100 TB: risk sets come from one "
    "groupBy(duration) plus windows over |distinct durations| rows — "
    "the per-user scan never sorts globally.",
    oracle=f"""
      WITH anchors AS (
        SELECT user_id, min(ts) AS a FROM events
        WHERE event_type = 'view' GROUP BY user_id
      ),
      deaths AS (
        SELECT e.user_id, min(e.ts) AS p
        FROM events e JOIN anchors an ON e.user_id = an.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= an.a
        GROUP BY e.user_id
      ),
      horizon AS (SELECT max(ts) AS mt FROM events),
      subj AS (
        SELECT CASE WHEN d.p IS NOT NULL
                 THEN (epoch_us(d.p) - epoch_us(an.a)) // 3600000000
                 ELSE (epoch_us(h.mt) - epoch_us(an.a)) // 3600000000
               END AS dur,
               CASE WHEN d.p IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM anchors an LEFT JOIN deaths d USING (user_id), horizon h
      ),
      grp AS (
        SELECT dur, sum(ev)::BIGINT AS d, count(*)::BIGINT AS c
        FROM subj GROUP BY dur
      ),
      risk AS (
        SELECT dur, d,
               sum(c) OVER (ORDER BY dur DESC) AS n_risk
        FROM grp
      ),
      km AS (
        SELECT dur, d, n_risk,
               sum(CASE WHEN d = n_risk THEN {_KM_ZERO_Q}
                        ELSE round(ln(1.0 - d::DOUBLE / n_risk)
                                   * {_KM_LN_SCALE})::BIGINT END)
                 OVER (ORDER BY dur) AS cum_q
        FROM risk WHERE d > 0
      )
      SELECT dur::BIGINT AS t_hours,
             n_risk::BIGINT AS n_risk,
             d AS n_events,
             round(exp(cum_q / {_KM_LN_SCALE}.0), 6) AS survival
      FROM km ORDER BY t_hours
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    anchors = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("a"))
    )
    deaths = (
        ev.where(F.col("event_type") == "purchase")
        .join(anchors, "user_id")
        .where(F.col("ts") >= F.col("a"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    horizon = ev.agg(F.max("ts").alias("mt"))
    subj = (
        anchors.join(deaths, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .selectExpr(
            "CASE WHEN p IS NOT NULL"
            " THEN (unix_micros(p) - unix_micros(a)) div 3600000000"
            " ELSE (unix_micros(mt) - unix_micros(a)) div 3600000000"
            " END AS dur",
            "CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev",
        )
    )
    grp = subj.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).alias("c"),
    )
    # windows below run over |distinct durations| rows, not users
    risk = grp.select(
        "dur",
        "d",
        F.sum("c").over(Window.orderBy(F.col("dur").desc())).alias("n_risk"),
    )
    km = (
        risk.where(F.col("d") > 0)
        .withColumn(
            "q",
            F.when(F.col("d") == F.col("n_risk"), F.lit(_KM_ZERO_Q)).otherwise(
                F.round(
                    F.log(1.0 - F.col("d") / F.col("n_risk")) * _KM_LN_SCALE
                ).cast("long")
            ),
        )
        .withColumn(
            "cum_q",
            F.sum("q").over(
                Window.orderBy("dur").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
    )
    return km.select(
        F.col("dur").cast("long").alias("t_hours"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.round(F.exp(F.col("cum_q") / F.lit(float(_KM_LN_SCALE))), 6).alias(
            "survival"
        ),
    ).orderBy("t_hours")


# ----------------------------------- position-based attribution

_ATTR_WINDOW_US = 7 * 86_400 * 1_000_000  # 7-day lookback
_ATTR_PPM = 1_000_000  # credit is parts-per-million, exact integers


@register(
    "attribution_position_credit",
    "Multi-touch attribution, position-based (U-shaped): every user's "
    "FIRST purchase is a conversion; the view/click touches in the 7 "
    "days before it share the credit — 40% to the first touch, 40% to "
    "the last, 20% split across the middle. Credit is integer PARTS "
    "PER MILLION with div/mod so each conversion distributes exactly "
    "1e6 ppm by construction (remainder to the first touch; a lone "
    "touch takes it all, a 2-touch path splits 60/40) — sums are "
    "exact integers on both engines, and only the final ppm -> "
    "conversions ratio is rounded. Output: credit by channel "
    "(event_type). 100 TB: one window per user's touch list (already "
    "co-partitioned by user_id), then a map-side-combinable groupBy "
    "over channels.",
    oracle=f"""
      WITH conv AS (
        SELECT user_id, min(ts) AS cts FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
      ),
      touches AS (
        SELECT e.user_id, e.event_type, e.ts, e.event_id
        FROM events e JOIN conv ON e.user_id = conv.user_id
        WHERE e.event_type IN ('view', 'click')
          AND e.ts < conv.cts
          AND epoch_us(e.ts) >= epoch_us(conv.cts) - {_ATTR_WINDOW_US}
      ),
      pos AS (
        SELECT event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n,
               user_id
        FROM touches
      ),
      credit AS (
        SELECT event_type, user_id,
               CASE WHEN n = 1 THEN {_ATTR_PPM}
                    WHEN rn = 1 AND n = 2 THEN 600000
                    WHEN rn = 1 THEN 400000 + 200000 % (n - 2)
                    WHEN rn = n THEN 400000
                    ELSE 200000 // (n - 2) END AS ppm
        FROM pos
      )
      SELECT event_type AS channel,
             count(*) AS n_touches,
             count(DISTINCT user_id) AS n_users,
             round(sum(ppm)::DOUBLE / {_ATTR_PPM}, 6) AS conversions_credited
      FROM credit
      GROUP BY event_type
      ORDER BY conversions_credited DESC, channel
    """,
)
def attribution_position_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
    )
    touches = (
        ev.where(F.col("event_type").isin("view", "click"))
        .join(conv, "user_id")
        .where(
            (F.col("ts") < F.col("cts"))
            & (
                F.unix_micros(F.col("ts"))
                >= F.unix_micros(F.col("cts")) - _ATTR_WINDOW_US
            )
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    wu = Window.partitionBy("user_id")
    pos = touches.select(
        "event_type",
        "user_id",
        F.row_number().over(wu.orderBy("ts", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"),
    )
    credit = pos.selectExpr(
        "event_type",
        "user_id",
        f"CASE WHEN n = 1 THEN {_ATTR_PPM}"
        " WHEN rn = 1 AND n = 2 THEN 600000"
        " WHEN rn = 1 THEN 400000 + 200000 % (n - 2)"
        " WHEN rn = n THEN 400000"
        " ELSE 200000 div (n - 2) END AS ppm",
    )
    return (
        credit.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum("ppm").cast("double") / _ATTR_PPM, 6
            ).alias("conversions_credited"),
        )
        .orderBy(F.col("conversions_credited").desc(), "channel")
    )


# ------------------------------------- seasonal decomposition

_SEAS_HALF = 12  # centered 25-hour trend window


@register(
    "timeseries_seasonal_decompose",
    "Classical seasonal decomposition (moving-average detrending, the "
    "first step of STL/X-11): hourly event counts, a CENTERED 25-hour "
    "trend window as a RANGE frame over the integer hour index — so "
    "missing hours contribute their true zero instead of shrinking "
    "the window like a ROWS frame would — and the hour-of-day "
    "seasonal index as the mean detrended deviation. Deviations are "
    "kept 25x-scaled integers (25*count - trend_sum), so every "
    "aggregate before the final ratio is exact on both engines; edge "
    "hours without full trend coverage are excluded via min/max "
    "window bounds (count/min/max in unpartitioned windows only — "
    "the RANGE-frame-FP invariant). 100 TB: the series collapses to "
    "|hours| rows at the first groupBy; everything after is windows "
    "over that bounded frame. Complements timeseries_diurnal_profile "
    "(raw hour-of-day means, no detrending) and ewma (recursive "
    "smoother).",
    oracle=f"""
      WITH hours AS (
        SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1
      ),
      rng AS (
        SELECT hi, cnt,
               sum(cnt) OVER (ORDER BY hi
                 RANGE BETWEEN {_SEAS_HALF} PRECEDING
                 AND {_SEAS_HALF} FOLLOWING) AS tsum,
               min(hi) OVER () AS lo,
               max(hi) OVER () AS hih
        FROM hours
      ),
      dev AS (
        SELECT hi % 24 AS hod,
               cnt,
               25 * cnt - tsum AS dev25
        FROM rng
        WHERE hi >= lo + {_SEAS_HALF} AND hi <= hih - {_SEAS_HALF}
      )
      SELECT hod::BIGINT AS hod,
             count(*) AS n_hours,
             round(sum(cnt)::DOUBLE / count(*), 6) AS mean_count,
             round(sum(dev25)::DOUBLE / (25 * count(*)), 6) AS seasonal
      FROM dev GROUP BY hod ORDER BY hod
    """,
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hours = ev.groupBy(
        F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias(
            "hi"
        )
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_rng = (
        Window.orderBy("hi").rangeBetween(-_SEAS_HALF, _SEAS_HALF)
    )
    w_all = Window.partitionBy()
    rng = hours.select(
        "hi",
        "cnt",
        F.sum("cnt").over(w_rng).alias("tsum"),
        F.min("hi").over(w_all).alias("lo"),
        F.max("hi").over(w_all).alias("hih"),
    )
    dev = rng.where(
        (F.col("hi") >= F.col("lo") + _SEAS_HALF)
        & (F.col("hi") <= F.col("hih") - _SEAS_HALF)
    ).select(
        (F.col("hi") % 24).alias("hod"),
        "cnt",
        (25 * F.col("cnt") - F.col("tsum")).alias("dev25"),
    )
    return (
        dev.groupBy(F.col("hod").cast("long").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(
                F.sum("cnt").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_count"),
            F.round(
                F.sum("dev25").cast("double") / (25 * F.count(F.lit(1))), 6
            ).alias("seasonal"),
        )
        .orderBy("hod")
    )


# ------------------------------------------ time-weighted average


@register(
    "timeseries_twap_value",
    "Time-weighted average value (TWAP) — the irregular-sampling mean "
    "where each observation counts for how LONG it held, not how "
    "often it was sampled (the financial TWAP / metrics-rollup "
    "primitive; a plain avg over-weights bursty periods). Each "
    "user-ordered event holds until that user's next event (lead "
    "window, ts+event_id tie-break); weights are integer SECONDS "
    "(µs floor division) times integer CENTS, so the weighted sums "
    "are exact bigints on both engines and only the final "
    "cents-to-units ratio is rounded. Last event per user has no "
    "successor and drops — identically on both sides. 100 TB: one "
    "lead window per user partition (co-partitioned by user_id), "
    "then a map-side-combinable groupBy(event_type); sums stay in "
    "int64 because weights are seconds, not µs.",
    oracle="""
      WITH seq AS (
        SELECT event_type,
               round(value * 100)::BIGINT AS cents,
               (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
                - epoch_us(ts)) // 1000000 AS dur_s
        FROM events
      )
      SELECT event_type,
             count(*) AS n_events,
             sum(dur_s)::BIGINT AS total_s,
             round(sum(cents * dur_s)::DOUBLE / (100.0 * sum(dur_s)), 6)
               AS twap
      FROM seq WHERE dur_s IS NOT NULL
      GROUP BY event_type ORDER BY event_type
    """,
)
def timeseries_twap_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_micros(F.col("ts")).alias("us"),
    ).withColumn("nus", F.lead("us").over(wu)).selectExpr(
        "event_type", "cents", "(nus - us) div 1000000 AS dur_s"
    )
    return (
        seq.where(F.col("dur_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("dur_s").cast("long").alias("total_s"),
            F.round(
                F.sum(F.col("cents") * F.col("dur_s")).cast("double")
                / (100.0 * F.sum("dur_s")),
                6,
            ).alias("twap"),
        )
        .orderBy("event_type")
    )


# ------------------------------- running balance with resets

_RESET_TOPK = 15


@register(
    "window_reset_cumsum",
    "Running totals that RESET at marker events — the conditional-"
    "cumulative idiom (inventory balances with stock-takes, spend "
    "since last login, error counts since last deploy) that plain "
    "windows can't express directly: a first cumulative window counts "
    "'signup' markers to assign each event a segment id, then the "
    "spend aggregates within (user, segment). All integer cents. "
    "Output: the 15 largest single-segment spends. 100 TB: both the "
    "window and the groupBy partition by user_id — one shuffle, "
    "reused across the two steps (Spark keeps the partitioning), and "
    "the two-window trick replaces an O(n^2) 'latest marker before "
    "me' self-join.",
    oracle=f"""
      WITH seg AS (
        SELECT user_id,
               round(value * 100)::BIGINT AS cents,
               sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS segment
        FROM events
      )
      SELECT user_id, segment::BIGINT AS segment,
             count(*) AS n_events,
             round(sum(cents)::DOUBLE / 100, 2) AS spend
      FROM seg
      GROUP BY user_id, segment
      ORDER BY sum(cents) DESC, user_id, segment
      LIMIT {_RESET_TOPK}
    """,
)
def window_reset_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .over(w)
        .alias("segment"),
    )
    return (
        seg.groupBy("user_id", F.col("segment").cast("long").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("_c"),
        )
        .orderBy(F.col("_c").desc(), "user_id", "segment")
        .limit(_RESET_TOPK)
        .select(
            "user_id",
            "segment",
            "n_events",
            F.round(F.col("_c").cast("double") / 100, 2).alias("spend"),
        )
    )


# ------------------------------------------- RFM segmentation


@register(
    "events_rfm_segmentation",
    "RFM customer segmentation — the classic marketing-analytics "
    "triple (Recency of last purchase, Frequency of purchases, "
    "Monetary total) quintiled into a 3-digit segment code per user: "
    "metrics are exact integers (µs recency vs the corpus horizon, "
    "counts, cents), quintiles are ntile(5) windows with full "
    "deterministic tie-breaks (metric, then user_id), and segments "
    "aggregate to counts + mean monetary. Output: segment code "
    "(e.g. '555' = best), user count, monetary mean. 100 TB: the "
    "per-user rollup is one map-side-combinable groupBy; the ntile "
    "windows run over |users| rows — at real scale swap for "
    "percentile-bucket joins (the quantile_normalize_by_source "
    "shape) to avoid the single-axis sort.",
    oracle="""
      WITH horizon AS (SELECT max(ts) AS mt FROM events),
      per_user AS (
        SELECT user_id,
               epoch_us((SELECT mt FROM horizon)) - epoch_us(max(ts))
                 AS rec_us,
               count(*)::BIGINT AS freq,
               sum(round(value * 100)::BIGINT)::BIGINT AS cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
      ),
      scored AS (
        SELECT user_id, cents,
               ntile(5) OVER (ORDER BY rec_us DESC, user_id) AS r_score,
               ntile(5) OVER (ORDER BY freq, user_id) AS f_score,
               ntile(5) OVER (ORDER BY cents, user_id) AS m_score
        FROM per_user
      )
      SELECT (r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR)
               AS segment,
             count(*) AS n_users,
             round(sum(cents)::DOUBLE / (100.0 * count(*)), 6)
               AS mean_monetary
      FROM scored
      GROUP BY r_score, f_score, m_score
      ORDER BY segment
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # ONE events scan (FLOOR_r11): the corpus horizon max(ts) and the
    # purchase-only RFM metrics come out of the SAME per-user agg
    # (conditional aggregates); the horizon is then the max over the
    # |users|-sized rollup — value-identical to max(ts) over events,
    # and the second full scan disappears (at 100 TB that is a whole
    # corpus pass saved, not just a job floor).
    per_user_all = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("all_ts"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("last_ts"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("freq"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(0)
            ).alias("cents"),
        )
        .localCheckpoint(eager=True)
    )
    horizon = per_user_all.agg(F.max("all_ts").alias("mt"))
    per_user = (
        per_user_all.where(F.col("freq") > 0)
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            (F.unix_micros(F.col("mt")) - F.unix_micros(F.col("last_ts")))
            .alias("rec_us"),
            "freq",
            "cents",
        )
    )
    # exact distributed ntiles (operators/rank.py): |users| grows with
    # data, so three unpartitioned ntile windows would be the
    # decile-mix single-partition class the r04 verdict flagged; each
    # axis gets the range-shuffle + per-partition rank + broadcast-
    # offset formulation with IDENTICAL bucket assignment. The
    # per-user rollup is persisted once (three axes would otherwise
    # re-run the events scan) and its count — a bounded driver scalar,
    # |purchase users| — feeds global_ntile's measured small-frame
    # gate (FLOOR_r11: the 3-axis distributed machinery was ~14 job
    # floors on a few-thousand-row frame, sp1 3.09 s vs duck 16 ms;
    # the gate is a no-op past 2M users — the distributed path stays
    # the production plan).
    from scout_spark.operators.rank import global_ntile

    # per_user_all is already eagerly checkpointed above (checkpoint,
    # not persist: repeated fresh builds would leak persisted frames —
    # the FLOOR_r11 capture-session trap), so this count is a cheap
    # job over the materialized |users| frame
    n_users = per_user.count()
    scored = per_user
    for cols, out in [
        ([F.col("rec_us").desc(), "user_id"], "r_score"),
        (["freq", "user_id"], "f_score"),
        (["cents", "user_id"], "m_score"),
    ]:
        scored = global_ntile(
            scored, cols, 5, out=out, known_count=n_users
        )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum("cents").cast("double")
                / (100.0 * F.count(F.lit(1))),
                6,
            ).alias("mean_monetary"),
        )
        .select(
            F.concat(
                F.col("r_score").cast("string"),
                F.col("f_score").cast("string"),
                F.col("m_score").cast("string"),
            ).alias("segment"),
            "n_users",
            "mean_monetary",
        )
        .orderBy("segment")
    )


# -------------------------------------- MoM / YoY growth rollup


@register(
    "timeseries_mom_yoy_growth",
    "Month-over-month and year-over-year growth — the standard BI "
    "rollup pair: orders collapse to monthly revenue (exact integer "
    "cents, month rendered as a yyyy-MM string per the date-output "
    "invariant), then two lag windows over the |months|-bounded frame "
    "compute MoM (lag 1) and YoY (lag 12) percentage growth; first "
    "months yield NULL identically on both engines. 100 TB: the fact "
    "scan collapses at the first map-side-combinable groupBy; "
    "everything after runs over dozens of rows.",
    oracle="""
      WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1
      ),
      lagged AS (
        SELECT month, cents,
               lag(cents, 1) OVER (ORDER BY month) AS prev_m,
               lag(cents, 12) OVER (ORDER BY month) AS prev_y
        FROM monthly
      )
      SELECT month,
             round(cents::DOUBLE / 100, 2) AS revenue,
             round((cents - prev_m) * 100.0 / prev_m, 6) AS mom_pct,
             round((cents - prev_y) * 100.0 / prev_y, 6) AS yoy_pct
      FROM lagged
      ORDER BY month
    """,
)
def timeseries_mom_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    w = Window.orderBy("month")
    lagged = monthly.select(
        "month",
        "cents",
        F.lag("cents", 1).over(w).alias("prev_m"),
        F.lag("cents", 12).over(w).alias("prev_y"),
    )
    return lagged.select(
        "month",
        F.round(F.col("cents").cast("double") / 100, 2).alias("revenue"),
        F.round(
            (F.col("cents") - F.col("prev_m")) * 100.0 / F.col("prev_m"), 6
        ).alias("mom_pct"),
        F.round(
            (F.col("cents") - F.col("prev_y")) * 100.0 / F.col("prev_y"), 6
        ).alias("yoy_pct"),
    ).orderBy("month")


# --------------------------------- nearest-event as-of join

_NEAR_TOL_US = 3_600_000_000  # ±1 hour
_NEAR_TOPK = 15


@register(
    "asof_join_nearest_tolerance",
    "NEAREST-event join with tolerance — the bidirectional cousin of "
    "the backward-only as-of join (asof_join_last_purchase_before_"
    "error): every 'error' event matches the closest 'purchase' by "
    "the same user within ±1 hour, nearest by absolute µs gap, ties "
    "to the earlier purchase. Spark blocks by HOUR BUCKET: with "
    "tolerance == bucket width, each error probes exactly its 3 "
    "neighboring buckets (explode x3) and purchases stay on their "
    "home bucket, so candidates meet on a (user, bucket) equi key — "
    "zero false negatives by the triangle bound, the "
    "spatial_radius_pairs_grid recipe applied to time. The oracle "
    "keeps the quadratic per-user join. Output: the 15 widest "
    "matched gaps. 100 TB: the join shuffles on (user, bucket) — "
    "bounded candidate fan-out per event instead of per-user "
    "cartesian blowup on power users.",
    oracle=f"""
      WITH err AS (
        SELECT event_id AS err_id, user_id, epoch_us(ts) AS eus
        FROM events WHERE event_type = 'error'
      ),
      pur AS (
        SELECT event_id AS pur_id, user_id, epoch_us(ts) AS pus
        FROM events WHERE event_type = 'purchase'
      ),
      cand AS (
        SELECT e.err_id, e.user_id, p.pur_id,
               abs(e.eus - p.pus) AS gap_us,
               row_number() OVER (
                 PARTITION BY e.err_id
                 ORDER BY abs(e.eus - p.pus), p.pus, p.pur_id) AS rn
        FROM err e JOIN pur p ON e.user_id = p.user_id
        WHERE abs(e.eus - p.pus) <= {_NEAR_TOL_US}
      )
      SELECT err_id, user_id, pur_id,
             (gap_us // 1000000)::BIGINT AS gap_s
      FROM cand WHERE rn = 1
      ORDER BY gap_us DESC, err_id
      LIMIT {_NEAR_TOPK}
    """,
)
def asof_join_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.unix_micros("ts").alias("eus"),
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("pus"),
    )
    # errors probe their 3 neighboring hour buckets; purchases stay home
    probe = err.select(
        "err_id",
        "user_id",
        "eus",
        F.explode(
            F.array(
                *[
                    F.expr(f"eus div {_NEAR_TOL_US}") + d
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("bkt"),
    )
    home = pur.withColumn("bkt", F.expr(f"pus div {_NEAR_TOL_US}"))
    cand = (
        probe.join(
            home,
            (probe.user_id == home.p_user) & (probe.bkt == home.bkt),
        )
        .withColumn("gap_us", F.abs(F.col("eus") - F.col("pus")))
        .where(F.col("gap_us") <= _NEAR_TOL_US)
    )
    w = Window.partitionBy("err_id").orderBy("gap_us", "pus", "pur_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "err_id",
            "user_id",
            "pur_id",
            F.expr("gap_us div 1000000").alias("gap_s"),
            "gap_us",
        )
        .orderBy(F.col("gap_us").desc(), "err_id")
        .limit(_NEAR_TOPK)
        .drop("gap_us")
    )


# ------------------------------ seasonal-naive forecast backtest

_FC_EVAL_HOURS = 168  # evaluate over the last 7 days of the series


@register(
    "forecast_seasonal_naive_backtest",
    "Forecast BACKTESTING with seasonal-naive baselines — the "
    "evaluation harness every forecasting pipeline needs before any "
    "model earns its keep: predict each hour's event count by the "
    "count 24h earlier (daily-seasonal naive) and 168h earlier "
    "(weekly-seasonal naive), scored over the final week of the "
    "series. Metrics are MAE, WAPE (sum|err|/sum actual — the "
    "aggregate-ratio form chosen over MAPE precisely because both "
    "numerator and denominator are EXACT INTEGER sums, no per-row "
    "rational rounding), and bias. Absent base hours count as their "
    "true zero via coalesce. 100 TB: the series collapses to |hours| "
    "rows at the first groupBy; the lag alignment is an equi "
    "self-join on the integer hour index (co-partitioned), not a "
    "global-sort window.",
    oracle=f"""
      WITH hours AS (
        SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS hi,
               count(*)::BIGINT AS cnt
        FROM events GROUP BY 1
      ),
      bounds AS (SELECT min(hi) AS lo, max(hi) AS hih FROM hours),
      eval AS (
        SELECT h.hi, h.cnt,
               coalesce(b24.cnt, 0) AS pred24,
               coalesce(b168.cnt, 0) AS pred168
        FROM hours h
        LEFT JOIN hours b24 ON b24.hi = h.hi - 24
        LEFT JOIN hours b168 ON b168.hi = h.hi - 168
        WHERE h.hi > (SELECT hih FROM bounds) - {_FC_EVAL_HOURS}
          AND h.hi - 168 >= (SELECT lo FROM bounds)
      ),
      m AS (
        SELECT 24 AS horizon_h, count(*) AS n_hours,
               sum(abs(cnt - pred24))::BIGINT AS sae,
               sum(pred24 - cnt)::BIGINT AS serr,
               sum(cnt)::BIGINT AS sact
        FROM eval
        UNION ALL
        SELECT 168, count(*),
               sum(abs(cnt - pred168))::BIGINT,
               sum(pred168 - cnt)::BIGINT,
               sum(cnt)::BIGINT
        FROM eval
      )
      SELECT horizon_h, n_hours,
             round(sae::DOUBLE / n_hours, 6) AS mae,
             round(sae::DOUBLE / sact, 6) AS wape,
             round(serr::DOUBLE / sact, 6) AS bias
      FROM m ORDER BY horizon_h
    """,
)
def forecast_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # the |hours| frame feeds four consumers (base, both lag sides,
    # bounds — one of them a BROADCAST future): eager checkpoint, not
    # lazy persist. Under AQE-off the broadcast future raced the lazy
    # cache population and re-ran the events scan per consumer (the
    # r10 lazy-fence trap; FLOOR_r11 measured sp1 2.36 s vs noop
    # 0.99 s from exactly this). |hours| rows — trivially small.
    hours = (
        ev.groupBy(
            F.expr(
                "unix_micros(date_trunc('hour', ts)) div 3600000000"
            ).alias("hi")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    bounds = hours.agg(F.min("hi").alias("lo"), F.max("hi").alias("hih"))
    h24 = hours.select(
        (F.col("hi") + 24).alias("hi"), F.col("cnt").alias("p24")
    )
    h168 = hours.select(
        (F.col("hi") + 168).alias("hi"), F.col("cnt").alias("p168")
    )
    eval_ = (
        hours.join(h24, "hi", "left")
        .join(h168, "hi", "left")
        .crossJoin(F.broadcast(bounds))
        .where(
            (F.col("hi") > F.col("hih") - _FC_EVAL_HOURS)
            & (F.col("hi") - 168 >= F.col("lo"))
        )
        .select(
            "cnt",
            F.coalesce("p24", F.lit(0)).alias("pred24"),
            F.coalesce("p168", F.lit(0)).alias("pred168"),
        )
    )
    # both horizons' sufficient statistics in ONE aggregation pass,
    # reshaped to two rows afterwards — eval_ is scanned exactly once
    stats = eval_.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs(F.col("cnt") - F.col("pred24"))).alias("sae24"),
        F.sum(F.col("pred24") - F.col("cnt")).alias("serr24"),
        F.sum(F.abs(F.col("cnt") - F.col("pred168"))).alias("sae168"),
        F.sum(F.col("pred168") - F.col("cnt")).alias("serr168"),
        F.sum("cnt").alias("sact"),
    )
    m = stats.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(24).alias("horizon_h"),
                    F.col("n_hours").alias("n_hours"),
                    F.col("sae24").alias("sae"),
                    F.col("serr24").alias("serr"),
                    F.col("sact").alias("sact"),
                ),
                F.struct(
                    F.lit(168).alias("horizon_h"),
                    F.col("n_hours").alias("n_hours"),
                    F.col("sae168").alias("sae"),
                    F.col("serr168").alias("serr"),
                    F.col("sact").alias("sact"),
                ),
            )
        ).alias("s")
    ).select("s.horizon_h", "s.n_hours", "s.sae", "s.serr", "s.sact")
    return m.select(
        "horizon_h",
        "n_hours",
        F.round(F.col("sae").cast("double") / F.col("n_hours"), 6).alias(
            "mae"
        ),
        F.round(F.col("sae").cast("double") / F.col("sact"), 6).alias(
            "wape"
        ),
        F.round(F.col("serr").cast("double") / F.col("sact"), 6).alias(
            "bias"
        ),
    ).orderBy("horizon_h")


# ------------------------------- sweep-line peak concurrency

_CONC_GAP_US = 1_800_000_000  # 30-minute session gap


@register(
    "interval_peak_concurrency",
    "Peak concurrency by SWEEP LINE — 'what was the maximum number of "
    "simultaneously active sessions, and when': sessions come from "
    "the standard 30-min-gap sessionization (sessionize_30min_gap's "
    "kernel), each session emits a +1 at its start and a -1 just "
    "past its end (closed intervals), and a running integer sum over "
    "the globally ordered endpoint stream peaks at the answer — the "
    "classic O(n log n) algorithm, vs the O(n^2) 'count overlapping "
    "intervals per interval' join. Fully deterministic endpoint "
    "order ((t, delta, user, session)); first instant attaining the "
    "peak reported. 100 TB: the endpoint stream is 2x|sessions| rows "
    "(already collapsed from raw events); for a truly unsorted-fit "
    "case, bucket the sweep by time range and reconcile boundary "
    "partial sums — the audit_sequence_gaps recipe.",
    oracle=f"""
      WITH seq AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                         > {_CONC_GAP_US}
                    OR lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                       IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      ),
      sess AS (
        SELECT user_id, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us) AS sid
        FROM seq
      ),
      spans AS (
        SELECT user_id, sid, min(us) AS s, max(us) AS e
        FROM sess GROUP BY user_id, sid
      ),
      endpoints AS (
        SELECT s AS t, 1 AS delta, user_id, sid FROM spans
        UNION ALL
        SELECT e + 1 AS t, -1 AS delta, user_id, sid FROM spans
      ),
      swept AS (
        SELECT t,
               sum(delta) OVER (ORDER BY t, delta DESC, user_id, sid
                                ROWS UNBOUNDED PRECEDING) AS run
        FROM endpoints
      ),
      peak AS (SELECT max(run) AS p FROM swept)
      SELECT (SELECT count(*) FROM spans)::BIGINT AS n_sessions,
             p::BIGINT AS peak_concurrency,
             (SELECT min(t) FROM swept WHERE run = (SELECT p FROM peak))
               ::BIGINT AS peak_at_us
      FROM peak
    """,
)
def interval_peak_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        (
            F.col("ts").isNotNull()
            & (
                F.lag(F.unix_micros("ts")).over(wu).isNull()
                | (
                    F.unix_micros("ts")
                    - F.lag(F.unix_micros("ts")).over(wu)
                    > _CONC_GAP_US
                )
            )
        )
        .cast("int")
        .alias("is_new"),
    )
    sess = seq.select(
        "user_id",
        "us",
        F.sum("is_new")
        .over(Window.partitionBy("user_id").orderBy("us"))
        .alias("sid"),
    )
    # spans feeds both endpoint streams plus the session count, and
    # swept feeds the peak and the argmin — overlapping consumers on
    # both frames, so persist them (CLAUDE.md barrier rule)
    spans = (
        sess.groupBy("user_id", "sid")
        .agg(F.min("us").alias("s"), F.max("us").alias("e"))
        .persist()
    )
    endpoints = spans.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id", "sid"
    ).unionByName(
        spans.select(
            (F.col("e") + 1).alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "sid",
        )
    )
    # distributed sweep: the endpoint stream is 2x|sessions| (grows
    # with data), so the running sum is computed as a BUCKETED prefix
    # sum — per-day windows in parallel + day offsets from a
    # span-bounded (|days|-row) window broadcast back — never one
    # global partition (the audit_sequence_gaps recipe, implemented
    # rather than just cited)
    day_us = 86_400_000_000
    eb = endpoints.withColumn("bkt", F.expr(f"t div {day_us}"))
    w_in = Window.partitionBy("bkt").orderBy(
        "t", F.col("delta").desc(), "user_id", "sid"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    woff = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        eb.groupBy("bkt")
        .agg(F.sum("delta").alias("bd"))
        .select(
            "bkt",
            F.coalesce(F.sum("bd").over(woff), F.lit(0)).alias("off"),
        )
    )
    swept = (
        eb.select("bkt", "t", F.sum("delta").over(w_in).alias("run_in"))
        .join(F.broadcast(offsets), "bkt")
        .select("t", (F.col("off") + F.col("run_in")).alias("run"))
        .persist()
    )
    n_sessions = spans.agg(F.count(F.lit(1)).alias("n_sessions"))
    peak = swept.agg(F.max("run").alias("p"))
    peak_at = (
        swept.join(F.broadcast(peak), swept.run == peak.p)
        .agg(F.min("t").alias("peak_at_us"))
    )
    return (
        n_sessions.crossJoin(peak)
        .crossJoin(peak_at)
        .select(
            F.col("n_sessions").cast("long").alias("n_sessions"),
            F.col("p").cast("long").alias("peak_concurrency"),
            F.col("peak_at_us").cast("long").alias("peak_at_us"),
        )
    )


# --------------------------------------------- rolling correlation

_RCORR_WIN = 7


@register(
    "window_rolling_correlation",
    f"Rolling {_RCORR_WIN}-day Pearson correlation between two daily "
    "series (order count vs revenue) — the lead-lag / co-movement "
    "primitive behind every 'are these metrics coupled this week' "
    "dashboard. The frame carries INTEGER sufficient statistics "
    "(n, Sx, Sy, Sxy, Sxx, Syy as BIGINTs over exact cent-derived "
    "dollars), so DuckDB's segment-tree window and Spark's running "
    "frame agree bit-for-bit (the RANGE-frame FP-order rule from "
    "CLAUDE.md, applied by making every frame sum integral); r is "
    "assembled from the sums in doubles at the end, zero-variance "
    "frames guarded to NULL with an exact integer test on both "
    "engines. 100 TB: the window runs over the DAILY series "
    "(pre-collapsed, |days| rows), not raw orders.",
    oracle=f"""
      WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
               count(*)::BIGINT AS x,
               (sum(round(o_totalprice * 100)::BIGINT)::BIGINT // 100)
                 ::BIGINT AS y
        FROM orders GROUP BY 1
      ),
      win AS (
        SELECT day, x, y,
               count(*) OVER w::BIGINT AS n,
               sum(x) OVER w::BIGINT AS sx,
               sum(y) OVER w::BIGINT AS sy,
               sum(x * y) OVER w::BIGINT AS sxy,
               sum(x * x) OVER w::BIGINT AS sxx,
               sum(y * y) OVER w::BIGINT AS syy
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN {_RCORR_WIN - 1} PRECEDING AND CURRENT ROW)
      )
      SELECT day, x, y,
             CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                  THEN NULL
                  ELSE round((n::DOUBLE * sxy - sx::DOUBLE * sy)
                             / sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx)
                                    * (n::DOUBLE * syy - sy::DOUBLE * sy)), 6)
             END AS r
      FROM win
      WHERE n = {_RCORR_WIN}
      ORDER BY day
    """,
)
def window_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # day bucketing and cents->dollars must FLOOR identically on both
    # engines: integer div, never double division (CLAUDE.md rule)
    daily = o.selectExpr(
        "unix_micros(o_orderdate) div 86400000000 as day",
        "o_totalprice",
    ).groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.expr(
            "sum(cast(round(o_totalprice * 100) as bigint)) div 100"
        )
        .cast("long")
        .alias("y"),
    )
    w = (
        Window.orderBy("day")
        .rowsBetween(-(_RCORR_WIN - 1), Window.currentRow)
    )
    # global window over the pre-collapsed DAILY series (|days| rows,
    # ~2.4k at any orders scale in this corpus shape)
    win = daily.select(
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    ).where(F.col("n") == _RCORR_WIN)
    n, sx, sy, sxy, sxx, syy = (
        F.col(x) for x in ("n", "sx", "sy", "sxy", "sxx", "syy")
    )
    degenerate = (n * sxx - sx * sx == 0) | (n * syy - sy * sy == 0)
    r = (n.cast("double") * sxy - sx.cast("double") * sy) / F.sqrt(
        (n.cast("double") * sxx - sx.cast("double") * sx)
        * (n.cast("double") * syy - sy.cast("double") * sy)
    )
    return win.select(
        "day",
        "x",
        "y",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(F.round(r, 6))
        .alias("r"),
    ).orderBy("day")


# ------------------------------- watermark lateness (out-of-orderness)


@register(
    "events_watermark_lateness_profile",
    "Out-of-orderness profile for WATERMARK SIZING — the number a "
    "Structured Streaming job needs before choosing withWatermark(): "
    "treating event_id as arrival order, lateness = (running max "
    "event-time per user) - event-time; report the in-order fraction "
    "and discrete p50/p95/p99/max lateness seconds. Percentiles come "
    "from an integer second-granularity HISTOGRAM + cumulative "
    "counts (the agg_weighted_percentile discipline) — the cum "
    "window runs over |distinct lateness seconds| rows (bounded by "
    "the time span, not event count), never a global sort of raw "
    "events; ranks are exact integer ceilings so both engines pick "
    "identical elements. 100 TB: one per-user window (parallel), one "
    "map-side-combinable histogram agg, then bounded-frame math.",
    oracle="""
      WITH lat AS (
        SELECT (max(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY event_id
                                        ROWS UNBOUNDED PRECEDING)
                - epoch_us(ts)) // 1000000 AS late_s
        FROM events
      ),
      h AS (SELECT late_s, count(*)::BIGINT AS c FROM lat GROUP BY late_s),
      cum AS (
        SELECT late_s, c,
               sum(c) OVER (ORDER BY late_s ROWS UNBOUNDED PRECEDING)
                 ::BIGINT AS cum,
               sum(c) OVER ()::BIGINT AS n
        FROM h
      )
      SELECT max(n)::BIGINT AS n_events,
             (max(n) - max(CASE WHEN late_s = 0 THEN c ELSE 0 END))::BIGINT
               AS n_late,
             round((max(n) - max(CASE WHEN late_s = 0 THEN c ELSE 0 END))
                   ::DOUBLE / max(n), 6) AS late_frac,
             min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN late_s END)
               ::BIGINT AS p50_late_s,
             min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN late_s END)
               ::BIGINT AS p95_late_s,
             min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN late_s END)
               ::BIGINT AS p99_late_s,
             max(late_s)::BIGINT AS max_late_s
      FROM cum
    """,
)
def events_watermark_lateness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lat = ev.select(
        (
            (F.max(F.unix_micros("ts")).over(wu) - F.unix_micros("ts"))
        ).alias("late_us")
    ).selectExpr("late_us div 1000000 as late_s")
    h = lat.groupBy("late_s").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # cumulative window over the lateness HISTOGRAM — |distinct
    # seconds| rows, bounded by the corpus time span, not event count
    wcum = Window.orderBy("late_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = h.select(
        "late_s",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    rank = lambda p: F.expr(f"(n * {p} + 99) div 100")  # noqa: E731
    n_inorder = F.max(F.when(F.col("late_s") == 0, F.col("c")).otherwise(0))
    return cum.agg(
        F.max("n").cast("long").alias("n_events"),
        (F.max("n") - n_inorder).cast("long").alias("n_late"),
        F.round(
            (F.max("n") - n_inorder).cast("double") / F.max("n"), 6
        ).alias("late_frac"),
        F.min(F.when(F.col("cum") >= rank(50), F.col("late_s")))
        .cast("long")
        .alias("p50_late_s"),
        F.min(F.when(F.col("cum") >= rank(95), F.col("late_s")))
        .cast("long")
        .alias("p95_late_s"),
        F.min(F.when(F.col("cum") >= rank(99), F.col("late_s")))
        .cast("long")
        .alias("p99_late_s"),
        F.max("late_s").cast("long").alias("max_late_s"),
    )


# --------------------------------------- Haar wavelet decomposition

_HAAR_N = 1024  # dyadic prefix of the daily series
_HAAR_LEVELS = 10  # log2(_HAAR_N)
_HAAR_TOPK = 12


@register(
    "timeseries_haar_decomposition",
    "Unnormalized HAAR WAVELET decomposition of the daily revenue "
    "series — multi-resolution change detection: detail coefficient "
    "d(level, block) = (sum of the block's left half) - (right half), "
    "so the top coefficients BY MAGNITUDE point at the biggest "
    f"regime shifts and the scale they happen at (top {_HAAR_TOPK} "
    "reported with the block's start day). All-INTEGER: the series "
    "is exact cents, the coefficients are sums/differences of cents, "
    "and every level/block/sign derives from bit arithmetic on the "
    "dense day index — nothing to drift cross-engine. Computed in "
    "ONE pass: each day explodes into its log2(n) (level, block, "
    "sign) contributions and a single map-side-combinable groupBy "
    "sums them — never a sequential pyramid of log2(n) passes. "
    f"100 TB: the explode is x{_HAAR_LEVELS} on the PRE-COLLAPSED "
    "daily frame (|days| rows), and the shuffle carries one partial "
    "per (level, block) per map task.",
    oracle=f"""
      WITH daily AS (
        SELECT epoch_us(o_orderdate) // 86400000000 AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1
      ),
      idx AS (
        SELECT day, cents,
               row_number() OVER (ORDER BY day) - 1 AS i
        FROM daily
      ),
      dy AS (SELECT * FROM idx WHERE i < {_HAAR_N}),
      contrib AS (
        SELECT l.l AS level, (dy.i >> l.l) AS block,
               (1 - 2 * ((dy.i >> (l.l - 1)) & 1)) * dy.cents AS signed,
               dy.day
        FROM dy, (SELECT unnest(range(1, {_HAAR_LEVELS} + 1)) AS l) l
      ),
      coef AS (
        SELECT level, block, sum(signed)::BIGINT AS coefficient,
               min(day)::BIGINT AS block_start_day
        FROM contrib GROUP BY level, block
      )
      SELECT level, block, coefficient, block_start_day
      FROM coef
      ORDER BY abs(coefficient) DESC, level, block
      LIMIT {_HAAR_TOPK}
    """,
)
def timeseries_haar_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.selectExpr(
        "unix_micros(o_orderdate) div 86400000000 as day", "o_totalprice"
    ).groupBy("day").agg(
        F.expr("sum(cast(round(o_totalprice * 100) as bigint))").alias(
            "cents"
        )
    )
    # dense index over the pre-collapsed daily frame (|days| rows —
    # bounded by the calendar span, the KS/PSI window discipline)
    idx = daily.select(
        "day",
        "cents",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("i"),
    ).where(F.col("i") < _HAAR_N)
    contrib = idx.select(
        "day",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lv).alias("level"),
                        F.shiftright(F.col("i"), lv).alias("block"),
                        (
                            (
                                1
                                - 2
                                * (
                                    F.shiftright(F.col("i"), lv - 1)
                                    .bitwiseAND(F.lit(1))
                                )
                            )
                            * F.col("cents")
                        ).alias("signed"),
                    )
                    for lv in range(1, _HAAR_LEVELS + 1)
                ]
            )
        ).alias("c"),
    ).select("day", "c.level", "c.block", "c.signed")
    coef = contrib.groupBy("level", "block").agg(
        F.sum("signed").cast("long").alias("coefficient"),
        F.min("day").cast("long").alias("block_start_day"),
    )
    return (
        coef.orderBy(
            F.abs(F.col("coefficient")).desc(), "level", "block"
        )
        .limit(_HAAR_TOPK)
        .select("level", "block", "coefficient", "block_start_day")
    )


@register(
    "events_churn_retention_periods",
    "Churn / retention set algebra between two halves of the event "
    "horizon — 'who was active before the midpoint, after it, both, "
    "or only before (churned)': per-user period flags from one "
    "conditional agg (never two scans or a distinct-set self-join), "
    "then retained/churned/new counts and the churn/retention rates "
    "as exact integer ratios. The midpoint is the integer mean of "
    "the observed µs range (identical floor arithmetic both "
    "engines). 100 TB: ONE map-side-combinable groupBy(user) with "
    "bit-flag aggregation; the census is a second tiny agg.",
    oracle="""
      WITH span AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        FROM events
      ),
      flags AS (
        SELECT user_id,
               max(CASE WHEN epoch_us(ts) < (lo + hi) // 2
                   THEN 1 ELSE 0 END) AS p1,
               max(CASE WHEN epoch_us(ts) >= (lo + hi) // 2
                   THEN 1 ELSE 0 END) AS p2
        FROM events, span
        GROUP BY user_id
      )
      SELECT count(*)::BIGINT AS n_users,
             sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)::BIGINT
               AS retained,
             sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)::BIGINT
               AS churned,
             sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)::BIGINT
               AS new_users,
             round(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
                   ::DOUBLE / nullif(sum(p1), 0), 6) AS churn_rate,
             round(sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)
                   ::DOUBLE / nullif(sum(p1), 0), 6) AS retention_rate
      FROM flags
    """,
)
def events_churn_retention_periods(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    mid = F.expr("(lo + hi) div 2")
    flags = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.unix_micros("ts") < mid, 1).otherwise(0)
            ).alias("p1"),
            F.max(
                F.when(F.unix_micros("ts") >= mid, 1).otherwise(0)
            ).alias("p2"),
        )
    )
    p1, p2 = F.col("p1"), F.col("p2")
    churn = F.sum(F.when((p1 == 1) & (p2 == 0), 1).otherwise(0))
    ret = F.sum(F.when((p1 == 1) & (p2 == 1), 1).otherwise(0))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        ret.cast("long").alias("retained"),
        churn.cast("long").alias("churned"),
        F.sum(F.when((p1 == 0) & (p2 == 1), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.round(
            churn.cast("double") / F.nullif(F.sum(p1), F.lit(0)), 6
        ).alias("churn_rate"),
        F.round(
            ret.cast("double") / F.nullif(F.sum(p1), F.lit(0)), 6
        ).alias("retention_rate"),
    )


@register(
    "events_markov_entropy_rate",
    "Markov ENTROPY RATE of user behavior — 'how predictable is the "
    "next event given the last one': from the empirical transition "
    "counts (events_transition_matrix's kernel), the conditional "
    "entropy H(next|prev) = -sum p(prev,next) ln p(next|prev), the "
    "marginal H(next), and their difference — which IS the mutual "
    "information between consecutive events (cross-checkable against "
    "stats_mutual_information's formulation; a near-zero gap means "
    "event streams are memoryless and sequence features are wasted). "
    "All probabilities are exact integer-count ratios over the "
    "BOUNDED |types|^2 cell frame; entropy terms are doubles over "
    "those cells, rounded 6dp. 100 TB: one user-window pass + one "
    "map-side-combinable cell agg; everything after runs on <=25 "
    "rows.",
    oracle="""
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
      ),
      t AS (
        SELECT prev, event_type AS next, count(*)::BIGINT AS c
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
      ),
      rm AS (SELECT prev, sum(c)::BIGINT AS rc FROM t GROUP BY prev),
      cm AS (SELECT next, sum(c)::BIGINT AS cc FROM t GROUP BY next),
      n AS (SELECT sum(c)::BIGINT AS n FROM t),
      hc AS (
        SELECT -sum((t.c::DOUBLE / n.n) * ln(t.c::DOUBLE / rm.rc)) AS h
        FROM t JOIN rm USING (prev) CROSS JOIN n
      ),
      hm AS (
        SELECT -sum((cc::DOUBLE / n.n) * ln(cc::DOUBLE / n.n)) AS h
        FROM cm CROSS JOIN n
      )
      SELECT n.n AS n_transitions,
             round(hm.h, 6) AS h_next,
             round(hc.h, 6) AS h_next_given_prev,
             round(hm.h - hc.h, 6) AS mi_consecutive
      FROM n, hc, hm
    """,
)
def events_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            "event_type", F.lag("event_type").over(w).alias("prev")
        )
        .where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # <=|types|^2 rows; 4 overlapping consumers
    )
    rm = t.groupBy("prev").agg(F.sum("c").cast("long").alias("rc"))
    cm = t.groupBy("next").agg(F.sum("c").cast("long").alias("cc"))
    n = t.agg(F.sum("c").cast("long").alias("n"))
    hc = (
        t.join(F.broadcast(rm), "prev")
        .crossJoin(F.broadcast(n))
        .agg(
            (
                -F.sum(
                    (F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("rc"))
                )
            ).alias("hc")
        )
    )
    hm = (
        cm.crossJoin(F.broadcast(n))
        .agg(
            (
                -F.sum(
                    (F.col("cc").cast("double") / F.col("n"))
                    * F.log(F.col("cc").cast("double") / F.col("n"))
                )
            ).alias("hm")
        )
    )
    return (
        n.crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hm))
        .select(
            F.col("n").alias("n_transitions"),
            F.round("hm", 6).alias("h_next"),
            F.round("hc", 6).alias("h_next_given_prev"),
            F.round(F.col("hm") - F.col("hc"), 6).alias("mi_consecutive"),
        )
    )


_SESS_GAP_US = 1_800_000_000


@register(
    "sessions_bounce_depth_profile",
    "Session bounce rate and depth profile — the product-analytics "
    "companion to sessionize_30min_gap: per-session event counts "
    "from the standard 30-min-gap sessionization, then the bounce "
    "rate (single-event sessions), mean depth, and discrete "
    "p50/p90/max depth by exact integer ranks over the DEPTH "
    "HISTOGRAM (depths are small integers — the bounded-histogram "
    "discipline, never a global sort of sessions). 100 TB: one "
    "per-user window pass + two map-side-combinable aggs + bounded-"
    "frame math.",
    oracle=f"""
      WITH seq AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                         > {_SESS_GAP_US}
                    OR lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                       IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      ),
      sess AS (
        SELECT user_id, us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY us) AS sid
        FROM seq
      ),
      depth AS (
        SELECT user_id, sid, count(*)::BIGINT AS d
        FROM sess GROUP BY user_id, sid
      ),
      h AS (SELECT d, count(*)::BIGINT AS c FROM depth GROUP BY d),
      cum AS (
        SELECT d, c,
               sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)::BIGINT
                 AS cum,
               sum(c) OVER ()::BIGINT AS n,
               sum(d * c) OVER ()::BIGINT AS total_events
        FROM h
      )
      SELECT max(n)::BIGINT AS n_sessions,
             max(CASE WHEN d = 1 THEN c ELSE 0 END)::BIGINT AS n_bounces,
             round(max(CASE WHEN d = 1 THEN c ELSE 0 END)::DOUBLE
                   / max(n), 6) AS bounce_rate,
             round(max(total_events)::DOUBLE / max(n), 6) AS mean_depth,
             min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN d END)
               ::BIGINT AS p50_depth,
             min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN d END)
               ::BIGINT AS p90_depth,
             max(d)::BIGINT AS max_depth
      FROM cum
    """,
)
def sessions_bounce_depth_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        (
            F.lag(F.unix_micros("ts")).over(wu).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
                > _SESS_GAP_US
            )
        )
        .cast("int")
        .alias("is_new"),
    )
    depth = (
        seq.select(
            "user_id",
            F.sum("is_new")
            .over(Window.partitionBy("user_id").orderBy("us"))
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    h = depth.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # bounded depth histogram (depths are small integers)
    wcum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = h.select(
        "d",
        "c",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
        F.sum(F.col("d") * F.col("c")).over(wall).cast("long").alias(
            "total_events"
        ),
    )
    rank = lambda p: F.expr(f"(n * {p} + 99) div 100")  # noqa: E731
    bounces = F.max(F.when(F.col("d") == 1, F.col("c")).otherwise(0))
    return cum.agg(
        F.max("n").cast("long").alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"),
        F.round(bounces.cast("double") / F.max("n"), 6).alias(
            "bounce_rate"
        ),
        F.round(
            F.max("total_events").cast("double") / F.max("n"), 6
        ).alias("mean_depth"),
        F.min(F.when(F.col("cum") >= rank(50), F.col("d")))
        .cast("long")
        .alias("p50_depth"),
        F.min(F.when(F.col("cum") >= rank(90), F.col("d")))
        .cast("long")
        .alias("p90_depth"),
        F.max("d").cast("long").alias("max_depth"),
    )


_GAPS_MIN = (10, 30, 60)


@register(
    "sessions_gap_sensitivity",
    "Sessionization GAP SENSITIVITY — how many sessions would each "
    "candidate inactivity gap produce (the tuning readout for the "
    f"30-minute default every session entry assumes): gaps of "
    f"{', '.join(str(g) for g in _GAPS_MIN)} minutes evaluated from "
    "ONE per-user lag pass (each threshold is a conditional count "
    "over the SAME interarrival column — never one window pass per "
    "candidate), plus each gap's mean session length. A stable "
    "session count across adjacent gaps means the choice is safe; a "
    "cliff means user activity has inter-burst gaps near the "
    "threshold. 100 TB: one user-window shuffle total, one "
    "map-side-combinable agg.",
    oracle=f"""
      WITH seq AS (
        SELECT epoch_us(ts)
               - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS dt
        FROM events
      ),
      c AS (
        SELECT count(*)::BIGINT AS n_events,
               {", ".join(
                 f"sum(CASE WHEN dt IS NULL OR dt > {g * 60_000_000} "
                 f"THEN 1 ELSE 0 END)::BIGINT AS s{g}"
                 for g in _GAPS_MIN)}
        FROM seq
      )
      {" UNION ALL ".join(
        f'''SELECT {g}::BIGINT AS gap_minutes, s{g} AS n_sessions,
             round(n_events::DOUBLE / s{g}, 6) AS mean_session_events
      FROM c''' for g in _GAPS_MIN)}
      ORDER BY gap_minutes
    """,
)
def sessions_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
        ).alias("dt")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    for g in _GAPS_MIN:
        aggs.append(
            F.sum(
                F.when(
                    F.col("dt").isNull() | (F.col("dt") > g * 60_000_000),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"s{g}")
        )
    c = seq.agg(*aggs)
    outs = [
        c.select(
            F.lit(g).cast("long").alias("gap_minutes"),
            F.col(f"s{g}").alias("n_sessions"),
            F.round(
                F.col("n_events").cast("double") / F.col(f"s{g}"), 6
            ).alias("mean_session_events"),
        )
        for g in _GAPS_MIN
    ]
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("gap_minutes")


@register(
    "events_dau_wau_mau_stickiness",
    "DAU / WAU / MAU and the DAU/MAU STICKINESS ratio per day — the "
    "product-analytics staple, computed exactly: per-day distinct "
    "users, then trailing 7- and 28-day distinct via a day-spine "
    "range join over the (day, user) frame (the exact baseline whose "
    "scale limit sketch_hll_rolling_window_distinct's register merge "
    "exists to lift). All counts exact integers; stickiness rounded "
    "6dp. 100 TB: the user-day frame is one distinct pass over "
    "events; the range join fans it out x28 — span-bounded days "
    "times active users, the known exact-sliding-distinct cost.",
    oracle="""
      WITH du AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
        FROM events
      ),
      spine AS (SELECT DISTINCT day FROM du),
      roll AS (
        SELECT s.day,
               count(DISTINCT CASE WHEN d.day = s.day
                     THEN d.user_id END)::BIGINT AS dau,
               count(DISTINCT CASE WHEN d.day >= s.day - 6
                     THEN d.user_id END)::BIGINT AS wau,
               count(DISTINCT d.user_id)::BIGINT AS mau
        FROM spine s JOIN du d
          ON d.day BETWEEN s.day - 27 AND s.day
        GROUP BY s.day
      )
      SELECT day::BIGINT AS day, dau, wau, mau,
             round(dau::DOUBLE / mau, 6) AS stickiness
      FROM roll
      ORDER BY day
    """,
)
def events_dau_wau_mau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    du = ev.selectExpr(
        "unix_micros(ts) div 86400000000 as day", "user_id"
    ).distinct()
    spine = du.select("day").distinct().select(F.col("day").alias("d"))
    roll = (
        du.join(
            F.broadcast(spine),
            (F.col("day") >= F.col("d") - 27) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(
            F.count_distinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            )
            .cast("long")
            .alias("dau"),
            F.count_distinct(
                F.when(F.col("day") >= F.col("d") - 6, F.col("user_id"))
            )
            .cast("long")
            .alias("wau"),
            F.count_distinct("user_id").cast("long").alias("mau"),
        )
    )
    return roll.select(
        F.col("d").cast("long").alias("day"),
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
            "stickiness"
        ),
    ).orderBy("day")
