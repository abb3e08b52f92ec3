"""Streaming sliding-window distinct counting via HLL register banks.

The batch entry ``sketch_hll_rolling_window_distinct``
(inventory/stats.py) reduces events to per-day HLL registers —
(day, bucket) → max(rho) — then answers every trailing-window distinct
from the register frame alone. ``max`` is MERGEABLE, idempotent
streaming state: each micro-batch's partial maxima fold into the store
and the drained stream equals the batch register bank exactly,
regardless of how the input was split (asserted in
tests/test_streaming.py::test_rolling_hll_stream_equals_batch). This is
the register-sketch analogue of the drift-histogram twin
(streaming/drift.py): any register-reduced metric gets a streaming twin
for free because registers are bounded mergeable state.

100 TB: streaming state is |days in retention| × m register rows —
bounded by the calendar and the sketch width, never by event volume.
The rolling estimate is a finishing step over the drained registers
(foreachBatch or a complete-mode sink), exactly as in batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scout_spark.inventory.stats import HLL_ALPHA_M2, HLL_B, HLL_M

_DAY_US = 86_400_000_000


def _hll_cols(user_id: Column) -> tuple[Column, Column]:
    """(bucket, rho) for one user id — the sketch_hll_md5_distinct
    cross-engine kernel (md5 → 60-bit int; bucket = low bits; rho =
    leading-zero rank of the remaining 53-bit window)."""
    hv = F.conv(
        F.substring(F.md5(user_id.cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.shiftright(hv, HLL_B)
    # single-reference rho (see stats.sketch_hll_md5): avoids
    # the 3x md5 CollapseProject inline; identical integers
    rho = F.lit(54) - F.length(F.bin(F.shiftleft(w, 1) + 1))
    return (hv % HLL_M).alias("bucket"), rho.alias("rho")


def hll_day_registers(events: DataFrame) -> DataFrame:
    """Per-(day, bucket) max-rho register bank — works identically on
    a batch frame and a streaming frame (complete/update mode: max is
    mergeable, idempotent state; state size = days × m rows)."""
    bucket, rho = _hll_cols(F.col("user_id"))
    return (
        events.select(
            # integer floor division, matching the batch entry and the
            # cross-engine invariant (float division + cast is exact only
            # while unix_micros stays under 2^53 — enforced nowhere)
            F.expr(f"unix_micros(ts) div {_DAY_US}").alias("day"),
            bucket,
            rho,
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def rolling_hll_estimate(
    regs: DataFrame, window_days: int = 7
) -> DataFrame:
    """Finishing step over a drained register bank: merge each day's
    trailing ``window_days`` registers (max per bucket) and apply the
    HLL estimator with linear-counting fallback — the identical
    formula the batch entry uses, so stream == batch is exact."""
    spine = regs.select(F.col("day").alias("d")).distinct()
    merged = (
        spine.join(
            F.broadcast(regs),
            (F.col("day") >= F.col("d") - (window_days - 1))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d", "bucket")
        .agg(F.max("r").alias("r"))
    )
    est = merged.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_regs"),
        # pyspark's shiftleft only takes a literal shift — SQL form for
        # the per-row register shift (same expression as the batch entry)
        F.sum(F.expr("1.0 / shiftleft(cast(1 as bigint), r)")).alias(
            "s_present"
        ),
    )
    # HLL_ALPHA_M2 is repr(float) (a string, for SQL interpolation) —
    # coerce explicitly rather than relying on implicit string→double
    raw = F.lit(float(HLL_ALPHA_M2)) / (
        F.col("s_present") + (HLL_M - F.col("n_regs"))
    )
    lc = HLL_M * F.log(
        F.lit(float(HLL_M)) / (HLL_M - F.col("n_regs"))
    )
    return est.select(
        F.col("d").cast("long").alias("day"),
        F.round(
            F.when(
                (raw <= 2.5 * HLL_M) & (F.col("n_regs") < HLL_M), lc
            ).otherwise(raw),
            2,
        ).alias("hll_estimate"),
    ).orderBy("day")
