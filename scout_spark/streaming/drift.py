"""Streaming corpus-drift monitoring.

The drift metrics in the batch inventory (PSI, KS, JSD — see
inventory/stats.py) all reduce the corpus to
a bounded HISTOGRAM first and compute the divergence on that. The
histogram counts are plain decomposable sums, i.e. MERGEABLE streaming
state: each micro-batch's partial counts add into the store, so the
drained stream equals the batch histogram exactly regardless of how
the input was split into batches (asserted in
tests/test_streaming.py::test_drift_histogram_stream_equals_batch).
The divergence itself is a finishing step over the bounded histogram —
run it per trigger in ``foreachBatch`` or on the complete-mode sink.

100 TB: streaming state is one row per (bin) — bounded by the value
range and bin width, never by document volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

JSD_BIN = 100


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of document parquet drops (landing-zone
    pattern, same shape as events.read_events_stream)."""
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def length_drift_histogram(
    docs: DataFrame, lang_a: str = "en", lang_b: str = "de"
) -> DataFrame:
    """Streaming twin of the histogram inside inventory item
    stats_jensen_shannon_divergence (stats.py): per-bin counts
    for the two compared languages. Conditional counts are
    decomposable sums — mergeable state, split-invariant by
    construction. Complete-mode output; state is |bins| rows."""
    return (
        docs.where(F.col("lang").isin(lang_a, lang_b))
        .groupBy(F.expr(f"n_chars div {JSD_BIN}").alias("bin"))
        .agg(
            F.sum(F.when(F.col("lang") == lang_a, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
            F.sum(F.when(F.col("lang") == lang_b, 1).otherwise(0))
            .cast("long")
            .alias("c2"),
        )
    )


def jsd_from_histogram(h: DataFrame) -> DataFrame:
    """Finishing step: Jensen-Shannon divergence from a drained (or
    per-trigger) drift histogram. Pure bounded-frame arithmetic —
    identical to the batch entry's tail, so stream-fed and batch-fed
    histograms yield the same divergence row."""
    tot = h.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    j = h.crossJoin(F.broadcast(tot)).where(
        (F.col("n1") > 0) & (F.col("n2") > 0)
    )
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    m = (p + q) / 2
    t1 = F.when(F.col("c1") > 0, p * F.log(p / m)).otherwise(0.0)
    t2 = F.when(F.col("c2") > 0, q * F.log(q / m)).otherwise(0.0)
    sums = j.agg(
        F.sum(t1).alias("s1"),
        F.sum(t2).alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    ).where(F.col("n_bins") > 0)
    return sums.select(
        "n_bins",
        F.round(F.col("s1") / 2 + F.col("s2") / 2, 6).alias("jsd_nats"),
    )


CMS_D = 4
CMS_W = 512


def token_cms_cells(docs: DataFrame) -> DataFrame:
    """Streaming twin of the count-min sketch build inside inventory
    item sketch_cms_md5_frequencies (stats.py): per-(depth,
    bucket) md5 cell counts over the token stream. Cell counts are
    decomposable sums — MERGEABLE streaming state, the property that
    makes CMS (and every linear sketch) a streaming structure at all:
    each micro-batch's partial cells add into the store, so the
    drained stream equals the batch sketch cell-for-cell and every
    point estimate derived from it is identical
    (tests/test_streaming.py). State is <= d*w rows at ANY volume."""
    tok = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("tok")
    )
    cells = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(F.lit(f"{d}:"), F.col("tok"))
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.d", "c.bucket")
    return cells.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
