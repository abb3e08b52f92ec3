"""Statistics and data profiling: sketches (HLL, CMS, KMV, Bloom),
hypothesis tests, distribution and concentration measures, correlation,
evaluation metrics and table audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.inventory import register
from scout_spark.inventory.common import (
    HOUR_US,
    QW,
    doc_tokens,
    lower_tokens,
    table,
    tokens_col,
    wide_table,
)


@register(
    "profile_dataset_columns",
    "Dataset profiling: per-column null count, distinct count, and "
    "min/max (as strings) over documents — the dataset-card stats pass. "
    "One aggregate job; each column's stats are map-side partials, "
    "unioned into the long (column, stat) shape.",
    oracle="""
      SELECT 'lang' AS col, count(*) - count(lang) AS n_nulls,
             count(DISTINCT lang) AS n_distinct,
             CAST(min(lang) AS VARCHAR) AS min_val,
             CAST(max(lang) AS VARCHAR) AS max_val
      FROM documents
      UNION ALL
      SELECT 'source', count(*) - count(source), count(DISTINCT source),
             CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'n_chars', count(*) - count(n_chars), count(DISTINCT n_chars),
             CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'doc_id', count(*) - count(doc_id), count(DISTINCT doc_id),
             CAST(min(doc_id) AS VARCHAR), CAST(max(doc_id) AS VARCHAR)
      FROM documents
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    parts = []
    for c in ["lang", "source", "n_chars", "doc_id"]:
        parts.append(
            d.agg(
                F.lit(c).alias("col"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "agg_statistical_moments",
    "Statistical aggregates per group (SURVEY.md §2.4 A4): stddev, "
    "variance, correlation, covariance — single shuffle, all computed in "
    "one partial-aggregate pass.",
    oracle="""
      SELECT l_returnflag,
             round(stddev_samp(l_discount), 6)                    AS sd_disc,
             round(var_samp(l_quantity), 6)                       AS var_qty,
             round(corr(l_quantity, l_extendedprice), 6)          AS corr_qty_price,
             round(covar_samp(l_quantity, l_extendedprice), 4)    AS covar_qty_price
      FROM lineitem
      GROUP BY l_returnflag
    """,
)
def agg_statistical(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
            "covar_qty_price"
        ),
    )


@register(
    "agg_exact_percentiles",
    "Exact percentiles (linear interpolation) per group (SURVEY.md §2.4 "
    "A4): Spark percentile ≙ DuckDB quantile_cont. The exact form needs "
    "a full sort per group; the 100 TB path swaps in percentile_approx "
    "(see agg_approx_distinct_and_percentile).",
    oracle="""
      SELECT o_orderstatus AS status,
             round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
             round(quantile_cont(o_totalprice, 0.75), 4) AS p75
      FROM orders
      GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 4).alias("p75"),
    )


@register(
    "agg_approx_distinct_and_percentile",
    "Sketch aggregates — approx_count_distinct (HLL++) and "
    "percentile_approx — the 100 TB replacements for exact distinct/"
    "percentile. Rows-only: sketch results are engine-specific by design; "
    "tests pin them within rel-error of the exact values.",
    tags=("rows-only",),
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.approx_count_distinct("o_custkey").alias("approx_customers"),
        F.round(F.percentile_approx("o_totalprice", 0.5), 2).alias("approx_p50"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_histogram_width_bucket",
    "Equi-width histogram of order totals via width_bucket (oracle "
    "spells out the same edge arithmetic — DuckDB 1.0 lacks the "
    "function) — the "
    "profiling primitive behind every data-distribution dashboard. "
    "Bucket assignment is row-local; one map-side-combined agg on the "
    "bucket id. Identical bucket edges on both engines (integer bucket "
    "count over an explicit [0, 600000) range — no data-dependent "
    "min/max pass needed).",
    oracle="""
      SELECT CASE WHEN o_totalprice < 0 THEN 0
                  WHEN o_totalprice >= 600000 THEN 31
                  ELSE floor(o_totalprice / 20000)::BIGINT + 1 END AS bucket,
             count(*) AS n,
             round(min(o_totalprice), 2) AS lo,
             round(max(o_totalprice), 2) AS hi
      FROM orders
      GROUP BY 1
    """,
)
def agg_histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(30)).alias(
                "bucket"
            ),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "basket_part_cooccurrence",
    "Market-basket co-occurrence (the A-Priori candidate-pair step): "
    "parts appearing in the same order, via an orderkey self-join with "
    "partkey ordering to halve the pair space, counted and top-25 with "
    "a deterministic tie-break. The self-join co-partitions on "
    "orderkey (one shuffle reused by both sides); per-order fanout is "
    "bounded by basket size squared, the algorithm's intrinsic cost.",
    oracle="""
      WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      )
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_orders
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      ORDER BY n_orders DESC, part_a, part_b
      LIMIT 25
    """,
)
def basket_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(25)
    )


def _cms_md5_bucket(col, d: int, width: int):
    # DuckDB-reproducible bucket (common.md5_32 discipline):
    # first 8 md5 hex chars of "d:item" as an unsigned 32-bit int,
    # mod width — non-negative on both engines, so % == pmod.
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{d}:"), col)), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    )


@register(
    "sketch_cms_term_frequencies",
    "Count-min sketch term-frequency estimation (operators/sketches.py"
    "::cms_build/cms_estimates): one JVM-only groupBy builds the "
    "depth×width counter table (shuffle bounded by the sketch size, "
    "never the stream), point queries broadcast the sketch and take the "
    "min counter. Emits estimate alongside the exact count for the four "
    "flagship terms. Converted from rows-only in r11 (VERDICT r10 item "
    "5): the injected md5 bucket_fn makes every counter deterministic "
    "on both engines, so the full sketch+probe pipeline is the oracle "
    "(same pure-Column plan shape as the xxhash64 default, which stays "
    "the production hash — its never-undercounts and ≤εN-overcount "
    "bounds remain pinned in tests/test_retrieval.py).",
    oracle="""
      WITH tok AS (
        SELECT unnest(regexp_extract_all(
                 lower(coalesce(text, '')), '[a-z0-9]+')) AS tok
        FROM documents
      ),
      cells AS (SELECT unnest(range(0, 4)) AS d, tok FROM tok),
      sketch AS (
        SELECT d,
               ('0x' || substr(md5(d::VARCHAR || ':' || tok), 1, 8))::BIGINT
                 % 2048 AS bucket,
               count(*) AS n
        FROM cells GROUP BY 1, 2
      ),
      probes(tok) AS (VALUES ('spark'), ('table'), ('merge'), ('fast')),
      pcells AS (
        SELECT p.tok, dd.d,
               ('0x' || substr(md5(dd.d::VARCHAR || ':' || p.tok),
                               1, 8))::BIGINT % 2048 AS bucket
        FROM probes p
        CROSS JOIN (SELECT unnest(range(0, 4)) AS d) dd
      ),
      est AS (
        SELECT pc.tok, min(coalesce(s.n, 0))::BIGINT AS estimate
        FROM pcells pc
        LEFT JOIN sketch s ON pc.d = s.d AND pc.bucket = s.bucket
        GROUP BY pc.tok
      ),
      ex AS (
        SELECT p.tok,
               (SELECT count(*) FROM tok t
                WHERE t.tok = p.tok)::BIGINT AS exact
        FROM probes p
      )
      SELECT e.tok, e.estimate, x.exact,
             e.estimate - x.exact AS overcount
      FROM est e JOIN ex x ON e.tok = x.tok
      ORDER BY e.tok
    """,
)
def sketch_cms_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.sketches import cms_build, cms_estimates

    d = wide_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    sketch = cms_build(
        toks, "tok", width=2048, depth=4, bucket_fn=_cms_md5_bucket
    )
    terms = spark.createDataFrame(
        [("spark",), ("table",), ("merge",), ("fast",)], "tok string"
    )
    est = cms_estimates(
        sketch, terms, "tok", width=2048, depth=4,
        bucket_fn=_cms_md5_bucket,
    )
    exact = (
        toks.join(F.broadcast(terms), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.join(exact, "tok", "left")
        .select(
            "tok",
            F.col("estimate").cast("long").alias("estimate"),
            F.coalesce("exact", F.lit(0)).cast("long").alias("exact"),
            (
                F.col("estimate") - F.coalesce("exact", F.lit(0))
            ).cast("long").alias("overcount"),
        )
        .orderBy("tok")
    )


# Deterministic "v2" simulation of the orders table, derived from the
# same parquet on both engines: every 97th key gets a price bump
# (changed), every 101st is dropped (deleted), and a shifted tail of
# synthetic keys is appended (inserted). Additive arithmetic only (the
# repo's fixture rule: no decimal-midpoint division).
_CHANGED_MOD = 97
_DELETED_MOD = 101
_INSERT_COUNT = 500
_INSERT_OFFSET = 900_000_000


@register(
    "audit_snapshot_diff",
    "Snapshot diff between two table versions — the audit/CDC report "
    "behind every incremental-publish pipeline (which rows appeared, "
    "vanished, or changed since the last run): one full-outer join on "
    "the primary key, change classification from null-sides + value "
    "comparison, then a per-status rollup. At scale both sides are "
    "key-partitioned parquet so the join co-locates; the value "
    "comparison here is an explicit column equality — a production "
    "run hashes the struct of compared columns instead. v2 is "
    "simulated deterministically from the same snapshot on both "
    "engines (bumped price every 97th key, dropped every 101st, "
    "synthetic inserted tail).",
    oracle=f"""
      WITH v1 AS (
        SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS st
        FROM orders
      ),
      v2 AS (
        SELECT k,
               CASE WHEN k % {_CHANGED_MOD} = 0 THEN price + 1.0
                    ELSE price END AS price,
               st
        FROM v1 WHERE k % {_DELETED_MOD} <> 0
        UNION ALL
        SELECT {_INSERT_OFFSET} + range AS k, 100.0 + range AS price, 'N' AS st
        FROM range({_INSERT_COUNT})
      ),
      diff AS (
        SELECT
          CASE WHEN v1.k IS NULL THEN 'inserted'
               WHEN v2.k IS NULL THEN 'deleted'
               WHEN v1.price <> v2.price OR v1.st <> v2.st THEN 'changed'
               ELSE 'unchanged' END AS status,
          coalesce(v2.price, v1.price) AS price
        FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
      )
      SELECT status, count(*) AS n_rows,
             round(sum(CAST(price AS DECIMAL(18,2))), 2)::DOUBLE AS sum_price
      FROM diff GROUP BY status ORDER BY status
    """,
)
def audit_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("st"),
    )
    inserted = spark.range(_INSERT_COUNT).select(
        (F.lit(_INSERT_OFFSET) + F.col("id")).alias("k"),
        (F.lit(100.0) + F.col("id")).alias("price"),
        F.lit("N").alias("st"),
    )
    v2 = (
        v1.where(F.col("k") % _DELETED_MOD != 0)
        .select(
            "k",
            F.when(
                F.col("k") % _CHANGED_MOD == 0, F.col("price") + 1.0
            )
            .otherwise(F.col("price"))
            .alias("price"),
            "st",
        )
        .unionAll(inserted)
    )
    a = v1.alias("a")
    b = v2.alias("b")
    diff = a.join(b, F.col("a.k") == F.col("b.k"), "full_outer").select(
        F.when(F.col("a.k").isNull(), "inserted")
        .when(F.col("b.k").isNull(), "deleted")
        .when(
            (F.col("a.price") != F.col("b.price"))
            | (F.col("a.st") != F.col("b.st")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.col("b.price"), F.col("a.price")).alias("price"),
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("price").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("status")
    )


# Round-4 second wave: cross-engine sketch twins (HyperLogLog, CMS),
# corpus statistics (TF-IDF, bigram LM perplexity, vocabulary growth),
# referential-integrity audit, and event inter-arrival profiling.
#
# The sketch twins follow the repo's md5 cross-engine pattern
# (dedup_minhash_md5_signatures, ann_lsh_md5_bucketed): md5 is md5 in every engine, so
# the full register/bucket state is oracle-reproducible and the value
# hash pins the whole kernel — unlike the engine-specific
# approx_count_distinct / CMS entries, which stay rows-only by design.

# ---------------------------------------------------------------- HLL

HLL_B = 8  # 2^8 = 256 registers
HLL_M = 1 << HLL_B
# Flajolet et al. 2007 bias constant for m >= 128; the literal is
# inlined identically into both engines so the doubles agree bit-wise.
HLL_ALPHA_M2 = repr(0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M)

# 15 hex chars = 60 bits keeps the hash positive in a signed BIGINT on
# both engines; low 8 bits pick the register, the remaining 52 feed the
# leading-zero rank. rho = 53 - bitlength(w) because bin(w) has no
# leading zeros, so len(bin(w)) = floor(log2 w) + 1 — integer-exact,
# no FP log anywhere in the register state.
_HLL_SQL = f"""
      WITH tok AS (
        SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
      ),
      h AS (
        SELECT source, tok,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
        FROM tok
      ),
      rr AS (
        SELECT source, hv % {HLL_M} AS bucket,
               CASE WHEN (hv >> {HLL_B}) > 0
                    THEN 53 - length(bin(hv >> {HLL_B}))
                    ELSE 53 END AS rho
        FROM h
      ),
      regs AS (
        SELECT source, bucket, max(rho) AS r
        FROM rr GROUP BY source, bucket
      ),
      est AS (
        SELECT source,
               count(*) AS n_regs,
               sum(1.0 / (1::BIGINT << r)) AS s_present
        FROM regs GROUP BY source
      ),
      ex AS (
        SELECT source, count(DISTINCT tok) AS exact_distinct FROM tok GROUP BY source
      )
      SELECT e.source,
             x.exact_distinct,
             round(CASE WHEN {HLL_ALPHA_M2} / (e.s_present + ({HLL_M} - e.n_regs))
                             <= 2.5 * {HLL_M}
                         AND e.n_regs < {HLL_M}
                        THEN {HLL_M} * ln({HLL_M}::DOUBLE / ({HLL_M} - e.n_regs))
                        ELSE {HLL_ALPHA_M2} / (e.s_present + ({HLL_M} - e.n_regs))
                   END, 2) AS hll_estimate,
             round(abs(CASE WHEN {HLL_ALPHA_M2} / (e.s_present + ({HLL_M} - e.n_regs))
                                 <= 2.5 * {HLL_M}
                             AND e.n_regs < {HLL_M}
                            THEN {HLL_M} * ln({HLL_M}::DOUBLE / ({HLL_M} - e.n_regs))
                            ELSE {HLL_ALPHA_M2} / (e.s_present + ({HLL_M} - e.n_regs))
                       END - x.exact_distinct) / x.exact_distinct, 4) AS rel_error
      FROM est e JOIN ex x ON e.source = x.source
      ORDER BY e.source
"""


@register(
    "sketch_hll_md5_distinct",
    "HyperLogLog distinct-count sketch with a CROSS-ENGINE md5 kernel "
    "(Flajolet et al. 2007): 60-bit md5 hash, 256 registers, "
    "integer-exact leading-zero ranks via bitlength (no FP log in the "
    "register state), harmonic-mean estimate + small-range linear "
    "counting, compared against the exact per-source distinct token "
    "count. The oracle reproduces every register, so the value hash "
    "pins the whole sketch — the engine-native approx_count_distinct "
    "entry stays rows-only by design; this is its verifiable twin. "
    "100 TB: registers are a mergeable (source, bucket)->max(rho) "
    "state — one map-side-combined shuffle of at most m rows per "
    "group, the textbook distributed-sketch shape.",
    oracle=_HLL_SQL,
)
def sketch_hll_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = doc_tokens(spark, sf_dir).select("source", "tok")
    hv = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    w = F.shiftright(hv, HLL_B)
    # single-reference rho: 54 - bitlength(2w+1) == (w>0 ? 53 -
    # bitlength(w) : 53) for all w >= 0 — the conditional form
    # referenced w TWICE, so CollapseProject inlined the md5 chain 3x
    # per row (bucket + both w refs); this form evaluates it 2x
    # (measured 1.29 -> 1.01 s at sf0.1, r10). Oracle unchanged —
    # identical integers.
    rho = F.lit(54) - F.length(F.bin(F.shiftleft(w, 1) + 1))
    regs = (
        tok.select(
            "source", "tok", (hv % HLL_M).alias("bucket"), rho.alias("rho")
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    est = regs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(
            F.expr("1.0 / shiftleft(cast(1 as bigint), r)")
        ).alias("s_present"),
    )
    ex = tok.groupBy("source").agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    alpha_m2 = F.lit(float(HLL_ALPHA_M2))
    raw = alpha_m2 / (F.col("s_present") + (HLL_M - F.col("n_regs")))
    small = (raw <= 2.5 * HLL_M) & (F.col("n_regs") < HLL_M)
    linear = HLL_M * F.log(
        F.lit(float(HLL_M)) / (HLL_M - F.col("n_regs"))
    )
    hll = F.when(small, linear).otherwise(raw)
    return (
        est.join(ex, "source")
        .select(
            "source",
            "exact_distinct",
            F.round(hll, 2).alias("hll_estimate"),
            F.round(
                F.abs(hll - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- CMS

_CMS_D = 4
_CMS_W = 512
_CMS_PROBES = ("data", "model", "learning", "spark", "quick", "zebra")


def _cms_probe_values() -> str:
    return ", ".join(f"('{p}')" for p in _CMS_PROBES)


@register(
    "sketch_cms_md5_frequencies",
    "Count-min sketch (Cormode & Muthukrishnan 2005) with a CROSS-"
    f"ENGINE md5 kernel: depth {_CMS_D} x width {_CMS_W}, row-d bucket "
    "= md5(d:token) mod width, point estimate = min over rows — an "
    "upper bound that equals the exact count unless every row "
    "collides. Probes a fixed word list and reports estimate vs exact "
    "overcount. The engine-native CMS entry (operators/sketches.py) "
    "stays rows-only; this twin makes the sketch family value-hash "
    "verifiable. 100 TB: the sketch is a (d, bucket)->count table of "
    "at most d*w rows regardless of corpus size — one map-side-"
    "combined shuffle, then an O(d) broadcast probe.",
    oracle=f"""
      WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
      ),
      cells AS (
        SELECT unnest(range(0, {_CMS_D})) AS d, tok FROM tok
      ),
      sketch AS (
        SELECT d,
               ('0x' || substr(md5(d::VARCHAR || ':' || tok), 1, 8))::BIGINT
                 % {_CMS_W} AS bucket,
               count(*) AS n
        FROM cells GROUP BY 1, 2
      ),
      probes(tok) AS (VALUES {_cms_probe_values()}),
      pcells AS (
        SELECT p.tok, d.d,
               ('0x' || substr(md5(d.d::VARCHAR || ':' || p.tok), 1, 8))::BIGINT
                 % {_CMS_W} AS bucket
        FROM probes p, (SELECT unnest(range(0, {_CMS_D})) AS d) d
      ),
      est AS (
        SELECT pc.tok, min(coalesce(s.n, 0)) AS cms_estimate
        FROM pcells pc LEFT JOIN sketch s
          ON pc.d = s.d AND pc.bucket = s.bucket
        GROUP BY pc.tok
      ),
      ex AS (
        SELECT p.tok,
               (SELECT count(*) FROM tok t WHERE t.tok = p.tok) AS exact_n
        FROM probes p
      )
      SELECT e.tok AS token, x.exact_n, e.cms_estimate,
             e.cms_estimate - x.exact_n AS overcount
      FROM est e JOIN ex x ON e.tok = x.tok
      ORDER BY token
    """,
)
def sketch_cms_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = doc_tokens(spark, sf_dir).select("tok")

    def _bucket(d, c):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{d}:"), c)), 1, 8), 16, 10
            ).cast("long")
            % _CMS_W
        )

    cells = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(d, F.col("tok")).alias("bucket"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.d", "c.bucket")
    sketch = cells.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("n"))

    probes = spark.createDataFrame(
        [(p,) for p in _CMS_PROBES], schema="tok string"
    )
    pcells = probes.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(d, F.col("tok")).alias("bucket"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("c"),
    ).select("tok", "c.d", "c.bucket")
    est = (
        pcells.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cms_estimate"))
    )
    ex = (
        probes.join(
            tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")),
            "tok",
            "left",
        )
        .select("tok", F.coalesce("cnt", F.lit(0)).alias("exact_n"))
    )
    return (
        est.join(ex, "tok")
        .select(
            F.col("tok").alias("token"),
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("token")
    )


# ------------------------------------------- referential integrity


@register(
    "audit_referential_orphans",
    "Referential-integrity audit across the star schema: orphan-row "
    "counts and rates for the four FK edges (orders->customer, "
    "lineitem->orders, lineitem->part, lineitem->supplier) — the "
    "pre-training-join data-quality gate that catches broken "
    "extraction before a silent inner-join row loss. Each edge is a "
    "left join against the distinct parent keys folded into one agg "
    "(count + sum-of-missing in a single pass, no separate anti-join "
    "job); small dims broadcast, the lineitem->orders edge shuffles "
    "on the key as it would at 100 TB.",
    oracle="""
      SELECT 'lineitem->orders' AS fk_edge,
             (SELECT count(*) FROM lineitem) AS n_rows,
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
             round((SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))::DOUBLE
                   / (SELECT count(*) FROM lineitem), 6) AS orphan_rate
      UNION ALL
      SELECT 'lineitem->part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey)),
             round((SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM part p
                                      WHERE p.p_partkey = l.l_partkey))::DOUBLE
                   / (SELECT count(*) FROM lineitem), 6)
      UNION ALL
      SELECT 'lineitem->supplier',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey)),
             round((SELECT count(*) FROM lineitem l
                    WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                      WHERE s.s_suppkey = l.l_suppkey))::DOUBLE
                   / (SELECT count(*) FROM lineitem), 6)
      UNION ALL
      SELECT 'orders->customer',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)),
             round((SELECT count(*) FROM orders o
                    WHERE NOT EXISTS (SELECT 1 FROM customer c
                                      WHERE c.c_custkey = o.o_custkey))::DOUBLE
                   / (SELECT count(*) FROM orders), 6)
      ORDER BY fk_edge
    """,
)
def audit_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    p = table(spark, sf_dir, "part")
    s = table(spark, sf_dir, "supplier")

    def edge(name, child, ck, parent, pk, bcast):
        keys = parent.select(F.col(pk).alias("_k")).distinct().withColumn(
            "_hit", F.lit(1)
        )
        if bcast:
            keys = F.broadcast(keys)
        j = child.select(F.col(ck).alias("_k")).join(keys, "_k", "left")
        return j.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("_hit").isNull(), 1).otherwise(0)
            ).alias("n_orphans"),
        ).select(
            F.lit(name).alias("fk_edge"),
            "n_rows",
            "n_orphans",
            F.round(
                F.col("n_orphans").cast("double") / F.col("n_rows"), 6
            ).alias("orphan_rate"),
        )

    return (
        edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey", False)
        .unionAll(edge("lineitem->part", li, "l_partkey", p, "p_partkey", True))
        .unionAll(
            edge("lineitem->supplier", li, "l_suppkey", s, "s_suppkey", True)
        )
        .unionAll(edge("orders->customer", o, "o_custkey", c, "c_custkey", True))
        .orderBy("fk_edge")
    )


# Round-4 third wave: event-flow analytics (Markov transitions, top
# paths, rolling anomaly detection, linear gap interpolation), corpus
# insight (windowed PMI collocations, RAKE keyword extraction), graph
# link prediction, ANN range search, grouped OLS regression, weighted
# percentiles, and a functional-dependency audit.
#
# Cross-engine FP discipline (same house rules as timeseries_ewma_bounded):
#
# - Every accumulation that feeds a comparison or a ranking is INTEGER
#   (counts, integer cents, integer quantities, epoch micros) — exact and
#   order-independent on both engines; doubles appear only in final
#   single-expression formulas whose operand order is written identically
#   on both sides (same IEEE op sequence -> same bits).
# - Sums that can exceed int64 (OLS Sigma-y^2 in cents^2) go through
#   decimal(38,0) on Spark / DuckDB's HUGEINT sum — both exact — and are
#   cast to double only at the formula boundary.
# - Per-user/type windows order by (ts, event_id): ts alone ties under
#   generated data and an engine-dependent tie order flips lag values.
# - LIMIT queries carry full deterministic tie-breaks.

# ------------------------------------------------------------------ OLS


@register(
    "agg_ols_by_group",
    "Closed-form simple linear regression (slope / intercept / r^2) of "
    "extended price on quantity per return flag — grouped OLS from the "
    "five classic sufficient statistics. All sums are EXACT integers "
    "(quantity is integral; price in cents; Sigma-y^2 exceeds int64 so "
    "it runs through decimal(38,0) on Spark and DuckDB's HUGEINT sum — "
    "both exact), cast to double only inside the final formulas, which "
    "are written with the identical operand order on both engines. "
    "100 TB: a single map-side-combined agg — sufficient statistics ARE "
    "the mergeable-state formulation of regression, the same shape any "
    "distributed ML preprocessing uses.",
    oracle="""
      WITH s AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(l_quantity::BIGINT) AS sx,
               sum(round(l_extendedprice * 100)::BIGINT) AS sy,
               sum(l_quantity::BIGINT
                   * round(l_extendedprice * 100)::BIGINT) AS sxy,
               sum(l_quantity::BIGINT * l_quantity::BIGINT) AS sxx,
               sum(round(l_extendedprice * 100)::BIGINT
                   * round(l_extendedprice * 100)::BIGINT) AS syy
        FROM lineitem GROUP BY 1
      ),
      d AS (
        SELECT l_returnflag, n,
               n::DOUBLE AS nd, sx::DOUBLE AS sxd, sy::DOUBLE AS syd,
               sxy::DOUBLE AS sxyd, sxx::DOUBLE AS sxxd, syy::DOUBLE AS syyd
        FROM s
      )
      SELECT l_returnflag, n,
             round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) / 100,
                   6) AS slope,
             round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                    * sxd) / nd / 100, 2) AS intercept,
             round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
                   / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)),
                   6) AS r2
      FROM d
      ORDER BY l_returnflag
    """,
)
def agg_ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    xi = F.col("l_quantity").cast("bigint")
    yi = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(yi).alias("sy"),
        F.sum(xi * yi).alias("sxy"),
        F.sum(xi * xi).alias("sxx"),
        F.sum((yi * yi).cast("decimal(38,0)")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    slope_c = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    num2 = (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
    den2 = (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope_c / 100, 6).alias("slope"),
        F.round((syd - slope_c * sxd) / nd / 100, 2).alias("intercept"),
        F.round(num2 / den2, 6).alias("r2"),
    ).orderBy("l_returnflag")


# ------------------------------------------------------ weighted median


@register(
    "agg_weighted_percentile",
    "Quantity-weighted price percentiles per return flag (weighted "
    "median + weighted p90): pick the first price whose cumulative "
    "quantity weight crosses the target fraction — the inventory-"
    "weighted price statistic BI suites ship as PERCENTILE_CONT("
    "weight). Entirely integer arithmetic (cents, integer quantities, "
    "2*cumw >= tot threshold tests) — zero FP order sensitivity. The "
    "cumulative weight is computed HISTOGRAM-REFINE style: a 64Ki-cent "
    "bin pre-agg gives per-bin prior weights (tiny per-flag window), "
    "then the exact crossing row comes from within-bin running sums — "
    "windows partition on (flag, bin), not the 3-value flag alone, so "
    "parallelism scales with the value range instead of capping at "
    "|flags| (1.9 s -> sub-second at sf0.1; the naive per-flag global "
    "sort is the plan that dies at 100 TB). The oracle keeps the "
    "single-window formulation — independently derived, identical "
    "integer cumsums.",
    oracle="""
      WITH r AS (
        SELECT l_returnflag,
               round(l_extendedprice * 100)::BIGINT AS pc,
               l_quantity::BIGINT AS q,
               sum(l_quantity::BIGINT) OVER
                 (PARTITION BY l_returnflag
                  ORDER BY round(l_extendedprice * 100)::BIGINT,
                           l_orderkey, l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
               sum(l_quantity::BIGINT) OVER
                 (PARTITION BY l_returnflag) AS tot
        FROM lineitem
      )
      SELECT l_returnflag,
             round(min(CASE WHEN 2 * cumw >= tot THEN pc END) / 100.0, 2)
               AS weighted_median,
             round(min(CASE WHEN 10 * cumw >= 9 * tot THEN pc END) / 100.0,
                   2) AS weighted_p90,
             min(tot)::BIGINT AS total_weight
      FROM r GROUP BY l_returnflag
      ORDER BY l_returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    q = F.col("l_quantity").cast("bigint")
    base = li.select(
        "l_returnflag",
        pc.alias("pc"),
        q.alias("q"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    ).withColumn("bin", F.shiftright("pc", 16))
    # per-bin weights: the bin frame is ~(price_range / 64Ki) rows per
    # flag, so its per-flag window is trivially small
    w1 = base.groupBy("l_returnflag", "bin").agg(F.sum("q").alias("bw"))
    wprior = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pri = w1.select(
        "l_returnflag",
        "bin",
        F.col("bw"),
        F.coalesce(F.sum("bw").over(wprior), F.lit(0)).alias("prior"),
        F.sum("bw").over(Window.partitionBy("l_returnflag")).alias("tot"),
    )
    # CROSSING-BIN PRUNING (r08 floor capture: the within-bin window
    # over the full fact stream was 4.6× a single-thread DuckDB on
    # identical work): each target fraction crosses in exactly ONE bin
    # per flag — min bin whose end-cumulative reaches the threshold;
    # the exact crossing row then comes from sorting ONLY those bins'
    # rows (2 bins per flag regardless of corpus size). prior < thr <=
    # prior+bw in the crossing bin, so the per-row scan below cannot
    # miss it.
    wflag = Window.partitionBy("l_returnflag")
    crossing = (
        pri.withColumn(
            "med_bin",
            F.min(
                F.when(
                    2 * (F.col("prior") + F.col("bw")) >= F.col("tot"),
                    F.col("bin"),
                )
            ).over(wflag),
        )
        .withColumn(
            "p90_bin",
            F.min(
                F.when(
                    10 * (F.col("prior") + F.col("bw")) >= 9 * F.col("tot"),
                    F.col("bin"),
                )
            ).over(wflag),
        )
        .where(
            (F.col("bin") == F.col("med_bin"))
            | (F.col("bin") == F.col("p90_bin"))
        )
        .select("l_returnflag", "bin", "prior", "tot")
    )
    # exact within-bin running sum over the crossing bins only:
    # partitions on (flag, bin); sorted volume is O(rows-per-bin)
    win_in = (
        Window.partitionBy("l_returnflag", "bin")
        .orderBy("pc", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = base.join(F.broadcast(crossing), ["l_returnflag", "bin"]).select(
        "l_returnflag",
        "pc",
        (F.col("prior") + F.sum("q").over(win_in)).alias("cumw"),
        "tot",
    )
    return (
        r.groupBy("l_returnflag")
        .agg(
            F.round(
                F.min(F.when(2 * F.col("cumw") >= F.col("tot"), F.col("pc")))
                / 100.0,
                2,
            ).alias("weighted_median"),
            F.round(
                F.min(
                    F.when(10 * F.col("cumw") >= 9 * F.col("tot"), F.col("pc"))
                )
                / 100.0,
                2,
            ).alias("weighted_p90"),
            F.min("tot").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


# ------------------------------------------------------------- FD audit


@register(
    "audit_fd_violations",
    "Functional-dependency audit: for each candidate FD lhs -> rhs, "
    "count the lhs keys whose rhs is not unique — the data-contract "
    "check behind 'is this column derivable from that key'. Five "
    "candidates across orders/lineitem/customer/nation, each a "
    "two-level agg (distinct-rhs per key, then violation counts), "
    "UNION'd into one report. 100 TB: each check is one "
    "map-side-combined agg keyed by the lhs — the same shape as any "
    "profiling pass — and the report is a constant-size union.",
    oracle="""
      SELECT 'orders' AS tbl, 'o_custkey' AS lhs, 'o_orderpriority' AS rhs,
             count(*) AS n_keys,
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
             CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                  THEN 1 ELSE 0 END AS holds
      FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
            FROM orders GROUP BY 1)
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', 'l_returnflag', count(*),
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
             CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                  THEN 1 ELSE 0 END
      FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS nd
            FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'lineitem', 'l_partkey', 'l_suppkey', count(*),
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
             CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                  THEN 1 ELSE 0 END
      FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nd
            FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'customer', 'c_nationkey', 'c_mktsegment', count(*),
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
             CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                  THEN 1 ELSE 0 END
      FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY 1)
      UNION ALL
      SELECT 'nation', 'n_nationkey', 'n_regionkey', count(*),
             sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT,
             CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                  THEN 1 ELSE 0 END
      FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS nd
            FROM nation GROUP BY 1)
      ORDER BY tbl, lhs, rhs
    """,
)
def audit_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    def check(tbl: str, lhs: str, rhs: str) -> DataFrame:
        t = table(spark, sf_dir, tbl)
        # nd > 1 ⟺ min(rhs) != max(rhs): both countDistinct and
        # min/max ignore NULLs (all-NULL rhs -> NULL != NULL -> not
        # violating, matching nd=0), so the oracle's count(DISTINCT)
        # form is untouched while the engine swaps the exact
        # distinct's two-phase expand for map-side-combinable
        # min/max partials (FLOOR_r11: 6.05 s -> the countDistinct
        # expand was the whole cost; each branch is now ONE exchange
        # of partial min/max pairs keyed by the lhs).
        nd = t.groupBy(lhs).agg(
            (F.min(rhs) != F.max(rhs)).alias("viol")
        )
        viol = F.sum(F.when(F.col("viol"), 1).otherwise(0))
        return nd.agg(
            F.count(F.lit(1)).alias("n_keys"),
            viol.alias("n_violating"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            "n_keys",
            "n_violating",
            F.when(F.col("n_violating") == 0, 1).otherwise(0).alias(
                "holds"
            ),
        )

    out = (
        check("orders", "o_custkey", "o_orderpriority")
        .unionAll(check("lineitem", "l_orderkey", "l_returnflag"))
        .unionAll(check("lineitem", "l_partkey", "l_suppkey"))
        .unionAll(check("customer", "c_nationkey", "c_mktsegment"))
        .unionAll(check("nation", "n_nationkey", "n_regionkey"))
    )
    return out.orderBy("tbl", "lhs", "rhs")


# ----------------------------------------------------- chi-square test


@register(
    "stats_chi_square_independence",
    "Chi-square test of independence for the lang x source contingency "
    "table (+ Cramer's V effect size) — the categorical-association "
    "check behind 'is corpus composition skewed by source'. Observed "
    "and marginal counts are exact integers; each cell's (o-e)^2/e is "
    "one fixed-order double expression, and the cell contributions are "
    "folded in (lang, source) order via a sequential list fold on both "
    "engines (Spark aggregate() vs DuckDB list_reduce — a fold with an "
    "exact +0.0 seed, so the IEEE op sequences agree bit-for-bit; no "
    "engine-ordered SUM over doubles anywhere). 100 TB: one count agg "
    "collapses the corpus to |langs| x |sources| cells; everything "
    "after is constant-size.",
    oracle="""
      WITH o AS (
        SELECT lang, source, count(*) AS n
        FROM documents GROUP BY 1, 2
      ),
      t AS (
        SELECT lang, source, n,
               sum(n) OVER (PARTITION BY lang) AS r,
               sum(n) OVER (PARTITION BY source) AS c,
               sum(n) OVER () AS nn
        FROM o
      ),
      cc AS (
        SELECT lang, source,
               (n - r::DOUBLE * c / nn) * (n - r::DOUBLE * c / nn)
                 / (r::DOUBLE * c / nn) AS contrib
        FROM t
      ),
      agg AS (
        SELECT count(*) AS n_cells,
               list_reduce(list(contrib ORDER BY lang, source),
                           (a, b) -> a + b) AS chi2
        FROM cc
      ),
      dims AS (
        SELECT count(DISTINCT lang) AS nl, count(DISTINCT source) AS ns,
               count(*) AS nn
        FROM documents
      )
      SELECT agg.n_cells,
             (dims.nl - 1) * (dims.ns - 1) AS dof,
             round(agg.chi2, 4) AS chi2,
             round(sqrt(agg.chi2 / (dims.nn::DOUBLE
                                    * least(dims.nl - 1, dims.ns - 1))),
                   6) AS cramers_v
      FROM agg, dims
    """,
)
def stats_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    # unpartitioned windows OK: the frame is the pre-collapsed
    # |lang|x|source| contingency table (tens of rows at ANY corpus
    # size), never the document stream
    t = o.select(
        "lang",
        "source",
        "n",
        F.sum("n").over(Window.partitionBy("lang")).alias("r"),
        F.sum("n").over(Window.partitionBy("source")).alias("c"),
        F.sum("n").over(Window.partitionBy()).alias("nn"),
    )
    e = F.col("r").cast("double") * F.col("c") / F.col("nn")
    cc = t.select(
        "lang",
        "source",
        "nn",
        ((F.col("n") - e) * (F.col("n") - e) / e).alias("contrib"),
    )
    # dims (nl/ns/nn) come from the SAME cell frame — every lang and
    # source present in the corpus has a cell, so a second documents
    # scan for the distinct counts would be pure waste (review r04)
    agg = cc.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.expr(
            "aggregate(transform(array_sort(collect_list("
            "struct(lang, source, contrib))), s -> s.contrib), "
            "cast(0.0 as double), (a, x) -> a + x)"
        ).alias("chi2"),
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
        F.min("nn").alias("nn"),
    )
    return agg.select(
        "n_cells",
        ((F.col("nl") - 1) * (F.col("ns") - 1)).alias("dof"),
        F.round(F.col("chi2"), 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("nn").cast("double")
                    * F.least(F.col("nl") - 1, F.col("ns") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------- correlation matrix


@register(
    "profile_numeric_correlations",
    "Pairwise Pearson correlation profile of lineitem's numeric "
    "measures (quantity, price, discount, tax) — the profiling pass "
    "behind feature selection and drift monitoring. Each variable is "
    "quantized to its exact integer grid (units / cents / basis "
    "points), so all 14 sufficient statistics are EXACT integer sums "
    "(price-squared exceeds int64 and runs through decimal(38,0) / "
    "HUGEINT); the correlation formula is one fixed-order double "
    "expression per pair. One map-side-combined agg over the fact "
    "table computes every pair simultaneously — never six separate "
    "scans. 100 TB: sufficient statistics are the mergeable-state "
    "formulation; the output is constant-size.",
    oracle="""
      WITH s AS (
        SELECT count(*) AS n,
               sum(l_quantity::BIGINT) AS s_q,
               sum(round(l_extendedprice * 100)::BIGINT) AS s_p,
               sum(round(l_discount * 10000)::BIGINT) AS s_d,
               sum(round(l_tax * 10000)::BIGINT) AS s_t,
               sum(l_quantity::BIGINT * l_quantity::BIGINT) AS s_qq,
               sum(round(l_extendedprice * 100)::BIGINT
                   * round(l_extendedprice * 100)::BIGINT) AS s_pp,
               sum(round(l_discount * 10000)::BIGINT
                   * round(l_discount * 10000)::BIGINT) AS s_dd,
               sum(round(l_tax * 10000)::BIGINT
                   * round(l_tax * 10000)::BIGINT) AS s_tt,
               sum(round(l_discount * 10000)::BIGINT
                   * round(l_extendedprice * 100)::BIGINT) AS s_dp,
               sum(round(l_discount * 10000)::BIGINT
                   * l_quantity::BIGINT) AS s_dq,
               sum(round(l_discount * 10000)::BIGINT
                   * round(l_tax * 10000)::BIGINT) AS s_dt,
               sum(round(l_extendedprice * 100)::BIGINT
                   * l_quantity::BIGINT) AS s_pq,
               sum(round(l_extendedprice * 100)::BIGINT
                   * round(l_tax * 10000)::BIGINT) AS s_pt,
               sum(l_quantity::BIGINT
                   * round(l_tax * 10000)::BIGINT) AS s_qt
        FROM lineitem
      ),
      d AS (
        SELECT n, n::DOUBLE AS nd,
               s_q::DOUBLE AS q, s_p::DOUBLE AS p,
               s_d::DOUBLE AS dd, s_t::DOUBLE AS t,
               s_qq::DOUBLE AS qq, s_pp::DOUBLE AS pp,
               s_dd::DOUBLE AS ddd, s_tt::DOUBLE AS tt,
               s_dp::DOUBLE AS dp, s_dq::DOUBLE AS dq,
               s_dt::DOUBLE AS dt, s_pq::DOUBLE AS pq,
               s_pt::DOUBLE AS pt, s_qt::DOUBLE AS qt
        FROM s
      )
      SELECT var_x, var_y, n, round(corr, 6) AS corr FROM (
        SELECT 'discount' AS var_x, 'price' AS var_y, n,
               (nd * dp - dd * p) / (sqrt(nd * ddd - dd * dd)
                                     * sqrt(nd * pp - p * p)) AS corr
        FROM d
        UNION ALL
        SELECT 'discount', 'quantity', n,
               (nd * dq - dd * q) / (sqrt(nd * ddd - dd * dd)
                                     * sqrt(nd * qq - q * q))
        FROM d
        UNION ALL
        SELECT 'discount', 'tax', n,
               (nd * dt - dd * t) / (sqrt(nd * ddd - dd * dd)
                                     * sqrt(nd * tt - t * t))
        FROM d
        UNION ALL
        SELECT 'price', 'quantity', n,
               (nd * pq - p * q) / (sqrt(nd * pp - p * p)
                                    * sqrt(nd * qq - q * q))
        FROM d
        UNION ALL
        SELECT 'price', 'tax', n,
               (nd * pt - p * t) / (sqrt(nd * pp - p * p)
                                    * sqrt(nd * tt - t * t))
        FROM d
        UNION ALL
        SELECT 'quantity', 'tax', n,
               (nd * qt - q * t) / (sqrt(nd * qq - q * q)
                                    * sqrt(nd * tt - t * t))
        FROM d
      )
      ORDER BY var_x, var_y
    """,
)
def profile_numeric_correlations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    p = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dc = F.round(F.col("l_discount") * 10000).cast("bigint")
    tx = F.round(F.col("l_tax") * 10000).cast("bigint")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("s_q"),
        F.sum(p).alias("s_p"),
        F.sum(dc).alias("s_d"),
        F.sum(tx).alias("s_t"),
        F.sum(q * q).alias("s_qq"),
        F.sum(dec(p * p)).alias("s_pp"),
        F.sum(dc * dc).alias("s_dd"),
        F.sum(tx * tx).alias("s_tt"),
        F.sum(dc * p).alias("s_dp"),
        F.sum(dc * q).alias("s_dq"),
        F.sum(dc * tx).alias("s_dt"),
        F.sum(dec(p * q)).alias("s_pq"),
        F.sum(dec(p * tx)).alias("s_pt"),
        F.sum(q * tx).alias("s_qt"),
    )
    cols = {
        "nd": "n",
        "q": "s_q",
        "p": "s_p",
        "dd": "s_d",
        "t": "s_t",
        "qq": "s_qq",
        "pp": "s_pp",
        "ddd": "s_dd",
        "tt": "s_tt",
        "dp": "s_dp",
        "dq": "s_dq",
        "dt": "s_dt",
        "pq": "s_pq",
        "pt": "s_pt",
        "qt": "s_qt",
    }
    d = s.select(
        "n", *[F.col(src).cast("double").alias(dst) for dst, src in cols.items()]
    )

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str):
        nd, xy = F.col("nd"), F.col(sxy)
        x, y = F.col(sx), F.col(sy)
        xx, yy = F.col(sxx), F.col(syy)
        return (nd * xy - x * y) / (
            F.sqrt(nd * xx - x * x) * F.sqrt(nd * yy - y * y)
        )

    d = d.select(
        "n",
        corr("dp", "dd", "p", "ddd", "pp").alias("c_dp"),
        corr("dq", "dd", "q", "ddd", "qq").alias("c_dq"),
        corr("dt", "dd", "t", "ddd", "tt").alias("c_dt"),
        corr("pq", "p", "q", "pp", "qq").alias("c_pq"),
        corr("pt", "p", "t", "pp", "tt").alias("c_pt"),
        corr("qt", "q", "t", "qq", "tt").alias("c_qt"),
    )
    return d.selectExpr(
        "stack(6, "
        "'discount', 'price', c_dp, "
        "'discount', 'quantity', c_dq, "
        "'discount', 'tax', c_dt, "
        "'price', 'quantity', c_pq, "
        "'price', 'tax', c_pt, "
        "'quantity', 'tax', c_qt) AS (var_x, var_y, corr_raw)",
        "n",
    ).select(
        "var_x", "var_y", "n", F.round("corr_raw", 6).alias("corr")
    ).orderBy("var_x", "var_y")


def _lang_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-length (n_chars) en/de counts — the value-histogram collapse
    shared by the KS and PSI drift entries (one definition so the two
    metrics can never silently diverge on the sample construction).

    Downstream unpartitioned windows over this frame are scale-safe:
    its cardinality is |distinct n_chars| (bounded by the length domain,
    a few thousand rows at ANY corpus size), never the document stream.
    """
    d = table(spark, sf_dir, "documents").where(
        F.col("lang").isin("en", "de")
    )
    return d.groupBy("n_chars").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("c2"),
    )


# ------------------------------------------------------------ KS test


@register(
    "stats_ks_two_sample",
    "Exact two-sample Kolmogorov-Smirnov test on document length "
    "(lang en vs de) — the distribution-drift check behind 'did this "
    "source's length profile shift'. ENTIRELY integer until the final "
    "division: per-value counts collapse the corpus first, cumulative "
    "counts are integer window sums over the distinct-value frame, and "
    "the KS statistic maximizes |cum1*n2 - cum2*n1| (an integer!) "
    "before one division by n1*n2 — so the argmax is exact, no FP "
    "comparison anywhere. The asymptotic p-value is one fixed-order "
    "double expression. 100 TB: the value-histogram pre-agg does the "
    "collapse (|distinct lengths| rows); the single-partition "
    "cumulative window only ever sees that tiny frame.",
    oracle="""
      WITH pv AS (
        SELECT n_chars,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c2
        FROM documents WHERE lang IN ('en', 'de')
        GROUP BY n_chars
      ),
      c AS (
        SELECT n_chars,
               sum(c1) OVER (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 ::BIGINT AS cum1,
               sum(c2) OVER (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 ::BIGINT AS cum2,
               sum(c1) OVER ()::BIGINT AS n1,
               sum(c2) OVER ()::BIGINT AS n2
        FROM pv
      ),
      d AS (
        SELECT n_chars, n1, n2,
               abs(cum1 * n2 - cum2 * n1) AS diffn
        FROM c
      )
      SELECT n1 AS n_en, n2 AS n_de, n_chars AS at_value,
             round(diffn::DOUBLE / (n1::DOUBLE * n2), 6) AS ks_d,
             round(2 * exp(-2.0 * (n1::DOUBLE * n2 / (n1 + n2))
                           * (diffn::DOUBLE / (n1::DOUBLE * n2))
                           * (diffn::DOUBLE / (n1::DOUBLE * n2))), 6)
               AS p_approx
      FROM d
      WHERE n1 > 0 AND n2 > 0
      ORDER BY diffn DESC, n_chars
      LIMIT 1
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = _lang_length_hist(spark, sf_dir)
    wcum = (
        Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    c = pv.select(
        "n_chars",
        F.sum("c1").over(wcum).alias("cum1"),
        F.sum("c2").over(wcum).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    # degenerate-corpus guard (ADVICE r04): a regenerated corpus with
    # zero en or de docs would divide by 0 (Spark NULL vs DuckDB inf —
    # a parity break, not a graceful degrade); both sides filter the
    # empty-sample case identically and return 0 rows instead
    c = c.where((F.col("n1") > 0) & (F.col("n2") > 0))
    diffn = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    n1d = F.col("n1").cast("double")
    dd = F.col("diffn").cast("double") / (n1d * F.col("n2"))
    out = c.select(
        "n_chars", "n1", "n2", diffn.alias("diffn")
    ).select(
        F.col("n1").alias("n_en"),
        F.col("n2").alias("n_de"),
        F.col("n_chars").alias("at_value"),
        F.round(dd, 6).alias("ks_d"),
        F.round(
            2
            * F.exp(
                -2.0 * (n1d * F.col("n2") / (F.col("n1") + F.col("n2")))
                * dd
                * dd
            ),
            6,
        ).alias("p_approx"),
        F.col("diffn"),
    )
    return (
        out.orderBy(F.col("diffn").desc(), "at_value")
        .limit(1)
        .drop("diffn")
    )


# ---------------------------------------------------------------- PSI


@register(
    "stats_psi_drift",
    "Population stability index between en and de document-length "
    "distributions over EXACT en-decile bins — the standard ML-ops "
    "drift gate (PSI > 0.2 = investigate). Decile edges are derived "
    "with pure integer arithmetic (edge_k = min value whose cumulative "
    "en count satisfies 10*cum >= k*n1 — no engine percentile "
    "function, so both engines agree exactly); missing bins are "
    "densified so the 0.5-count smoothing applies uniformly; and the "
    "PSI sum folds the 10 per-bin terms in bin order (left-to-right, "
    "matching DuckDB list_reduce). 100 TB: ONE distributed job — the "
    "value histogram collapses the corpus; edges/bins/fold are a "
    "bounded driver contraction over the collected histogram "
    "(|distinct n_chars| rows).",
    oracle="""
      WITH pv AS (
        SELECT n_chars,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c2
        FROM documents WHERE lang IN ('en', 'de')
        GROUP BY n_chars
      ),
      c AS (
        SELECT n_chars, c1, c2,
               sum(c1) OVER (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 ::BIGINT AS cum1,
               sum(c1) OVER ()::BIGINT AS n1,
               sum(c2) OVER ()::BIGINT AS n2
        FROM pv
      ),
      e AS (
        SELECT k, min(CASE WHEN 10 * cum1 >= k * n1 THEN n_chars END)
                 AS edge
        FROM c, unnest(range(1, 10)) AS t(k)
        GROUP BY k
      ),
      ea AS (SELECT list(edge ORDER BY k) AS earr FROM e),
      binned AS (
        SELECT len(list_filter(ea.earr, x -> x <= c.n_chars)) AS bin,
               c.c1, c.c2, c.n1, c.n2
        FROM c, ea
      ),
      bybin AS (
        SELECT bin, sum(c1)::BIGINT AS b1, sum(c2)::BIGINT AS b2,
               min(n1) AS n1, min(n2) AS n2
        FROM binned GROUP BY bin
      ),
      dense AS (
        SELECT g.bin, coalesce(b.b1, 0) AS b1, coalesce(b.b2, 0) AS b2,
               t.n1, t.n2
        FROM (SELECT unnest(range(0, 10)) AS bin) g
        LEFT JOIN bybin b USING (bin)
        CROSS JOIN (SELECT min(n1) AS n1, min(n2) AS n2 FROM bybin) t
      ),
      terms AS (
        SELECT bin,
               ((b1 + 0.5) / (n1::DOUBLE + 5.0)
                - (b2 + 0.5) / (n2::DOUBLE + 5.0))
               * ln(((b1 + 0.5) / (n1::DOUBLE + 5.0))
                    / ((b2 + 0.5) / (n2::DOUBLE + 5.0))) AS term,
               n1, n2
        FROM dense
      )
      SELECT min(n1) AS n_en, min(n2) AS n_de,
             count(*) AS n_bins,
             round(list_reduce(list(term ORDER BY bin),
                               (a, b) -> a + b), 6) AS psi
      FROM terms
      HAVING min(n1) > 0 AND min(n2) > 0
    """,
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    # ONE distributed job — the corpus-collapsing histogram (this is
    # the entry's own 100 TB story: everything downstream is
    # length-domain-bounded). The previous all-in-plan form built the
    # same histogram THREE times (once per derived-frame broadcast:
    # edges, bybin, tot) and its r06->r08 bench wall crept 0.49 -> 1.17 s
    # on regenerated data; decile edges, bin assignment, and the
    # 10-term fold are a bounded driver contraction over the collected
    # histogram (|distinct n_chars| rows — the PCA/MMR/keyset-cursor
    # precedent), 1 scan instead of 3 (1.17 -> ~0.45 s at sf0.1).
    # Every arithmetic step mirrors the oracle exactly: integer cumsum
    # thresholds, (b + 0.5)/(n + 5.0) smoothing, ln-ratio terms summed
    # LEFT-TO-RIGHT in bin order, HALF-UP rounding (Python's round()
    # is banker's — not used).
    rows = sorted(
        _lang_length_hist(spark, sf_dir).collect(),
        key=lambda r: r["n_chars"],
    )
    schema = "n_en bigint, n_de bigint, n_bins bigint, psi double"
    n1 = sum(r["c1"] for r in rows)
    n2 = sum(r["c2"] for r in rows)
    if n1 == 0 or n2 == 0:
        # degenerate-corpus guard (ADVICE r04): if either lang has zero
        # docs, drop the meaningless PSI row identically on both sides
        # (oracle HAVING) instead of risking NULL-vs-inf divergence
        return spark.createDataFrame([], schema)
    edges: list[int | None] = [None] * 9
    cum = 0
    for r in rows:
        cum += r["c1"]
        for k in range(1, 10):
            if edges[k - 1] is None and 10 * cum >= k * n1:
                edges[k - 1] = r["n_chars"]
    b1 = [0] * 10
    b2 = [0] * 10
    for r in rows:
        b = sum(1 for e in edges if e is not None and e <= r["n_chars"])
        b1[b] += r["c1"]
        b2[b] += r["c2"]
    psi = 0.0
    for b in range(10):
        p1 = (b1[b] + 0.5) / (float(n1) + 5.0)
        p2 = (b2[b] + 0.5) / (float(n2) + 5.0)
        psi += (p1 - p2) * math.log(p1 / p2)
    # HALF-UP to 6 dp (psi >= 0 by Gibbs' inequality term-wise)
    psi = math.floor(psi * 1e6 + 0.5) / 1e6
    return spark.createDataFrame([(n1, n2, 10, psi)], schema)


# -------------------------------------------------------------- benford


@register(
    "audit_benford_first_digit",
    "Benford's-law first-digit audit of order totals — the classic "
    "fabricated-data / corrupted-feed detector: leading-digit "
    "frequencies vs the log10(1 + 1/d) expectation, with per-digit "
    "deviations. Counts are exact integers; observed shares and the "
    "expectation are single fixed-order double expressions per row "
    "(no cross-row FP accumulation anywhere). 100 TB: one map-side-"
    "combined count agg over a 9-value key — the cheapest possible "
    "full-table audit shape.",
    oracle="""
      WITH d AS (
        SELECT substr(floor(o_totalprice)::BIGINT::VARCHAR, 1, 1)::INT
                 AS digit
        FROM orders WHERE o_totalprice >= 1
      ),
      c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
      t AS (SELECT sum(n)::BIGINT AS total FROM c)
      SELECT c.digit, c.n,
             round(c.n::DOUBLE / t.total, 6) AS observed_p,
             round(log10(1.0 + 1.0 / c.digit), 6) AS expected_p,
             round(c.n::DOUBLE / t.total
                   - log10(1.0 + 1.0 / c.digit), 6) AS deviation
      FROM c, t
      ORDER BY c.digit
    """,
)
def audit_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    # unpartitioned window OK: the frame is the 9-row first-digit
    # histogram (digits 1-9), collapsed before the window at any scale
    c = c.withColumn("total", F.sum("n").over(Window.partitionBy()))
    obs = F.col("n").cast("double") / F.col("total")
    exp_p = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_p"),
        F.round(exp_p, 6).alias("expected_p"),
        F.round(obs - exp_p, 6).alias("deviation"),
    ).orderBy("digit")


# --------------------------------------------------------- Mann-Whitney


@register(
    "stats_mann_whitney_u",
    "Mann-Whitney U rank-sum test on document length (en vs de) with "
    "EXACT tie handling: midranks over the value histogram stay "
    "integer by carrying 2*midrank = 2*prev + ties + 1, so the doubled "
    "rank sum and doubled U statistic are exact BIGINTs; the normal "
    "approximation (with the full tie-correction term, itself an exact "
    "integer sum of t^3 - t) is one fixed-order double expression. "
    "Completes the drift-test family: KS sees shape, PSI sees binned "
    "mass, U sees stochastic dominance. 100 TB: identical shape to the "
    "KS entry — value-histogram collapse, then constant-size windows.",
    oracle="""
      WITH pv AS (
        SELECT n_chars,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c2
        FROM documents WHERE lang IN ('en', 'de')
        GROUP BY n_chars
      ),
      c AS (
        SELECT n_chars, c1, c2, c1 + c2 AS cv,
               sum(c1 + c2) OVER (ORDER BY n_chars
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 ::BIGINT AS cum,
               sum(c1) OVER ()::BIGINT AS n1,
               sum(c2) OVER ()::BIGINT AS n2
        FROM pv
      ),
      s AS (
        SELECT min(n1) AS n1, min(n2) AS n2,
               sum(c1 * (2 * (cum - cv) + cv + 1))::BIGINT AS r2x,
               sum(cv * cv * cv - cv)::BIGINT AS tie_t
        FROM c
      )
      SELECT n1 AS n_en, n2 AS n_de,
             r2x - n1 * (n1 + 1) AS u2x,
             (r2x - n1 * (n1 + 1)) / 2.0 AS u_stat,
             round(((r2x - n1 * (n1 + 1)) - n1::DOUBLE * n2)
                   / (2 * sqrt((n1::DOUBLE * n2 / 12)
                       * ((n1 + n2 + 1)
                          - tie_t::DOUBLE / ((n1 + n2)
                                             * (n1 + n2 - 1))))),
                   4) AS z_score
      FROM s
      WHERE n1 > 0 AND n2 > 0
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    pv = _lang_length_hist(spark, sf_dir)
    wcum = (
        Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    cv = F.col("c1") + F.col("c2")
    c = pv.select(
        "n_chars",
        "c1",
        "c2",
        cv.alias("cv"),
        F.sum(cv).over(wcum).alias("cum"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    s = c.agg(
        F.min("n1").alias("n1"),
        F.min("n2").alias("n2"),
        F.sum(
            F.col("c1")
            * (2 * (F.col("cum") - F.col("cv")) + F.col("cv") + 1)
        ).alias("r2x"),
        F.sum(
            F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv")
        ).alias("tie_t"),
    )
    n1d = F.col("n1").cast("double")
    u2x = F.col("r2x") - F.col("n1") * (F.col("n1") + 1)
    n = F.col("n1") + F.col("n2")
    sigma2 = (n1d * F.col("n2") / 12) * (
        (n + 1) - F.col("tie_t").cast("double") / (n * (n - 1))
    )
    return s.select(
        F.col("n1").alias("n_en"),
        F.col("n2").alias("n_de"),
        u2x.alias("u2x"),
        (u2x / 2.0).alias("u_stat"),
        F.round(
            (u2x - n1d * F.col("n2")) / (2 * F.sqrt(sigma2)), 4
        ).alias("z_score"),
    ).where(
        # degenerate-corpus guard (ADVICE r04): zero en or de docs makes
        # sigma 0 (divide-by-zero, NULL-vs-inf across engines) — both
        # sides drop the row identically (oracle WHERE n1>0 AND n2>0)
        (F.col("n_en") > 0) & (F.col("n_de") > 0)
    )


# ----------------------------------------------------------------- Gini


@register(
    "agg_gini_concentration",
    "Gini concentration coefficient of order revenue per order "
    "priority — the inequality/concentration audit ('do 20% of orders "
    "carry 80% of revenue, and does it differ by priority band'). "
    "Computed from the exact rank formula G = 2*Sigma(i*x) / "
    "(n*Sigma x) - (n+1)/n with integer-cent values, row_number ranks "
    "(tie-broken by orderkey; permuting equal values leaves "
    "Sigma i*x unchanged, so the statistic is order-independent), and "
    "decimal(38,0)/HUGEINT for the rank-weighted sum. The per-priority "
    "rank window caps parallelism at |priorities| — at 100 TB this "
    "entry uses the same histogram-refine decomposition the weighted-"
    "percentile entry demonstrates (i = bin prior + within-bin rank). "
    "One double expression at the end, rounded 6dp.",
    oracle="""
      WITH r AS (
        SELECT o_orderpriority,
               round(o_totalprice * 100)::BIGINT AS pc,
               row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY round(o_totalprice * 100)::BIGINT, o_orderkey)
                 AS i
        FROM orders
      ),
      s AS (
        SELECT o_orderpriority,
               count(*) AS n,
               sum(pc) AS sx,
               sum(i::HUGEINT * pc) AS six
        FROM r GROUP BY 1
      )
      SELECT o_orderpriority, n,
             round(sx / 100.0, 2) AS total_revenue,
             round(2.0 * (six::DOUBLE / (n::DOUBLE * sx::DOUBLE))
                   - (n + 1)::DOUBLE / n, 6) AS gini
      FROM s
      ORDER BY o_orderpriority
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    pc = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_orderpriority").orderBy("pc", "o_orderkey")
    r = o.select(
        "o_orderpriority", pc.alias("pc"), "o_orderkey"
    ).withColumn("i", F.row_number().over(w))
    s = r.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pc").alias("sx"),
        F.sum(
            (F.col("i").cast("decimal(38,0)") * F.col("pc")).cast(
                "decimal(38,0)"
            )
        ).alias("six"),
    )
    nd = F.col("n").cast("double")
    gini = (
        2.0 * (F.col("six").cast("double") / (nd * F.col("sx").cast("double")))
        - (F.col("n") + 1).cast("double") / F.col("n")
    )
    return s.select(
        "o_orderpriority",
        "n",
        F.round(F.col("sx") / 100.0, 2).alias("total_revenue"),
        F.round(gini, 6).alias("gini"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------- Welch's t-test


@register(
    "stats_welch_ttest",
    "Welch's unequal-variance t-test on document length (en vs de) — "
    "the A/B-comparison staple: per-group count/mean/sample-variance "
    "from ONE map-side-combined aggregation over integer n_chars "
    "(exact sums of x and x², variance assembled in double once per "
    "group), then the t statistic and Welch-Satterthwaite degrees of "
    "freedom computed row-locally on the 1x2 result. Degenerate "
    "groups (n < 2) are filtered identically on both engines (the "
    "ADVICE r04 guard discipline). 100 TB: the agg is the only "
    "distributed work; everything after is constant-size.",
    oracle="""
      WITH g AS (
        SELECT lang,
               count(*)::BIGINT AS n,
               sum(n_chars)::BIGINT AS s,
               sum(n_chars::BIGINT * n_chars)::BIGINT AS ss
        FROM documents WHERE lang IN ('en', 'de') GROUP BY lang
      ),
      m AS (
        SELECT lang, n, s::DOUBLE / n AS mean,
               (ss - s::DOUBLE * s / n) / (n - 1) AS var
        FROM g WHERE n >= 2
      )
      SELECT a.n AS n_en, b.n AS n_de,
             round(a.mean, 6) AS mean_en, round(b.mean, 6) AS mean_de,
             round((a.mean - b.mean)
                   / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat,
             round(pow(a.var / a.n + b.var / b.n, 2)
                   / (pow(a.var / a.n, 2) / (a.n - 1)
                      + pow(b.var / b.n, 2) / (b.n - 1)), 6) AS df_welch
      FROM m a, m b WHERE a.lang = 'en' AND b.lang = 'de'
    """,
)
def stats_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.col("lang").isin("en", "de"))
    x = F.col("n_chars").cast("bigint")
    g = (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("s"),
            F.sum(x * x).alias("ss"),
        )
        .where(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    m = g.select(
        "lang",
        "n",
        (F.col("s").cast("double") / nd).alias("mean"),
        (
            (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nd)
            / (nd - 1)
        ).alias("var"),
    )
    a = m.where(F.col("lang") == "en").select(
        F.col("n").alias("n_en"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = m.where(F.col("lang") == "de").select(
        F.col("n").alias("n_de"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    na = F.col("n_en").cast("double")
    nb = F.col("n_de").cast("double")
    se2a = F.col("var_a") / na
    se2b = F.col("var_b") / nb
    return a.crossJoin(b).select(
        "n_en",
        "n_de",
        F.round("mean_a", 6).alias("mean_en"),
        F.round("mean_b", 6).alias("mean_de"),
        F.round(
            (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2a + se2b), 6
        ).alias("t_stat"),
        F.round(
            F.pow(se2a + se2b, 2)
            / (F.pow(se2a, 2) / (na - 1) + F.pow(se2b, 2) / (nb - 1)),
            6,
        ).alias("df_welch"),
    )


# ----------------------------------------------- Theil–Sen estimator


@register(
    "stats_theil_sen_slope",
    "Theil–Sen robust trend estimator over the hourly event-count "
    "series: the median of all pairwise slopes (c_j - c_i)/(h_j - h_i) "
    "— insensitive to the outlier hours that wreck OLS. The pair "
    "expansion runs on the PRE-COLLAPSED hourly frame (bounded by the "
    "time domain: 720 hours -> 259k pairs; a year -> 38M, still one "
    "task's work after the real aggregation over raw events), each "
    "slope is a single double division (identical in both engines), "
    "and the median interpolates the same sorted multiset. 100 TB: "
    "one event-level agg, then constant-bounded pair math.",
    oracle=f"""
      WITH h AS (
        SELECT epoch_us(ts) // {HOUR_US} AS hi, count(*)::BIGINT AS c
        FROM events GROUP BY 1
      ),
      s AS (
        SELECT (b.c - a.c)::DOUBLE / (b.hi - a.hi) AS slope
        FROM h a JOIN h b ON b.hi > a.hi
      )
      SELECT count(*)::BIGINT AS n_pairs,
             round(median(slope), 6) AS theil_sen_slope,
             round(min(slope), 6) AS min_slope,
             round(max(slope), 6) AS max_slope
      FROM s
    """,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    h = e.groupBy(
        F.expr(f"unix_micros(ts) div {HOUR_US}").alias("hi")
    ).agg(F.count(F.lit(1)).alias("c"))
    a = h.select(F.col("hi").alias("a_hi"), F.col("c").alias("a_c"))
    b = h.select(F.col("hi").alias("b_hi"), F.col("c").alias("b_c"))
    s = a.join(b, F.col("b_hi") > F.col("a_hi")).select(
        (
            (F.col("b_c") - F.col("a_c")).cast("double")
            / (F.col("b_hi") - F.col("a_hi"))
        ).alias("slope")
    )
    return s.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
            "theil_sen_slope"
        ),
        F.round(F.min("slope"), 6).alias("min_slope"),
        F.round(F.max("slope"), 6).alias("max_slope"),
    )


# ------------------------------------------- association rules


@register(
    "market_basket_association_rules",
    "A-Priori association rules over order baskets — support, "
    "confidence (both directions), and lift for every part pair "
    "co-occurring in >= 3 orders: pair counts come from a SHUFFLE_HASH "
    "self-join of the distinct (order, part) stream on orderkey (one "
    "reused exchange; fanout bounded by basket size squared — the r08 "
    "floor capture retired the earlier HOF basket expansion, whose "
    "interpreted lambdas and extra collect_list exchange cost 1.5x), "
    "per-item order counts BROADCAST onto the pair frame twice (item "
    "marginals are dimension-sized), and the ratios assemble from "
    "exact integers with one rounded division each. 100 TB: the "
    "item-stream shuffle on orderkey is the only fact-scale exchange; "
    "candidate pairs above min-support are sparse by construction.",
    oracle="""
      WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ),
      n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders
            FROM items),
      cnt AS (
        SELECT l_partkey, count(*)::BIGINT AS c FROM items GROUP BY 1
      ),
      p AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*)::BIGINT AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 3
      )
      SELECT p.part_a, p.part_b, p.n_ab,
             ca.c AS n_a, cb.c AS n_b,
             round(p.n_ab::DOUBLE / n.n_orders, 6) AS support,
             round(p.n_ab::DOUBLE / ca.c, 6) AS conf_a_to_b,
             round(p.n_ab::DOUBLE / cb.c, 6) AS conf_b_to_a,
             round(p.n_ab::DOUBLE * n.n_orders / (ca.c * cb.c), 6)
               AS lift
      FROM p JOIN cnt ca ON ca.l_partkey = p.part_a
             JOIN cnt cb ON cb.l_partkey = p.part_b
             CROSS JOIN n
      ORDER BY lift DESC, part_a, part_b
      LIMIT 25
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    # pair stream via SHUFFLE_HASH self-join on orderkey (exchange
    # reused across the identical sides): the earlier collect_list +
    # SQL-lambda HOF expansion — 3× faster than a SORT-MERGE self-join
    # when measured in r04 — lost 1.5× to this hash join on the
    # regenerated corpus (r08 floor capture: 2.5 s -> 1.7 s at sf0.1,
    # identical output; the interpreted nested-transform lambdas and
    # the extra collect_list exchange were the cost). localCheckpoint
    # of items measured SLOWER (2.4 s — the butterfly-persist
    # counterexample: materialization breaks codegen fusion).
    ia = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    ib = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    ).hint("shuffle_hash")
    pairs = (
        ia.join(ib, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    n = items.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    ca = cnt.select(
        F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a")
    )
    cb = cnt.select(
        F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b")
    )
    nab = F.col("n_ab").cast("double")
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(nab / F.col("n_orders"), 6).alias("support"),
            F.round(nab / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(nab / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                nab * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(25)
    )


# ------------------------------------------------- key-skew audit


@register(
    "audit_key_skew_profile",
    "Join-key skew audit — the pre-flight check a 1000-executor join "
    "plan needs before choosing salt factors / AQE thresholds: for "
    "lineitem's three join keys (orderkey, partkey, suppkey) in one "
    "pass each, the profile reports distinct keys, max/mean per-key "
    "row counts, the skew factor (max*distinct/total, exact rational "
    "reported as a rounded double), and the share of rows owned by "
    "the single heaviest key (deterministic tie-break on key value). "
    "Two-level aggregation with map-side combine; the per-key frame "
    "collapses to one row per audited key column. 100 TB: this IS the "
    "query you run to decide the salting strategy — it must never "
    "itself be skew-fragile, and two-level agg isn't.",
    oracle="""
      WITH p AS (
        SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
        UNION ALL
        SELECT 'l_partkey', l_partkey FROM lineitem
        UNION ALL
        SELECT 'l_suppkey', l_suppkey FROM lineitem
      ),
      c AS (
        SELECT key_col, k, count(*)::BIGINT AS n
        FROM p GROUP BY key_col, k
      ),
      h AS (
        SELECT key_col, k AS heaviest_key
        FROM (SELECT key_col, k,
                     row_number() OVER (PARTITION BY key_col
                                        ORDER BY n DESC, k) AS rn
              FROM c) _r
        WHERE rn = 1
      )
      SELECT c.key_col,
             count(*)::BIGINT AS n_distinct,
             sum(n)::BIGINT AS n_rows,
             max(n)::BIGINT AS max_key_rows,
             round(max(n) * count(*)::DOUBLE / sum(n), 6) AS skew_factor,
             round(max(n)::DOUBLE / sum(n), 6) AS top_key_share,
             min(h.heaviest_key)::BIGINT AS heaviest_key
      FROM c JOIN h ON h.key_col = c.key_col
      GROUP BY c.key_col ORDER BY c.key_col
    """,
)
def audit_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = None
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        sel = li.select(
            F.lit(col).alias("key_col"), F.col(col).alias("k")
        )
        p = sel if p is None else p.unionAll(sel)
    c = p.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("n"))
    return (
        c.groupBy("key_col")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_key_rows"),
            F.round(
                F.max("n")
                * F.count(F.lit(1)).cast("double")
                / F.sum("n"),
                6,
            ).alias("skew_factor"),
            F.round(
                F.max("n").cast("double") / F.sum("n"), 6
            ).alias("top_key_share"),
            F.max_by("k", F.struct(F.col("n"), (-F.col("k"))))
            .cast("bigint")
            .alias("heaviest_key"),
        )
        .orderBy("key_col")
    )


def _md5_long(col):
    """First 8 md5 hex chars as a bigint — the hash_parity.py idiom
    (Spark conv(...,16,10) == DuckDB ('0x'||substr)::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


# ------------------------------------------------ Bloom filter twin

_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # hash functions
_BLOOM_PRICE = 350000.0  # member predicate: any order above this


@register(
    "sketch_bloom_md5_membership",
    "Bloom-filter membership with a measured false-positive audit — "
    "the data structure behind Spark's own runtime join filters "
    "(spark.sql.optimizer.runtime.bloomFilter) and every large-scale "
    "needs-a-prefilter join, made CROSS-ENGINE EXACT: the member set "
    "is the distinct custkeys with any order above a price threshold, "
    "each member sets k=3 bit positions md5(key:seed) % 4096, and "
    "every customer is probed against the filter (positive iff all 3 "
    "bits set). Output: probe/member/positive/false-positive counts, "
    "bits set, and the realized FP rate — which the run CHECKS "
    "against theory instead of assuming. 100 TB: the bit set is "
    "bounded by m=4096 positions regardless of member count, so it "
    "broadcasts (a join-prefilter that costs one map-side lookup); "
    "the probe side never shuffles. Cites reference repo.py's "
    "exact-membership lookups as the operation being accelerated.",
    oracle=f"""
      WITH members AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_totalprice > {_BLOOM_PRICE}
      ),
      seeds AS (SELECT unnest(range(0, {_BLOOM_K})) AS s),
      bits AS (
        SELECT DISTINCT
               ('0x' || substr(md5(o_custkey::VARCHAR || ':' || s::VARCHAR),
                               1, 8))::BIGINT % {_BLOOM_M} AS pos
        FROM members, seeds
      ),
      probe AS (
        SELECT c.c_custkey,
               sum(CASE WHEN ('0x' || substr(
                     md5(c.c_custkey::VARCHAR || ':' || s::VARCHAR),
                     1, 8))::BIGINT % {_BLOOM_M}
                     IN (SELECT pos FROM bits)
                   THEN 1 ELSE 0 END) AS hits,
               max(CASE WHEN c.c_custkey IN (SELECT o_custkey FROM members)
                   THEN 1 ELSE 0 END) AS is_member
        FROM customer c, seeds
        GROUP BY c.c_custkey
      )
      SELECT count(*) AS n_probes,
             sum(is_member)::BIGINT AS n_members,
             sum(CASE WHEN hits = {_BLOOM_K} THEN 1 ELSE 0 END)::BIGINT
               AS n_bloom_pos,
             sum(CASE WHEN hits = {_BLOOM_K} AND is_member = 0
                 THEN 1 ELSE 0 END)::BIGINT AS n_false_pos,
             (SELECT count(*) FROM bits)::BIGINT AS n_bits_set,
             round(sum(CASE WHEN hits = {_BLOOM_K} AND is_member = 0
                       THEN 1 ELSE 0 END)::DOUBLE
                   / count(*), 6) AS fp_rate
      FROM probe
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    members = (
        o.where(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
        # one orders scan, not two: the frame is read by BOTH the
        # build-time bit-position collect and the truth-audit
        # broadcast — separate jobs, no cross-job subtree reuse (the
        # BM25/kn3 lesson; caught by the r10 ratio triage)
        .localCheckpoint(eager=False)
    )
    def pos(key, s):
        return (
            _md5_long(F.concat_ws(":", key.cast("string"), F.lit(str(s))))
            % _BLOOM_M
        )

    # build: the filter collapses to <= m distinct bit positions at ANY
    # member cardinality — that is the point of the sketch. It resolves
    # driver-side (build-time parameter pattern, bounded at 4096 ints)
    # into a literal bitmask, so the PROBE below is pure map-side
    # column arithmetic with no join at all — the exact shape of
    # Spark's own runtime bloom-filter pushdown.
    bit_rows = (
        members.select(
            F.explode(
                F.array(*[pos(F.col("key"), s) for s in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    n_bits_set = len(bit_rows)
    mask = ["0"] * _BLOOM_M
    for r in bit_rows:
        mask[r["pos"]] = "1"
    mask_str = "".join(mask)

    hit_cols = [
        (
            F.expr(f"substring(_mask, cast(p{s} as int) + 1, 1)") == "1"
        ).cast("int")
        for s in range(_BLOOM_K)
    ]
    probed = (
        c.select(F.col("c_custkey").alias("key"))
        .withColumn("_mask", F.lit(mask_str))
        .select(
            "key",
            "_mask",
            *[pos(F.col("key"), s).alias(f"p{s}") for s in range(_BLOOM_K)],
        )
        .select("key", sum(hit_cols[1:], hit_cols[0]).alias("hits"))
    )
    # the exact-membership audit join is the expensive path the bloom
    # filter exists to avoid — it is here only to MEASURE the fp rate
    truth = probed.join(
        F.broadcast(members.withColumn("is_m", F.lit(1))), "key", "left"
    ).select(
        "hits", F.coalesce(F.col("is_m"), F.lit(0)).alias("is_member")
    )
    return truth.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum((F.col("hits") == _BLOOM_K).cast("int"))
        .cast("long")
        .alias("n_bloom_pos"),
        F.sum(
            ((F.col("hits") == _BLOOM_K) & (F.col("is_member") == 0))
            .cast("int")
        )
        .cast("long")
        .alias("n_false_pos"),
    ).select(
        "n_probes",
        "n_members",
        "n_bloom_pos",
        "n_false_pos",
        F.lit(n_bits_set).cast("long").alias("n_bits_set"),
        F.round(
            F.col("n_false_pos").cast("double") / F.col("n_probes"), 6
        ).alias("fp_rate"),
    )


# -------------------------------------------- Poisson bootstrap CI

_BOOT_B = 32
# Poisson(1) CDF * 1e6, as integer thresholds: P(W <= j). A uniform
# md5 draw in [0, 1e6) inverted through this table gives each row an
# i.i.d.-across-(doc, b) pseudo-Poisson(1) resample weight — the
# Google "Poisson bootstrap" trick that replaces sample-with-
# replacement (which needs global coordination) with a per-row local
# draw, making the bootstrap embarrassingly parallel.
_POIS_CDF = [367879, 735759, 919699, 981012, 996340, 999406, 999917]


def _pois_weight_spark(u):
    w = F.lit(len(_POIS_CDF))
    for j in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[j], F.lit(j)).otherwise(w)
    return w


def _pois_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {j}" for j, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE {len(_POIS_CDF)} END"


@register(
    "stats_poisson_bootstrap_ci",
    "Bootstrap resampling that actually works at 100 TB: classic "
    "bootstrap draws n samples WITH replacement per replicate — a "
    "global shuffle per replicate. The POISSON BOOTSTRAP (Chamandy "
    "et al., Google) replaces it with a per-row local draw: each "
    "(doc, replicate) pair gets an independent Poisson(1) weight, "
    "and the weighted mean per replicate converges to the same "
    "bootstrap distribution. Here the uniform draw is md5(doc:b) "
    "mod 1e6 inverted through the integer Poisson CDF table, so both "
    "engines produce IDENTICAL resamples — the statistic (mean doc "
    "length, B=32 replicates) is exact-integer sums divided once at "
    "the end. Output: one row per replicate with its effective n and "
    "mean. 100 TB: explode x32 then groupBy(b) is map-side "
    "combinable — the shuffle carries 32 partial sums per partition, "
    "not rows.",
    oracle=f"""
      WITH draws AS (
        SELECT b,
               {_pois_weight_sql(
                   "('0x' || substr(md5(doc_id::VARCHAR || ':' || "
                   "b::VARCHAR), 1, 8))::BIGINT % 1000000"
               )} AS w,
               n_chars
        FROM documents, (SELECT unnest(range(0, {_BOOT_B})) AS b)
      )
      SELECT b AS resample,
             sum(w)::BIGINT AS n_eff,
             round(sum(w * n_chars)::DOUBLE / sum(w), 6) AS mean_len
      FROM draws
      GROUP BY b
      ORDER BY b
    """,
)
def stats_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = (
        _md5_long(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.col("b").cast("string"),
            )
        )
        % 1000000
    )
    draws = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select("b", _pois_weight_spark(u).alias("w"), "n_chars")
    return (
        draws.groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.round(
                F.sum(F.col("w") * F.col("n_chars")).cast("double")
                / F.sum("w"),
                6,
            ).alias("mean_len"),
        )
        .select(F.col("b").alias("resample"), "n_eff", "mean_len")
        .orderBy("resample")
    )


# ------------------------------------ partitioned gaps-and-islands

_GAP_BUCKET = 1024
_GAP_TOPK = 10


@register(
    "audit_sequence_gaps",
    "Gaps in a sparse key sequence (free-ID ranges / missing-record "
    "audit) — the classic gaps-and-islands query, but PARTITIONED so "
    "it scales: the textbook lag-over-global-order needs one total "
    "sort; here keys bucket by key div 1024, within-bucket gaps come "
    "from a lag window PARTITIONED by bucket (parallel), and cross-"
    "bucket gaps from a per-bucket min/max aggregate whose frame is "
    "bounded by |buckets| — together these enumerate exactly the "
    "consecutive pairs of the global order. Key set: orderkeys of "
    "finished ('F') orders, a sparse subset of the dense key space. "
    "The oracle is the textbook single-window global formulation — "
    "two strategies, one answer. Output: the 10 widest gaps. 100 TB: "
    "no global sort; the only single-partition frame is the "
    "|buckets|-row boundary pass.",
    oracle=f"""
      WITH ks AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderstatus = 'F'
      ),
      lagged AS (
        SELECT k, lag(k) OVER (ORDER BY k) AS pk FROM ks
      )
      SELECT (pk + 1)::BIGINT AS gap_start,
             (k - 1)::BIGINT AS gap_end,
             (k - pk - 1)::BIGINT AS gap_len
      FROM lagged
      WHERE pk IS NOT NULL AND k - pk > 1
      ORDER BY gap_len DESC, gap_start
      LIMIT {_GAP_TOPK}
    """,
)
def audit_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    ks = (
        o.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .withColumn("bkt", (F.col("k") / _GAP_BUCKET).cast("long"))
    )
    wb = Window.partitionBy("bkt").orderBy("k")
    within = (
        ks.select("k", F.lag("k").over(wb).alias("pk"))
        .where(F.col("pk").isNotNull() & (F.col("k") - F.col("pk") > 1))
        .select("k", "pk")
    )
    # boundary pass: one row per non-empty bucket — bounded at
    # |keyspace| / 1024 rows, so the single-partition lag is safe
    bounds = ks.groupBy("bkt").agg(
        F.min("k").alias("bmin"), F.max("k").alias("bmax")
    )
    across = (
        bounds.select(
            F.col("bmin").alias("k"),
            F.lag("bmax").over(Window.orderBy("bkt")).alias("pk"),
        )
        .where(F.col("pk").isNotNull() & (F.col("k") - F.col("pk") > 1))
    )
    return (
        within.unionByName(across)
        .select(
            (F.col("pk") + 1).cast("long").alias("gap_start"),
            (F.col("k") - 1).cast("long").alias("gap_end"),
            (F.col("k") - F.col("pk") - 1).cast("long").alias("gap_len"),
        )
        .orderBy(F.col("gap_len").desc(), "gap_start")
        .limit(_GAP_TOPK)
    )


# ------------------------------------- quantile normalization


@register(
    "quantile_normalize_by_source",
    "Quantile normalization — map every document's length onto the "
    "GLOBAL length distribution by rank (the microarray/feature-"
    "preprocessing standard: after it, every source has an identical "
    "marginal distribution): within-source rank r of n_s maps to "
    "global rank r*(N-1) div (n_s-1) (exact integer arithmetic, "
    "doc_id tie-breaks), and the normalized value is the global "
    "order statistic at that rank, fetched by an equi join on rank. "
    "Means are exact integer sums divided once. Output: per source, "
    "the raw vs normalized mean (normalized means converge across "
    "sources — that is the point). 100 TB: the within-source windows "
    "partition by source; the global order statistics frame is the "
    "one total sort — at real scale swap it for approx quantiles "
    "over a sample (same join shape), as profile_dataset_columns "
    "does for its sketches.",
    oracle="""
      WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) - 1 AS r,
               count(*) OVER (PARTITION BY source) AS ns
        FROM documents
      ),
      gstat AS (
        SELECT n_chars AS gv,
               row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS gr
        FROM documents
      ),
      tot AS (SELECT count(*) AS n FROM documents),
      mapped AS (
        SELECT source, n_chars,
               CASE WHEN ns = 1 THEN (n - 1) // 2
                    ELSE (r * (n - 1)) // (ns - 1) END AS mr
        FROM ranked, tot
      )
      SELECT m.source,
             count(*) AS n_docs,
             round(sum(m.n_chars)::DOUBLE / count(*), 6) AS mean_raw,
             round(sum(g.gv)::DOUBLE / count(*), 6) AS mean_normalized
      FROM mapped m JOIN gstat g ON m.mr = g.gr
      GROUP BY m.source
      ORDER BY m.source
    """,
)
def quantile_normalize_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "doc_id",
        "source",
        "n_chars",
        (F.row_number().over(ws) - 1).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("ns"),
    )
    # exact distributed global rank (operators/rank.py): |docs| grows
    # with data — the former unpartitioned row_number was the
    # single-partition funnel class
    from scout_spark.operators.rank import global_row_number

    glob = global_row_number(
        d.select(F.col("n_chars").alias("gv"), "doc_id"),
        ["gv", "doc_id"],
        out="gr1",
    ).select("gv", (F.col("gr1") - 1).alias("gr"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    mapped = ranked.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "n_chars",
        "CASE WHEN ns = 1 THEN (n - 1) div 2"
        " ELSE (r * (n - 1)) div (ns - 1) END AS mr",
    )
    return (
        mapped.join(glob, mapped.mr == glob.gr)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6)
            .alias("mean_raw"),
            F.round(F.sum("gv").cast("double") / F.count(F.lit(1)), 6)
            .alias("mean_normalized"),
        )
        .orderBy("source")
    )


# ----------------------------------- KMV distinct-count sketch

_KMV_K = 256
_KMV_SPACE = float(1 << 60)  # h is a 60-bit uniform md5 prefix


@register(
    "sketch_kmv_distinct",
    "K-minimum-values distinct-count sketch (Bar-Yossef et al.; the "
    "ancestor of theta sketches) made CROSS-ENGINE EXACT — unlike "
    "approx_count_distinct's HLL (rows-only by design), KMV on a "
    "deterministic md5 hash is reproducible anywhere: hash every "
    "distinct active customer key into a 60-bit uniform value, keep "
    "the k=256 smallest (a TakeOrdered top-k, no global shuffle), and "
    "estimate D = (k-1) * 2^60 / h_(k). The entry AUDITS itself: "
    "output carries the exact distinct count and the realized "
    "relative error next to the estimate. 100 TB: the sketch is k "
    "values regardless of cardinality — mergeable across partitions "
    "(each keeps its local k smallest; merge re-selects), the "
    "standard distributed-sketch contract.",
    oracle=f"""
      WITH keys AS (
        SELECT DISTINCT o_custkey FROM orders
      ),
      hashed AS (
        SELECT ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT
                 AS h
        FROM keys
      ),
      kmin AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM hashed ORDER BY h LIMIT {_KMV_K}
      ),
      kth AS (SELECT max(h) AS hk, count(*) AS k FROM kmin),
      truth AS (SELECT count(*) AS d FROM keys)
      SELECT k::BIGINT AS k,
             hk AS kth_hash,
             round(CASE WHEN k < {_KMV_K} THEN k::DOUBLE
                        ELSE ({_KMV_K} - 1) * {_KMV_SPACE} / hk END, 4)
               AS est_distinct,
             d::BIGINT AS true_distinct,
             round(abs(CASE WHEN k < {_KMV_K} THEN k::DOUBLE
                            ELSE ({_KMV_K} - 1) * {_KMV_SPACE} / hk END
                       - d) / d, 6) AS rel_error
      FROM kth, truth
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    keys = o.select("o_custkey").distinct()
    hashed = keys.select(
        F.conv(F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 15),
               16, 10)
        .cast("long")
        .alias("h")
    )
    # TakeOrderedAndProject: each partition keeps its local k smallest,
    # the driver merges — the mergeable-sketch contract, no shuffle
    kmin = hashed.orderBy("h").limit(_KMV_K)
    kth = kmin.agg(F.max("h").alias("hk"), F.count(F.lit(1)).alias("k"))
    truth = keys.agg(F.count(F.lit(1)).alias("d"))
    # a sketch holding fewer than k values has seen the WHOLE set —
    # the estimate degrades to the exact count (standard KMV rule)
    est = F.when(F.col("k") < _KMV_K, F.col("k").cast("double")).otherwise(
        (F.lit(_KMV_K - 1) * F.lit(_KMV_SPACE)) / F.col("hk")
    )
    return (
        kth.crossJoin(truth)
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("hk").alias("kth_hash"),
            F.round(est, 4).alias("est_distinct"),
            F.col("d").cast("long").alias("true_distinct"),
            F.round(F.abs(est - F.col("d")) / F.col("d"), 6).alias(
                "rel_error"
            ),
        )
    )


# ------------------------------ order-insensitive table fingerprint


def _fp_row_sql(cols: str) -> str:
    return f"('0x' || substr(md5({cols}), 1, 15))::BIGINT"


@register(
    "audit_table_fingerprint",
    "Order-insensitive table fingerprints — the replication/migration "
    "checksum (the datafold/data-diff primitive, and exactly what "
    "this repo's own oracle gate does per query): each row renders "
    "to a canonical '|'-joined string (keys, status, integer cents), "
    "hashes to a 60-bit md5 prefix, and the table collapses to "
    "(count, XOR of hashes, SUM of hashes mod 1e9+7) — commutative "
    "combiners, so the fingerprint is independent of row order AND "
    "partitioning, and any single-row difference flips both digests. "
    "Output: one row per audited table. 100 TB: map-side-combinable "
    "aggregates with constant-size state; the canonical-string render "
    "stays in whole-stage codegen.",
    oracle=f"""
      WITH o AS (
        SELECT count(*) AS n_rows,
               bit_xor(h) AS xor_fp,
               sum(h % 1000000007)::BIGINT AS sum_fp
        FROM (
          SELECT {_fp_row_sql(
            "o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' || "
            "o_orderstatus || '|' || round(o_totalprice * 100)::BIGINT"
            "::VARCHAR"
          )} AS h
          FROM orders) _r
      ),
      l AS (
        SELECT count(*) AS n_rows,
               bit_xor(h) AS xor_fp,
               sum(h % 1000000007)::BIGINT AS sum_fp
        FROM (
          SELECT {_fp_row_sql(
            "l_orderkey::VARCHAR || '|' || l_partkey::VARCHAR || '|' || "
            "round(l_quantity * 100)::BIGINT::VARCHAR || '|' || "
            "round(l_extendedprice * 100)::BIGINT::VARCHAR"
          )} AS h
          FROM lineitem) _r
      )
      SELECT 'orders' AS table_name, n_rows, xor_fp, sum_fp FROM o
      UNION ALL
      SELECT 'lineitem' AS table_name, n_rows, xor_fp, sum_fp FROM l
      ORDER BY table_name
    """,
)
def audit_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    def fp(df: DataFrame, canon: str, name: str) -> DataFrame:
        h = (
            F.conv(F.substring(F.md5(F.expr(canon)), 1, 15), 16, 10)
            .cast("long")
            .alias("h")
        )
        return (
            df.select(h)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(h)").alias("xor_fp"),
                F.sum(F.col("h") % F.lit(1000000007)).cast("long")
                .alias("sum_fp"),
            )
            .select(F.lit(name).alias("table_name"), "n_rows", "xor_fp",
                    "sum_fp")
        )

    o = fp(
        table(spark, sf_dir, "orders"),
        "concat_ws('|', cast(o_orderkey as string),"
        " cast(o_custkey as string), o_orderstatus,"
        " cast(cast(round(o_totalprice * 100) as bigint) as string))",
        "orders",
    )
    li = fp(
        table(spark, sf_dir, "lineitem"),
        "concat_ws('|', cast(l_orderkey as string),"
        " cast(l_partkey as string),"
        " cast(cast(round(l_quantity * 100) as bigint) as string),"
        " cast(cast(round(l_extendedprice * 100) as bigint) as string))",
        "lineitem",
    )
    return li.unionByName(o).orderBy("table_name")


# ------------------------------------------- winsorized mean

_WINS_LO = 5  # percent
_WINS_HI = 95


@register(
    "stats_winsorized_mean",
    "Winsorized mean — the robust-location estimator that CLAMPS "
    "instead of dropping (vs quality_outlier_mad's flagging and "
    "quality_length_percentile_filter's trimming): per event_type, "
    "the 5th/95th percentile thresholds are DISCRETE order "
    "statistics picked by exact integer rank arithmetic (rank "
    "ceil(p*n/100) over a (cents, event_id)-ordered window — no "
    "interpolated doubles, so both engines pick the identical "
    "threshold), every value clamps into [lo, hi], and the mean is "
    "one exact integer sum divided once. 100 TB: one sort per "
    "event_type partition shared by both threshold windows, then a "
    "map-side-combinable groupBy.",
    oracle=f"""
      WITH ranked AS (
        SELECT event_type,
               round(value * 100)::BIGINT AS cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY round(value * 100)::BIGINT,
                                           event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
      ),
      thr AS (
        SELECT event_type, n,
               max(CASE WHEN rn <= greatest(1, (n * {_WINS_LO} + 99) // 100)
                   THEN cents END) AS t_lo,
               max(CASE WHEN rn <= greatest(1, (n * {_WINS_HI} + 99) // 100)
                   THEN cents END) AS t_hi
        FROM ranked GROUP BY event_type, n
      )
      SELECT r.event_type,
             r.n AS n_events,
             round(t.t_lo::DOUBLE / 100, 2) AS p05,
             round(t.t_hi::DOUBLE / 100, 2) AS p95,
             round(sum(least(greatest(r.cents, t.t_lo), t.t_hi))::DOUBLE
                   / (100.0 * r.n), 6) AS winsorized_mean,
             round(sum(r.cents)::DOUBLE / (100.0 * r.n), 6) AS raw_mean
      FROM ranked r JOIN thr t ON r.event_type = t.event_type
      GROUP BY r.event_type, r.n, t.t_lo, t.t_hi
      ORDER BY r.event_type
    """,
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    wp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        cents.alias("cents"),
        F.row_number()
        .over(wp.orderBy(cents, F.col("event_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    thr = ranked.groupBy("event_type", "n").agg(
        F.max(
            F.when(
                F.col("rn")
                <= F.greatest(
                    F.lit(1),
                    F.expr(f"(n * {_WINS_LO} + 99) div 100"),
                ),
                F.col("cents"),
            )
        ).alias("t_lo"),
        F.max(
            F.when(
                F.col("rn")
                <= F.greatest(
                    F.lit(1),
                    F.expr(f"(n * {_WINS_HI} + 99) div 100"),
                ),
                F.col("cents"),
            )
        ).alias("t_hi"),
    )
    joined = ranked.join(
        F.broadcast(thr.drop("n")), "event_type"
    )
    return (
        joined.groupBy("event_type", "n", "t_lo", "t_hi")
        .agg(
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("t_lo")),
                        F.col("t_hi"))
            ).alias("_w"),
            F.sum("cents").alias("_raw"),
        )
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.round(F.col("t_lo").cast("double") / 100, 2).alias("p05"),
            F.round(F.col("t_hi").cast("double") / 100, 2).alias("p95"),
            F.round(
                F.col("_w").cast("double") / (100.0 * F.col("n")), 6
            ).alias("winsorized_mean"),
            F.round(
                F.col("_raw").cast("double") / (100.0 * F.col("n")), 6
            ).alias("raw_mean"),
        )
        .orderBy("event_type")
    )


# ------------------------------------ CUPED experiment analysis


@register(
    "stats_cuped_adjusted_lift",
    "A/B experiment lift with CUPED variance reduction (Deng et al., "
    "Microsoft) — the production experimentation stack's standard "
    "adjustment: users split into variants by md5 parity "
    "(deterministic on both engines), the metric is each user's "
    "purchase cents in the SECOND half of the timeline, the "
    "covariate the same in the first half; theta = cov(x,y)/var(x) "
    "from pooled integer sufficient statistics, and because CUPED "
    "is linear, the adjusted lift reduces to aggregate algebra — "
    "(yB-yA) - theta*(xB-xA) — computed from per-variant integer "
    "sums, no per-row adjusted column at all. Output: one row with "
    "raw lift, adjusted lift, theta, and the theoretical variance "
    "reduction rho^2. 100 TB: two map-side-combinable groupBys "
    "(per-user rollup, then per-variant sums); the final row is "
    "scalar math over 2 variant rows.",
    oracle="""
      WITH span AS (
        SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
      ),
      per_user AS (
        SELECT user_id,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 2
                 AS variant,
               sum(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) < (SELECT (lo + hi) // 2 FROM span)
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
               sum(CASE WHEN event_type = 'purchase'
                        AND epoch_us(ts) >= (SELECT (lo + hi) // 2 FROM span)
                   THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id
      ),
      pooled AS (
        SELECT count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy,
               sum(x * y)::BIGINT AS sxy
        FROM per_user
      ),
      variants AS (
        SELECT variant, count(*)::BIGINT AS nv,
               sum(x)::BIGINT AS sxv, sum(y)::BIGINT AS syv
        FROM per_user GROUP BY variant
      ),
      wide AS (
        SELECT max(CASE WHEN variant = 0 THEN nv END) AS n_a,
               max(CASE WHEN variant = 1 THEN nv END) AS n_b,
               max(CASE WHEN variant = 0 THEN sxv END) AS sx_a,
               max(CASE WHEN variant = 1 THEN sxv END) AS sx_b,
               max(CASE WHEN variant = 0 THEN syv END) AS sy_a,
               max(CASE WHEN variant = 1 THEN syv END) AS sy_b
        FROM variants
      )
      SELECT w.n_a, w.n_b,
             round((w.sy_b::DOUBLE / w.n_b - w.sy_a::DOUBLE / w.n_a)
                   / 100, 6) AS raw_lift,
             round(((w.sy_b::DOUBLE / w.n_b - w.sy_a::DOUBLE / w.n_a)
                    - ((p.n * p.sxy - p.sx::DOUBLE * p.sy)
                       / (p.n * p.sxx - p.sx::DOUBLE * p.sx))
                      * (w.sx_b::DOUBLE / w.n_b - w.sx_a::DOUBLE / w.n_a))
                   / 100, 6) AS cuped_lift,
             round((p.n * p.sxy - p.sx::DOUBLE * p.sy)
                   / (p.n * p.sxx - p.sx::DOUBLE * p.sx), 6) AS theta,
             round((p.n * p.sxy - p.sx::DOUBLE * p.sy)
                   * (p.n * p.sxy - p.sx::DOUBLE * p.sy)
                   / ((p.n * p.sxx - p.sx::DOUBLE * p.sx)
                      * (p.n * p.syy - p.sy::DOUBLE * p.sy)), 6)
               AS var_reduction
      FROM wide w, pooled p
    """,
)
def stats_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .withColumn("mid", F.expr("(lo + hi) div 2"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") < F.col("mid")),
                    cents,
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros("ts") >= F.col("mid")),
                    cents,
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
        .withColumn(
            "variant",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2,
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    wide = per_user.groupBy().agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0)).alias(
            "sx_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0)).alias(
            "sx_b"
        ),
        F.sum(F.when(F.col("variant") == 0, F.col("y")).otherwise(0)).alias(
            "sy_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("y")).otherwise(0)).alias(
            "sy_b"
        ),
    )
    ymean_diff = (
        F.col("sy_b").cast("double") / F.col("n_b")
        - F.col("sy_a").cast("double") / F.col("n_a")
    )
    xmean_diff = (
        F.col("sx_b").cast("double") / F.col("n_b")
        - F.col("sx_a").cast("double") / F.col("n_a")
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col(
        "sy"
    )
    varx_n = F.col("n") * F.col("sxx") - F.col("sx").cast("double") * F.col(
        "sx"
    )
    vary_n = F.col("n") * F.col("syy") - F.col("sy").cast("double") * F.col(
        "sy"
    )
    theta = cov_n / varx_n
    return wide.crossJoin(pooled).select(
        "n_a",
        "n_b",
        F.round(ymean_diff / 100, 6).alias("raw_lift"),
        F.round((ymean_diff - theta * xmean_diff) / 100, 6).alias(
            "cuped_lift"
        ),
        F.round(theta, 6).alias("theta"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 6).alias(
            "var_reduction"
        ),
    )


# ---------------------------------- Pareto 80/20 contribution


@register(
    "agg_pareto_8020_contribution",
    "Pareto / 80-20 contribution analysis — 'how few customers drive "
    "80% of revenue': customers rank by revenue cents (custkey "
    "tie-break), the running share accumulates as exact integers, "
    "and the 80% threshold is found by the INTEGER comparison "
    "cum*5 >= total*4 (no double share ever enters a predicate). "
    "Output: one row — customer count, the 80% head count and its "
    "share of customers, and the top-1%/top-10-customer revenue "
    "shares. Complements skyline_pareto_orders (the frontier) with "
    "the concentration curve. 100 TB: per-customer rollup is "
    "map-side-combinable; the ranked cumulative pass is the one "
    "|customers|-sized sort — swap in the bucketed boundary trick "
    "(audit_sequence_gaps) or a quantile-sketch approximation at "
    "real scale, as the docstring plan notes.",
    oracle="""
      WITH rev AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY o_custkey
      ),
      ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
               sum(cents) OVER (ORDER BY cents DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cents) OVER () AS total,
               count(*) OVER () AS n
        FROM rev
      )
      SELECT max(n)::BIGINT AS n_customers,
             min(CASE WHEN cum * 5 >= total * 4 THEN rn END)::BIGINT
               AS k80_count,
             round(min(CASE WHEN cum * 5 >= total * 4 THEN rn END)::DOUBLE
                   / max(n), 6) AS k80_customer_share,
             round(max(CASE WHEN rn <= 10 THEN cum END)::DOUBLE
                   / max(total), 6) AS top10_share,
             round(max(CASE WHEN rn * 100 <= n THEN cum END)::DOUBLE
                   / max(total), 6) AS top1pct_share
      FROM ranked
    """,
)
def agg_pareto_8020_contribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    # exact distributed rank + prefix sum (operators/rank.py):
    # |customers| grows with data — the former unpartitioned
    # rank/cumsum/total windows were the single-partition class;
    # totals become a scalar agg crossJoin-broadcast (the PMI fix)
    from scout_spark.operators.rank import global_prefix_sum

    totals = rev.agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n")
    )
    # gate bound: |per-custkey agg| <= |orders rows|, read from the
    # parquet footer driver-side (no job) — fires the single-
    # partition path at bench scale, no-op at real scale
    from scout_spark.sources.tables import parquet_rows

    ranked = global_prefix_sum(
        rev,
        [F.col("cents").desc(), "o_custkey"],
        "cents",
        rn_out="rn",
        cum_out="cum",
        known_count=parquet_rows(sf_dir, "orders"),
    ).crossJoin(F.broadcast(totals))
    k80 = F.min(
        F.when(F.col("cum") * 5 >= F.col("total") * 4, F.col("rn"))
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        k80.cast("long").alias("k80_count"),
        F.round(k80.cast("double") / F.max("n"), 6).alias(
            "k80_customer_share"
        ),
        F.round(
            F.max(F.when(F.col("rn") <= 10, F.col("cum"))).cast("double")
            / F.max("total"),
            6,
        ).alias("top10_share"),
        F.round(
            F.max(
                F.when(F.col("rn") * 100 <= F.col("n"), F.col("cum"))
            ).cast("double")
            / F.max("total"),
            6,
        ).alias("top1pct_share"),
    )


# ------------------------------- behavioral profile similarity

_PROF_TOPK = 15


@register(
    "profile_similarity_nations",
    "Behavioral profile similarity — which nations order alike over "
    "time: each nation's profile is its monthly order-count vector "
    "(exact integers), and nation pairs rank by cosine similarity "
    "computed from INTEGER dot products (a month-key equi self-join "
    "accumulates sum(ca*cb); norms come from one per-nation pass), "
    "so the only double is the final dot/sqrt(na*nb). The cohort-"
    "level cousin of the embedding ANN family: same cosine kernel, "
    "but the vectors are aggregates, not stored arrays. Output: the "
    "15 most similar pairs. 100 TB: profiles are |nations| x "
    "|months| — tiny after the first map-side-combinable rollup; "
    "every join below it is broadcast-sized.",
    oracle=f"""
      WITH prof AS (
        SELECT n.n_name AS nation,
               strftime(o.o_orderdate, '%Y-%m') AS month,
               count(*)::BIGINT AS c
        FROM orders o
        JOIN customer cu ON o.o_custkey = cu.c_custkey
        JOIN nation n ON cu.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, strftime(o.o_orderdate, '%Y-%m')
      ),
      norms AS (
        SELECT nation, sum(c * c)::BIGINT AS nn FROM prof GROUP BY nation
      ),
      dots AS (
        SELECT a.nation AS nation_a, b.nation AS nation_b,
               sum(a.c * b.c)::BIGINT AS dot
        FROM prof a JOIN prof b
          ON a.month = b.month AND a.nation < b.nation
        GROUP BY a.nation, b.nation
      )
      SELECT d.nation_a, d.nation_b,
             round(d.dot / sqrt(na.nn::DOUBLE * nb.nn), 6) AS cosine
      FROM dots d
      JOIN norms na ON d.nation_a = na.nation
      JOIN norms nb ON d.nation_b = nb.nation
      ORDER BY round(d.dot / sqrt(na.nn::DOUBLE * nb.nn), 6) DESC,
               d.nation_a, d.nation_b
      LIMIT {_PROF_TOPK}
    """,
)
def profile_similarity_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cu = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    prof = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    norms = prof.groupBy("nation").agg(
        F.sum(F.col("c") * F.col("c")).alias("nn")
    )
    a = prof.select(
        F.col("nation").alias("nation_a"), "month", F.col("c").alias("ca")
    )
    b = prof.select(
        F.col("nation").alias("nation_b"), "month", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "month")
        .where(F.col("nation_a") < F.col("nation_b"))
        .groupBy("nation_a", "nation_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    cos = F.round(
        F.col("dot")
        / F.sqrt(F.col("na_nn").cast("double") * F.col("nb_nn")),
        6,
    )
    return (
        dots.join(
            F.broadcast(norms.select(F.col("nation").alias("nation_a"),
                                     F.col("nn").alias("na_nn"))),
            "nation_a",
        )
        .join(
            F.broadcast(norms.select(F.col("nation").alias("nation_b"),
                                     F.col("nn").alias("nb_nn"))),
            "nation_b",
        )
        .select("nation_a", "nation_b", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "nation_a", "nation_b")
        .limit(_PROF_TOPK)
    )


# -------------------------------- Wilson conversion intervals

_WILSON_Z2 = 3.8416  # z = 1.96, z^2 exact literal shared by both engines


@register(
    "stats_wilson_conversion_ci",
    "Conversion rates with WILSON SCORE intervals — the binomial CI "
    "that behaves at small n and extreme rates (what a naive normal "
    "interval gets wrong): users are attributed to their FIRST-TOUCH "
    "channel (min-of-struct over (ts, event_id, type) — the "
    "deterministic argmin idiom), conversion is any later-or-equal "
    "purchase, and per channel the lower/upper Wilson bounds come "
    "from the closed form on exact integer (n, x) with z^2 = 3.8416 "
    "injected as a shared literal — the only doubles are the final "
    "per-channel scalar expressions. 100 TB: two map-side-combinable "
    "per-user aggs, then scalar math over |channels| rows.",
    oracle=f"""
      WITH per_user AS (
        SELECT user_id,
               (min(struct_pack(t := ts, e := event_id,
                                c := event_type))).c AS channel,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted
        FROM events GROUP BY user_id
      ),
      rates AS (
        SELECT channel, count(*)::BIGINT AS n,
               sum(converted)::BIGINT AS x
        FROM per_user GROUP BY channel
      )
      SELECT channel, n, x,
             round(x::DOUBLE / n, 6) AS rate,
             round(((x::DOUBLE / n) + {_WILSON_Z2} / (2 * n)
                    - sqrt({_WILSON_Z2}) * sqrt((x::DOUBLE / n)
                        * (1 - x::DOUBLE / n) / n
                        + {_WILSON_Z2} / (4.0 * n * n)))
                   / (1 + {_WILSON_Z2} / n), 6) AS wilson_lo,
             round(((x::DOUBLE / n) + {_WILSON_Z2} / (2 * n)
                    + sqrt({_WILSON_Z2}) * sqrt((x::DOUBLE / n)
                        * (1 - x::DOUBLE / n) / n
                        + {_WILSON_Z2} / (4.0 * n * n)))
                   / (1 + {_WILSON_Z2} / n), 6) AS wilson_hi
      FROM rates ORDER BY channel
    """,
)
def stats_wilson_conversion_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first = F.min(
        F.struct(
            F.col("ts").alias("t"),
            F.col("event_id").alias("e"),
            F.col("event_type").alias("c"),
        )
    )
    per_user = ev.groupBy("user_id").agg(
        first.getField("c").alias("channel"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    rates = per_user.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    p = F.col("x").cast("double") / F.col("n")
    z2 = F.lit(_WILSON_Z2)
    half = F.sqrt(z2) * F.sqrt(
        p * (1 - p) / F.col("n") + z2 / (4.0 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    center = p + z2 / (2 * F.col("n"))
    return rates.select(
        "channel",
        "n",
        "x",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("channel")


# ----------------------------------- nested (two-level) percentiles


@register(
    "stats_nested_percentiles",
    "Nested percentiles — 'the median user's p95 interarrival', the "
    "two-level quantile every latency/engagement SLO actually means "
    "(a global p95 over raw events is dominated by heavy users; the "
    "per-user-then-across-users form weights users equally): level 1 "
    "picks each user's p95 interarrival seconds as a DISCRETE order "
    "statistic by exact integer rank arithmetic (parallel per-user "
    "windows), level 2 ranks those |users| values and picks the "
    "median and p90 the same way. No interpolation anywhere — both "
    "engines pick identical elements. 100 TB: level 1 partitions by "
    "user (embarrassingly parallel); level 2 sorts |users| rows, "
    "not events.",
    oracle="""
      WITH gaps AS (
        SELECT user_id,
               (epoch_us(ts) - lag(epoch_us(ts))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id))
                 // 1000000 AS dt_s,
               event_id
        FROM events
      ),
      ranked AS (
        SELECT user_id, dt_s,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY dt_s, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM gaps WHERE dt_s IS NOT NULL
      ),
      per_user AS (
        SELECT user_id,
               max(CASE WHEN rn <= greatest(1, (n * 95 + 99) // 100)
                   THEN dt_s END) AS p95_s
        FROM ranked GROUP BY user_id
      ),
      level2 AS (
        SELECT p95_s,
               row_number() OVER (ORDER BY p95_s, user_id) AS rn,
               count(*) OVER () AS nu
        FROM per_user
      )
      SELECT max(nu)::BIGINT AS n_users,
             max(CASE WHEN rn <= greatest(1, (nu * 50 + 99) // 100)
                 THEN p95_s END)::BIGINT AS median_user_p95_s,
             max(CASE WHEN rn <= greatest(1, (nu * 90 + 99) // 100)
                 THEN p95_s END)::BIGINT AS p90_user_p95_s,
             max(p95_s)::BIGINT AS max_user_p95_s
      FROM level2
    """,
)
def stats_nested_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "event_id",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) over"
            " (partition by user_id order by ts, event_id))"
            " div 1000000"
        ).alias("dt_s"),
    ).where(F.col("dt_s").isNotNull())
    wr = Window.partitionBy("user_id")
    ranked = gaps.select(
        "user_id",
        "dt_s",
        F.row_number().over(wu.orderBy("dt_s", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wr).alias("n"),
    )
    per_user = ranked.groupBy("user_id").agg(
        F.max(
            F.when(
                F.col("rn")
                <= F.greatest(F.lit(1), F.expr("(n * 95 + 99) div 100")),
                F.col("dt_s"),
            )
        ).alias("p95_s")
    )
    # level 2 as a HISTOGRAM of integer seconds: |users| grows with
    # data, so ranking users through one global window would be the
    # PMI/ntile single-partition class — but the p95 VALUES are
    # span-bounded integer seconds, so collapse to a (p95_s, count)
    # histogram and pick the rank-k value by cumulative count (the
    # lateness-profile discipline); identical discrete order statistic
    l2h = per_user.groupBy("p95_s").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.orderBy("p95_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall2 = Window.partitionBy()
    cum = l2h.select(
        "p95_s",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall2).alias("nu"),
    )
    rank = lambda p: F.greatest(  # noqa: E731
        F.lit(1), F.expr(f"(nu * {p} + 99) div 100")
    )
    return cum.agg(
        F.max("nu").cast("long").alias("n_users"),
        F.min(F.when(F.col("cum") >= rank(50), F.col("p95_s")))
        .cast("long")
        .alias("median_user_p95_s"),
        F.min(F.when(F.col("cum") >= rank(90), F.col("p95_s")))
        .cast("long")
        .alias("p90_user_p95_s"),
        F.max("p95_s").cast("long").alias("max_user_p95_s"),
    )


# --------------------------------------- Cohen's kappa agreement

_KAPPA_CHARS = 900
_KAPPA_TOKENS = 150


@register(
    "stats_cohens_kappa",
    "Inter-rater agreement by COHEN'S KAPPA — chance-corrected "
    "agreement between two deterministic document raters (the "
    "metadata length rule n_chars >= 900 vs the true token-count "
    "rule >= 150; the companion question to quality_score_confusion_"
    "eval's 'is the proxy good' is 'do two proxies even agree beyond "
    "chance'): the 2x2 agreement table is exact integer counts, "
    "observed and expected agreement are single rounded divisions, "
    "and kappa = (po - pe)/(1 - pe) guards the degenerate pe = 1 "
    "case identically on both engines. 100 TB: one scan, "
    "map-side-combinable conditional counts.",
    oracle=f"""
      WITH rated AS (
        SELECT CASE WHEN n_chars >= {_KAPPA_CHARS} THEN 1 ELSE 0 END AS a,
               CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                         >= {_KAPPA_TOKENS} THEN 1 ELSE 0 END AS b
        FROM documents
      ),
      cm AS (
        SELECT count(*)::BIGINT AS n,
               sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)::BIGINT
                 AS both_pos,
               sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)::BIGINT
                 AS both_neg,
               sum(a)::BIGINT AS a1,
               sum(b)::BIGINT AS b1
        FROM rated
      )
      SELECT n,
             both_pos + both_neg AS n_agree,
             round((both_pos + both_neg)::DOUBLE / n, 6) AS po,
             round((a1::DOUBLE * b1 + (n - a1)::DOUBLE * (n - b1))
                   / (n::DOUBLE * n), 6) AS pe,
             round(CASE WHEN a1 * b1 + (n - a1) * (n - b1) = n * n
                   THEN 0.0
                   ELSE ((both_pos + both_neg)::DOUBLE / n
                         - (a1::DOUBLE * b1 + (n - a1)::DOUBLE * (n - b1))
                           / (n::DOUBLE * n))
                        / (1 - (a1::DOUBLE * b1
                                + (n - a1)::DOUBLE * (n - b1))
                              / (n::DOUBLE * n)) END, 6) AS kappa
      FROM cm
    """,
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    a = (F.col("n_chars") >= _KAPPA_CHARS).cast("int")
    b = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" ")))
        + 1
        >= _KAPPA_TOKENS
    ).cast("int")
    cm = d.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long")
        .alias("both_pos"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("both_neg"),
        F.sum("a").cast("long").alias("a1"),
        F.sum("b").cast("long").alias("b1"),
    )
    n = F.col("n")
    po = (F.col("both_pos") + F.col("both_neg")).cast("double") / n
    pe = (
        F.col("a1").cast("double") * F.col("b1")
        + (n - F.col("a1")).cast("double") * (n - F.col("b1"))
    ) / (n.cast("double") * n)
    degenerate = (
        F.col("a1") * F.col("b1")
        + (n - F.col("a1")) * (n - F.col("b1"))
        == n * n
    )
    return cm.select(
        "n",
        (F.col("both_pos") + F.col("both_neg")).alias("n_agree"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(
            F.when(degenerate, 0.0).otherwise((po - pe) / (1 - pe)), 6
        ).alias("kappa"),
    )


# --------------------------- self-join cardinality via CMS sketches

_SJ_D = 4
_SJ_W = 1024


@register(
    "estimate_selfjoin_cardinality_cms",
    "Join-size estimation from a count-min sketch (Cormode & "
    "Muthukrishnan 2005, inner-product estimate; the AGMS classic is "
    "the SELF-join size sum c(k)^2 — the statistic every query "
    "optimizer needs before picking a join strategy): per depth d, "
    "est_d = sum over buckets of cnt^2 >= exact, estimate = min over "
    f"depths. CROSS-ENGINE md5 kernel (depth {_SJ_D} x width {_SJ_W}, "
    "bucket = md5(d:key) mod width) makes the estimate value-hash "
    "verifiable, not just plausible. 100 TB: the sketch is a "
    "(d, bucket) -> count table of at most d*w rows regardless of "
    "data size — one map-side-combined shuffle; the exact twin "
    "(shipped alongside for the overcount ratio) is itself one "
    "groupBy(key) agg.",
    oracle=f"""
      WITH c AS (
        SELECT l_partkey, count(*)::BIGINT AS c
        FROM lineitem GROUP BY l_partkey
      ),
      exact AS (SELECT sum(c * c)::BIGINT AS exact_size FROM c),
      cells AS (
        SELECT d.d,
               ('0x' || substr(md5(d.d::VARCHAR || ':' || l_partkey::VARCHAR),
                               1, 8))::BIGINT % {_SJ_W} AS bucket,
               count(*)::BIGINT AS cnt
        FROM lineitem, (SELECT unnest(range(0, {_SJ_D})) AS d) d
        GROUP BY 1, 2
      ),
      perd AS (
        SELECT d, sum(cnt * cnt)::BIGINT AS est FROM cells GROUP BY d
      ),
      est AS (SELECT min(est)::BIGINT AS cms_estimate FROM perd)
      SELECT exact_size, cms_estimate,
             round(cms_estimate::DOUBLE / exact_size, 6) AS overcount_ratio
      FROM exact, est
    """,
)
def estimate_selfjoin_cardinality_cms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # wide_table: the 4-row md5+conv explode is a per-row-heavy kernel; the
    # bench file's single row group would serialize it on 3 cores
    # (measured 3.4 -> 1.6 s at sf0.1)
    li = wide_table(spark, sf_dir, "lineitem").select("l_partkey")
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_size"))
    )

    def _bucket(d):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{d}:"), F.col("l_partkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _SJ_W
        )

    cells = (
        li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"), _bucket(d).alias("bucket")
                        )
                        for d in range(_SJ_D)
                    ]
                )
            ).alias("c")
        )
        .select("c.d", "c.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    est = (
        cells.groupBy("d")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("est"))
        .agg(F.min("est").cast("long").alias("cms_estimate"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_size",
        "cms_estimate",
        F.round(
            F.col("cms_estimate").cast("double") / F.col("exact_size"), 6
        ).alias("overcount_ratio"),
    )


# ----------------------------------- Benjamini-Hochberg FDR control

_BH_Q_NUM = 10  # q = 0.10 kept as integer 10/100 for exact thresholds
_BH_BAL = 5000


@register(
    "stats_bh_fdr_discoveries",
    "Multiple-testing control by BENJAMINI-HOCHBERG — run one "
    "independence test per nation (BUILDING-vs-AUTOMOBILE segment x "
    "acctbal > 5000, the 2x2 chi-square of stats_chi_square_"
    "independence) and control the false-discovery rate at q = 0.10 "
    "across the 25 simultaneous tests: rank p ascending, find the "
    "largest k with p_k <= k*q/m, reject ranks 1..k. P-values use the "
    "closed-form Chernoff tail bound exp(-chi2/2) for 1 dof — "
    "monotone in chi2 and exactly computable on both engines (no "
    "incomplete-gamma dependency), which is what BH needs "
    "(any common monotone transform preserves the ranking and the "
    "procedure's structure; bound documented in-column as p_bound). "
    "Degenerate strata (a zero margin) get chi2 = 0. 100 TB: the 2x2 "
    "tables are one map-side-combinable conditional agg; the BH "
    "window sorts |nations| rows (25 — bounded by the dimension "
    "table, not the fact table).",
    oracle=f"""
      WITH cm AS (
        SELECT n.n_name AS nation,
               sum(CASE WHEN c_mktsegment = 'BUILDING'
                        AND c_acctbal > {_BH_BAL} THEN 1 ELSE 0 END)::BIGINT AS a,
               sum(CASE WHEN c_mktsegment = 'BUILDING'
                        AND c_acctbal <= {_BH_BAL} THEN 1 ELSE 0 END)::BIGINT AS b,
               sum(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                        AND c_acctbal > {_BH_BAL} THEN 1 ELSE 0 END)::BIGINT AS c,
               sum(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                        AND c_acctbal <= {_BH_BAL} THEN 1 ELSE 0 END)::BIGINT AS d
        FROM customer JOIN nation n ON c_nationkey = n.n_nationkey
        GROUP BY 1
      ),
      chi AS (
        SELECT nation,
               CASE WHEN (a+b) * (c+d) * (a+c) * (b+d) = 0 THEN 0.0
                    ELSE (a+b+c+d)::DOUBLE * (a*d - b*c)::DOUBLE * (a*d - b*c)
                         / ((a+b)::DOUBLE * (c+d) * (a+c) * (b+d)) END AS chi2
        FROM cm
      ),
      ranked AS (
        -- rank by chi2 DESC == p ASC (exp is monotone), but the sort
        -- key is the bit-identical integer-derived chi2, never the
        -- engine-libm exp value
        SELECT nation, chi2, exp(-chi2 / 2) AS p,
               row_number() OVER (ORDER BY chi2 DESC, nation) AS k,
               count(*) OVER () AS m
        FROM chi
      ),
      kstar AS (
        SELECT max(CASE WHEN p * m * 100 <= k * {_BH_Q_NUM} * 1.0
                   THEN k END) AS ks
        FROM ranked
      )
      SELECT nation, round(chi2, 6) AS chi2, round(p, 6) AS p_bound, k,
             CASE WHEN k <= coalesce((SELECT ks FROM kstar), 0)
                  THEN 1 ELSE 0 END AS rejected
      FROM ranked
      ORDER BY k
    """,
)
def stats_bh_fdr_discoveries(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    cm = (
        cust.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            cust.c_nationkey == nat.n_nationkey,
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            *[
                F.sum(
                    F.when(
                        (F.col("c_mktsegment") == seg) & cond, 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias(al)
                for seg, cond, al in [
                    ("BUILDING", F.col("c_acctbal") > _BH_BAL, "a"),
                    ("BUILDING", F.col("c_acctbal") <= _BH_BAL, "b"),
                    ("AUTOMOBILE", F.col("c_acctbal") > _BH_BAL, "c"),
                    ("AUTOMOBILE", F.col("c_acctbal") <= _BH_BAL, "d"),
                ]
            ]
        )
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    margins = (a + b) * (c + d) * (a + c) * (b + d)
    chi2 = F.when(margins == 0, F.lit(0.0)).otherwise(
        (a + b + c + d).cast("double")
        * (a * d - b * c).cast("double")
        * (a * d - b * c)
        / ((a + b).cast("double") * (c + d) * (a + c) * (b + d))
    )
    chi = cm.select("nation", chi2.alias("chi2"))
    p = F.exp(-F.col("chi2") / 2)
    # BH window sorts |nations| rows — bounded by the dimension table
    # (25 at any fact-table scale), so the global order is fine
    ranked = chi.select(
        "nation",
        "chi2",
        p.alias("p"),
        F.row_number()
        .over(Window.orderBy(F.col("chi2").desc(), "nation"))
        .alias("k"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    flagged = ranked.withColumn(
        "ks",
        F.max(
            F.when(
                F.col("p") * F.col("m") * 100
                <= F.col("k") * _BH_Q_NUM * F.lit(1.0),
                F.col("k"),
            )
        ).over(Window.partitionBy()),
    )
    return flagged.select(
        "nation",
        F.round("chi2", 6).alias("chi2"),
        F.round("p", 6).alias("p_bound"),
        "k",
        F.when(F.col("k") <= F.coalesce(F.col("ks"), F.lit(0)), 1)
        .otherwise(0)
        .alias("rejected"),
    ).orderBy("k")


# ------------------------------------------ Simpson's paradox audit

_SP_BAL = 5000


@register(
    "stats_simpsons_paradox_audit",
    "Simpson's-paradox audit — does the pooled comparison of two "
    "groups (BUILDING vs AUTOMOBILE high-balance rate) point the same "
    "way inside every stratum (nation)? The direction test is the "
    "INTEGER cross-product sign(xa*nb - xb*na) — no per-stratum "
    "division, so no FP ambiguity near rate ties; strata missing "
    "either group are excluded identically on both engines. Reports "
    "the pooled rates plus how many strata agree with / flip against "
    "/ tie with the pooled direction — the aggregation-bias smoke "
    "alarm for any metric rollup. 100 TB: one conditional-count agg "
    "per stratum (map-side combinable), then arithmetic over "
    "|strata| rows.",
    oracle=f"""
      WITH s AS (
        SELECT c_nationkey,
               sum(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)
                 ::BIGINT AS na,
               sum(CASE WHEN c_mktsegment = 'BUILDING'
                        AND c_acctbal > {_SP_BAL} THEN 1 ELSE 0 END)
                 ::BIGINT AS xa,
               sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END)
                 ::BIGINT AS nb,
               sum(CASE WHEN c_mktsegment = 'AUTOMOBILE'
                        AND c_acctbal > {_SP_BAL} THEN 1 ELSE 0 END)
                 ::BIGINT AS xb
        FROM customer GROUP BY 1
      ),
      pooled AS (
        SELECT sum(na)::BIGINT AS na, sum(xa)::BIGINT AS xa,
               sum(nb)::BIGINT AS nb, sum(xb)::BIGINT AS xb
        FROM s
      ),
      per AS (
        SELECT sign(s.xa * s.nb - s.xb * s.na) AS d,
               sign(p.xa * p.nb - p.xb * p.na) AS dp
        FROM s, pooled p
        WHERE s.na > 0 AND s.nb > 0
      )
      SELECT round(p.xa::DOUBLE / p.na, 6) AS pooled_rate_a,
             round(p.xb::DOUBLE / p.nb, 6) AS pooled_rate_b,
             sign(p.xa * p.nb - p.xb * p.na)::BIGINT AS pooled_direction,
             (SELECT count(*) FROM per)::BIGINT AS n_strata,
             (SELECT count(*) FROM per WHERE d = dp AND d <> 0)::BIGINT
               AS n_agree,
             (SELECT count(*) FROM per WHERE d = -dp AND d <> 0)::BIGINT
               AS n_flip,
             (SELECT count(*) FROM per WHERE d = 0)::BIGINT AS n_tie
      FROM pooled p
    """,
)
def stats_simpsons_paradox_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    s = cust.groupBy("c_nationkey").agg(
        F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(
            F.when(
                (F.col("c_mktsegment") == "BUILDING")
                & (F.col("c_acctbal") > _SP_BAL),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("xa"),
        F.sum(F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum(
            F.when(
                (F.col("c_mktsegment") == "AUTOMOBILE")
                & (F.col("c_acctbal") > _SP_BAL),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("xb"),
    )
    # s (|strata| rows) feeds the pooled agg AND the per-stratum signs
    # — overlapping consumers on a derived frame, so persist it
    s = s.persist()
    pooled = s.agg(
        F.sum("na").alias("pna"),
        F.sum("xa").alias("pxa"),
        F.sum("nb").alias("pnb"),
        F.sum("xb").alias("pxb"),
    )
    per = (
        s.where((F.col("na") > 0) & (F.col("nb") > 0))
        .crossJoin(F.broadcast(pooled))
        .select(
            F.signum(
                (F.col("xa") * F.col("nb") - F.col("xb") * F.col("na"))
                .cast("double")
            )
            .cast("long")
            .alias("d"),
            F.signum(
                (F.col("pxa") * F.col("pnb") - F.col("pxb") * F.col("pna"))
                .cast("double")
            )
            .cast("long")
            .alias("dp"),
        )
    )
    counts = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum(
            F.when((F.col("d") == F.col("dp")) & (F.col("d") != 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_agree"),
        F.sum(
            F.when((F.col("d") == -F.col("dp")) & (F.col("d") != 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_flip"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_tie"),
    )
    return pooled.crossJoin(F.broadcast(counts)).select(
        F.round(F.col("pxa").cast("double") / F.col("pna"), 6).alias(
            "pooled_rate_a"
        ),
        F.round(F.col("pxb").cast("double") / F.col("pnb"), 6).alias(
            "pooled_rate_b"
        ),
        F.signum(
            (F.col("pxa") * F.col("pnb") - F.col("pxb") * F.col("pna"))
            .cast("double")
        )
        .cast("long")
        .alias("pooled_direction"),
        "n_strata",
        "n_agree",
        "n_flip",
        "n_tie",
    )


# ------------------------------------- Jensen-Shannon divergence

_JSD_BIN = 100


@register(
    "stats_jensen_shannon_divergence",
    "Jensen-Shannon divergence between two corpora's length "
    "distributions (en vs de n_chars, bin width "
    f"{_JSD_BIN}) — the symmetric, bounded [0, ln 2] cousin of KL "
    "that drift monitoring should usually use instead of PSI (no "
    "smoothing constant, defined even when a bin is empty on one "
    "side): zero-count bins contribute exactly their surviving term. "
    "Histogram counts are exact integers; the per-bin p*ln(p/m) "
    "terms are doubles summed over a BOUNDED bin set (|range|/width "
    "bins regardless of corpus size) and rounded at 6dp, far above "
    "summation-order ULPs. Degenerate empty corpora excluded "
    "identically on both engines. 100 TB: one map-side-combinable "
    "histogram agg, then arithmetic over the bounded bin frame.",
    oracle=f"""
      WITH h AS (
        SELECT n_chars // {_JSD_BIN} AS bin,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS c1,
               sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)::BIGINT AS c2
        FROM documents WHERE lang IN ('en', 'de')
        GROUP BY 1
      ),
      tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM h),
      terms AS (
        SELECT
          CASE WHEN c1 > 0 THEN (c1::DOUBLE / n1)
               * ln((c1::DOUBLE / n1)
                    / ((c1::DOUBLE / n1 + c2::DOUBLE / n2) / 2))
               ELSE 0 END AS t1,
          CASE WHEN c2 > 0 THEN (c2::DOUBLE / n2)
               * ln((c2::DOUBLE / n2)
                    / ((c1::DOUBLE / n1 + c2::DOUBLE / n2) / 2))
               ELSE 0 END AS t2
        FROM h, tot
        WHERE n1 > 0 AND n2 > 0
      )
      SELECT (SELECT n1 FROM tot) AS n_en,
             (SELECT n2 FROM tot) AS n_de,
             count(*)::BIGINT AS n_bins,
             round(sum(t1) / 2 + sum(t2) / 2, 6) AS jsd_nats,
             round((sum(t1) / 2 + sum(t2) / 2) / ln(2), 6) AS jsd_bits
      FROM terms
      HAVING count(*) > 0
    """,
)
def stats_jensen_shannon_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.col("lang").isin("en", "de"))
    h = d.groupBy(
        F.expr(f"n_chars div {_JSD_BIN}").alias("bin")
    ).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    # h is a bounded histogram (|n_chars range| / bin width rows at
    # any corpus size) feeding totals AND the term sum — persist
    h = h.persist()
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
        F.max("n1").alias("n_en"),
        F.max("n2").alias("n_de"),
    )
    sums = sums.where(F.col("n_bins") > 0)
    jsd = F.col("s1") / 2 + F.col("s2") / 2
    return sums.select(
        "n_en",
        "n_de",
        "n_bins",
        F.round(jsd, 6).alias("jsd_nats"),
        F.round(jsd / F.log(F.lit(2.0)), 6).alias("jsd_bits"),
    )


# --------------------------------------------- mutual information


@register(
    "stats_mutual_information",
    "Mutual information (and normalized MI) between event type and "
    "hour-of-day — 'does WHAT users do depend on WHEN': the "
    "feature-relevance / dependency measure chi-square doesn't give "
    "you (MI is in nats, comparable across tables). Hour is the "
    "engine-neutral integer epoch_us // 3600000000 % 24 (no calendar "
    "functions to disagree on); the contingency table is exact "
    "integer counts over a BOUNDED |types| x 24 cell set; MI terms "
    "and the entropies for NMI = MI/sqrt(H_row*H_col) are doubles "
    "over those cells, rounded 6dp. The cell frame is "
    "localCheckpoint'd — it feeds row margins, column margins, the "
    "total, and the term sum (4 overlapping consumers). 100 TB: one "
    "map-side-combinable agg to <=|types|*24 rows; everything after "
    "is arithmetic on a frame that no longer scales with data.",
    oracle="""
      WITH cells AS (
        SELECT event_type AS et, (epoch_us(ts) // 3600000000) % 24 AS hr,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2
      ),
      rm AS (SELECT et, sum(c)::BIGINT AS r FROM cells GROUP BY et),
      cm AS (SELECT hr, sum(c)::BIGINT AS col FROM cells GROUP BY hr),
      n AS (SELECT sum(c)::BIGINT AS n FROM cells),
      mi AS (
        SELECT sum((c.c::DOUBLE / n.n)
                   * ln(c.c::DOUBLE * n.n / (rm.r::DOUBLE * cm.col))) AS mi
        FROM cells c JOIN rm USING (et) JOIN cm USING (hr) CROSS JOIN n
      ),
      hrow AS (
        SELECT -sum((r::DOUBLE / n.n) * ln(r::DOUBLE / n.n)) AS h
        FROM rm CROSS JOIN n
      ),
      hcol AS (
        SELECT -sum((col::DOUBLE / n.n) * ln(col::DOUBLE / n.n)) AS h
        FROM cm CROSS JOIN n
      )
      SELECT n.n AS n_events,
             (SELECT count(*) FROM cells)::BIGINT AS n_cells,
             round(mi.mi, 6) AS mi_nats,
             round(hrow.h, 6) AS h_type,
             round(hcol.h, 6) AS h_hour,
             CASE WHEN hrow.h = 0 OR hcol.h = 0 THEN NULL
                  ELSE round(mi.mi / sqrt(hrow.h * hcol.h), 6) END AS nmi
      FROM n, mi, hrow, hcol
    """,
)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cells = (
        ev.selectExpr(
            "event_type as et",
            "(unix_micros(ts) div 3600000000) % 24 as hr",
        )
        .groupBy("et", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # <=|types|*24 rows; 4 overlapping consumers
    )
    rm = cells.groupBy("et").agg(F.sum("c").cast("long").alias("r"))
    cm = cells.groupBy("hr").agg(F.sum("c").cast("long").alias("col"))
    n = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    joined = (
        cells.join(F.broadcast(rm), "et")
        .join(F.broadcast(cm), "hr")
        .crossJoin(F.broadcast(n))
    )
    mi = joined.agg(
        F.sum(
            (F.col("c").cast("double") / F.col("n"))
            * F.log(
                F.col("c").cast("double")
                * F.col("n")
                / (F.col("r").cast("double") * F.col("col"))
            )
        ).alias("mi")
    )
    hrow = (
        rm.crossJoin(F.broadcast(n))
        .agg(
            (
                -F.sum(
                    (F.col("r").cast("double") / F.col("n"))
                    * F.log(F.col("r").cast("double") / F.col("n"))
                )
            ).alias("h_type")
        )
    )
    hcol = (
        cm.crossJoin(F.broadcast(n))
        .agg(
            (
                -F.sum(
                    (F.col("col").cast("double") / F.col("n"))
                    * F.log(F.col("col").cast("double") / F.col("n"))
                )
            ).alias("h_hour")
        )
    )
    out = (
        n.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hrow))
        .crossJoin(F.broadcast(hcol))
    )
    nmi = F.when(
        (F.col("h_type") == 0) | (F.col("h_hour") == 0),
        F.lit(None).cast("double"),
    ).otherwise(
        F.round(F.col("mi") / F.sqrt(F.col("h_type") * F.col("h_hour")), 6)
    )
    return out.select(
        F.col("n").alias("n_events"),
        "n_cells",
        F.round("mi", 6).alias("mi_nats"),
        F.round("h_type", 6).alias("h_type"),
        F.round("h_hour", 6).alias("h_hour"),
        nmi.alias("nmi"),
    )


# --------------------------------------- HLL union via register merge

@register(
    "sketch_hll_md5_union_merge",
    "HyperLogLog register MERGE — the property that makes HLL a "
    "distributed sketch at all: per-source register banks combine "
    "into the union's bank by max(rho) per bucket, so 'distinct "
    "tokens across ALL sources' never re-reads the sources (the "
    "partial-combine / cross-partition / cross-day rollup story in "
    "one operator). Same CROSS-ENGINE md5 kernel as "
    "sketch_hll_md5_distinct; reports the merged-union estimate "
    "against the exact global distinct AND the sum of per-source "
    "exact distincts (whose gap is the cross-source overlap a naive "
    "sum double-counts). 100 TB: per-source banks are <= m rows "
    "each; the merge shuffles at most |sources|*m register rows.",
    oracle=f"""
      WITH tok AS (
        SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
          AS tok
        FROM documents
      ),
      h AS (
        SELECT source, tok,
               ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
        FROM tok
      ),
      rr AS (
        SELECT source, hv % {HLL_M} AS bucket,
               CASE WHEN (hv >> {HLL_B}) > 0
                    THEN 53 - length(bin(hv >> {HLL_B}))
                    ELSE 53 END AS rho
        FROM h
      ),
      srcregs AS (
        SELECT source, bucket, max(rho) AS r FROM rr GROUP BY source, bucket
      ),
      merged AS (
        SELECT bucket, max(r) AS r FROM srcregs GROUP BY bucket
      ),
      est AS (
        SELECT count(*) AS n_regs,
               sum(1.0 / (1::BIGINT << r)) AS s_present
        FROM merged
      ),
      ex AS (SELECT count(DISTINCT tok)::BIGINT AS exact_union FROM tok),
      persrc AS (
        SELECT sum(dd)::BIGINT AS sum_source_exact
        FROM (SELECT count(DISTINCT tok) AS dd FROM tok GROUP BY source)
      )
      SELECT ex.exact_union,
             persrc.sum_source_exact,
             round(CASE WHEN {HLL_ALPHA_M2}
                             / (e.s_present + ({HLL_M} - e.n_regs))
                             <= 2.5 * {HLL_M}
                         AND e.n_regs < {HLL_M}
                        THEN {HLL_M}
                             * ln({HLL_M}::DOUBLE / ({HLL_M} - e.n_regs))
                        ELSE {HLL_ALPHA_M2}
                             / (e.s_present + ({HLL_M} - e.n_regs))
                   END, 2) AS merged_hll_estimate
      FROM est e, ex, persrc
    """,
)
def sketch_hll_md5_union_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tok = doc_tokens(spark, sf_dir).select("source", "tok")
    hv = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    w = F.shiftright(hv, HLL_B)
    # single-reference rho (see stats.sketch_hll_md5): avoids
    # the 3x md5 CollapseProject inline; identical integers
    rho = F.lit(54) - F.length(F.bin(F.shiftleft(w, 1) + 1))
    srcregs = (
        tok.select("source", (hv % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    merged = srcregs.groupBy("bucket").agg(F.max("r").alias("r"))
    est = merged.agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(F.expr("1.0 / shiftleft(cast(1 as bigint), r)")).alias(
            "s_present"
        ),
    )
    raw = F.lit(float(HLL_ALPHA_M2)) / (
        F.col("s_present") + (HLL_M - F.col("n_regs"))
    )
    small = (raw <= 2.5 * HLL_M) & (F.col("n_regs") < HLL_M)
    linear = HLL_M * F.log(
        F.lit(float(HLL_M)) / (HLL_M - F.col("n_regs"))
    )
    ex = tok.agg(F.count_distinct("tok").cast("long").alias("exact_union"))
    persrc = (
        tok.groupBy("source")
        .agg(F.count_distinct("tok").alias("dd"))
        .agg(F.sum("dd").cast("long").alias("sum_source_exact"))
    )
    return (
        ex.crossJoin(F.broadcast(persrc))
        .crossJoin(F.broadcast(est))
        .select(
            "exact_union",
            "sum_source_exact",
            F.round(F.when(small, linear).otherwise(raw), 2).alias(
                "merged_hll_estimate"
            ),
        )
    )


# -------------------------------------- calibration reliability bins


@register(
    "eval_calibration_reliability_bins",
    "Calibration reliability diagram for the quality scorer — per "
    "fixed-width score decile, mean predicted probability vs observed "
    "outcome rate (outcome: the >=150-token rule, the same ground "
    "truth quality_score_confusion_eval tests against) plus the "
    "signed gap: the 'is the score a probability or just a ranking' "
    "check every model-based filter needs. FIXED bins (floor(score*"
    "10)), never ntile — no global sort, and the binning is "
    "IEEE-deterministic on both engines (identical double ops on "
    "identical inputs); counts are exact integers. 100 TB: one scan, "
    "one map-side-combinable 10-group agg.",
    oracle="""
      WITH t AS (
        SELECT doc_id, text,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
      ),
      f AS (
        SELECT doc_id,
               len(list_distinct(toks))::DOUBLE / nullif(len(toks), 0)
                 AS distinct_ratio,
               list_sum(list_transform(toks, x -> len(x)))::DOUBLE
                 / nullif(len(toks), 0) AS mean_len,
               len(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                 / nullif(len(text), 0) AS digit_frac,
               ln(len(toks) + 1) AS ln_n,
               CASE WHEN len(toks) >= 150 THEN 1 ELSE 0 END AS outcome
        FROM t WHERE len(toks) > 0
      ),
      s AS (
        SELECT outcome,
               1.0 / (1.0 + exp(-(-2.0 + 3.0 * distinct_ratio
                     + 0.4 * mean_len + -6.0 * digit_frac
                     + 0.35 * ln_n))) AS score
        FROM f
      )
      SELECT least(floor(score * 10), 9)::BIGINT AS bin,
             count(*)::BIGINT AS n_docs,
             sum(outcome)::BIGINT AS n_positive,
             round(avg(score), 6) AS mean_score,
             round(sum(outcome)::DOUBLE / count(*), 6) AS obs_rate,
             round(avg(score) - sum(outcome)::DOUBLE / count(*), 6)
               AS calibration_gap
      FROM s
      GROUP BY 1
      ORDER BY bin
    """,
)
def eval_calibration_reliability_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    t = d.select("doc_id", "text", toks.alias("toks")).where(
        F.size("toks") > 0
    )
    n = F.size("toks").cast("double")
    distinct_ratio = F.size(F.array_distinct("toks")).cast("double") / n
    mean_len = (
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / n
    )
    digit_frac = (
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
        / F.length("text")
    )
    ln_n = F.log(n + 1)
    z = (
        F.lit(QW[0])
        + F.lit(QW[1]) * distinct_ratio
        + F.lit(QW[2]) * mean_len
        + F.lit(QW[3]) * digit_frac
        + F.lit(QW[4]) * ln_n
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    s = t.select(
        score.alias("score"),
        (F.size("toks") >= 150).cast("int").alias("outcome"),
    )
    return (
        s.groupBy(
            F.least(F.floor(F.col("score") * 10), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("outcome").cast("long").alias("n_positive"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(
                F.sum("outcome").cast("double") / F.count(F.lit(1)), 6
            ).alias("obs_rate"),
            F.round(
                F.avg("score")
                - F.sum("outcome").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("calibration_gap"),
        )
        .orderBy("bin")
    )


# ----------------------------------------- k-anonymity / l-diversity

_KA_K = 5
_KA_BAL_BUCKET = 1000


@register(
    "privacy_k_anonymity_audit",
    "K-ANONYMITY / L-DIVERSITY audit before a data release — the "
    "privacy counterpart of the PII scrub: group rows by their "
    "quasi-identifier tuple (nation, market segment, account balance "
    f"bucketed to {_KA_BAL_BUCKET}s — bucketing IS the "
    "generalization step of k-anonymization), then report the "
    "dataset's k (the smallest equivalence class), how many classes "
    f"and rows sit below k={_KA_K} (re-identifiable under linkage "
    "attack), and the minimum l-diversity of the sensitive attribute "
    "(distinct order priorities per class via the customers' orders "
    "— a class can be k-anonymous yet leak the sensitive value if "
    "l=1). All exact integer counts. 100 TB: one groupBy on the "
    "quasi-identifier (map-side combinable), one broadcast-dim join, "
    "and a bounded-cardinality class frame after.",
    oracle=f"""
      WITH q AS (
        SELECT c.c_custkey, n.n_name AS nation, c.c_mktsegment AS seg,
               floor(c.c_acctbal / {_KA_BAL_BUCKET})::BIGINT AS balb
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      ),
      classes AS (
        SELECT nation, seg, balb, count(*)::BIGINT AS k
        FROM q GROUP BY 1, 2, 3
      ),
      ldiv AS (
        SELECT q.nation, q.seg, q.balb,
               count(DISTINCT o.o_orderpriority)::BIGINT AS l
        FROM q JOIN orders o ON o.o_custkey = q.c_custkey
        GROUP BY 1, 2, 3
      )
      SELECT (SELECT count(*) FROM classes)::BIGINT AS n_classes,
             (SELECT min(k) FROM classes)::BIGINT AS k_anonymity,
             (SELECT count(*) FROM classes WHERE k < {_KA_K})::BIGINT
               AS n_classes_below_k,
             (SELECT coalesce(sum(k), 0) FROM classes
              WHERE k < {_KA_K})::BIGINT AS n_rows_at_risk,
             (SELECT min(l) FROM ldiv)::BIGINT AS l_diversity_min,
             (SELECT count(*) FROM ldiv WHERE l = 1)::BIGINT
               AS n_classes_l1
    """,
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    q = c.join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        c.c_nationkey == n.n_nationkey,
    ).select(
        "c_custkey",
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / _KA_BAL_BUCKET)
        .cast("long")
        .alias("balb"),
    )
    # q feeds the class census AND the l-diversity join — overlapping
    # consumers, persist (|customers| rows)
    q = q.persist()
    classes = q.groupBy("nation", "seg", "balb").agg(
        F.count(F.lit(1)).alias("k")
    )
    cstats = classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("k_anonymity"),
        F.sum(F.when(F.col("k") < _KA_K, 1).otherwise(0))
        .cast("long")
        .alias("n_classes_below_k"),
        F.coalesce(
            F.sum(F.when(F.col("k") < _KA_K, F.col("k"))), F.lit(0)
        )
        .cast("long")
        .alias("n_rows_at_risk"),
    )
    ldiv = (
        q.join(
            o.select("o_custkey", "o_orderpriority"),
            q.c_custkey == F.col("o_custkey"),
        )
        .groupBy("nation", "seg", "balb")
        .agg(F.count_distinct("o_orderpriority").alias("l"))
    )
    lstats = ldiv.agg(
        F.min("l").cast("long").alias("l_diversity_min"),
        F.sum(F.when(F.col("l") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_classes_l1"),
    )
    return cstats.crossJoin(F.broadcast(lstats)).select(
        "n_classes",
        "k_anonymity",
        "n_classes_below_k",
        "n_rows_at_risk",
        "l_diversity_min",
        "n_classes_l1",
    )


# ------------------------------------------------ exact ROC / AUC

_ROC_TOKENS = 50  # splits this corpus (~60-token median); 150 would yield n1=0


@register(
    "eval_roc_auc_exact",
    "Exact ROC/AUC for the quality scorer — AUC computed as the "
    "rank-sum (Mann-Whitney) statistic, NOT a trapezoid "
    "approximation: AUC = (sum of positive ranks - n1(n1+1)/2) / "
    "(n1*n0), with midranks for tied scores handled by the standard "
    "average-rank correction — and ranks are over round(score, 6) "
    "(the 6dp-rounded score BOTH engines agree on bit-for-bit, so "
    "tie groups are identical; ranking raw libm-exp scores could "
    "split a tie differently per engine). Alongside: ROC operating "
    "points (FPR, TPR, precision) at fixed thresholds 0.3/0.5/0.7 "
    "from exact integer confusion counts. 100 TB: counts are one "
    "map-side-combinable agg; the rank pass partitions by the "
    "6dp-rounded score histogram (bounded distinct values), never a "
    "global per-row sort — sum-of-ranks per tie group = "
    "group_count * (cum_before + (group_count+1)/2), all from the "
    "score histogram.",
    oracle=f"""
      WITH t AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks, text
        FROM documents
      ),
      f AS (
        SELECT len(list_distinct(toks))::DOUBLE / nullif(len(toks), 0)
                 AS distinct_ratio,
               list_sum(list_transform(toks, x -> len(x)))::DOUBLE
                 / nullif(len(toks), 0) AS mean_len,
               len(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                 / nullif(len(text), 0) AS digit_frac,
               ln(len(toks) + 1) AS ln_n,
               CASE WHEN len(toks) >= {_ROC_TOKENS} THEN 1 ELSE 0 END
                 AS y
        FROM t WHERE len(toks) > 0
      ),
      s AS (
        SELECT y,
               round(1.0 / (1.0 + exp(-(-2.0 + 3.0 * distinct_ratio
                     + 0.4 * mean_len + -6.0 * digit_frac
                     + 0.35 * ln_n))), 6) AS score
        FROM f
      ),
      hist AS (
        SELECT score, count(*)::BIGINT AS c, sum(y)::BIGINT AS pos
        FROM s GROUP BY score
      ),
      ranked AS (
        SELECT score, c, pos,
               sum(c) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) - c
                 AS below
        FROM hist
      ),
      sums AS (
        SELECT sum(pos * (below + (c + 1) / 2.0)) AS pos_rank_sum,
               sum(pos)::BIGINT AS n1,
               sum(c - pos)::BIGINT AS n0
        FROM ranked
      ),
      auc AS (
        SELECT n1, n0,
               round((pos_rank_sum - n1::DOUBLE * (n1 + 1) / 2)
                     / (n1::DOUBLE * n0), 6) AS v
        FROM sums
      ),
      pts AS (
        SELECT thr,
               sum(CASE WHEN score >= thr THEN pos ELSE 0 END)::BIGINT
                 AS tp,
               sum(CASE WHEN score >= thr THEN c - pos ELSE 0 END)::BIGINT
                 AS fp
        FROM hist, (SELECT unnest([0.3, 0.5, 0.7]) AS thr)
        GROUP BY thr
      )
      SELECT pts.thr AS threshold,
             round(pts.tp::DOUBLE / auc.n1, 6) AS tpr,
             round(pts.fp::DOUBLE / auc.n0, 6) AS fpr,
             round(CASE WHEN pts.tp + pts.fp = 0 THEN 0.0
                   ELSE pts.tp::DOUBLE / (pts.tp + pts.fp) END, 6)
               AS precision_at,
             auc.v AS auc
      FROM pts, auc
      WHERE auc.n1 > 0 AND auc.n0 > 0
      ORDER BY threshold
    """,
)
def eval_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    t = d.select("text", toks.alias("toks")).where(F.size("toks") > 0)
    n = F.size("toks").cast("double")
    distinct_ratio = F.size(F.array_distinct("toks")).cast("double") / n
    mean_len = (
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / n
    )
    digit_frac = (
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
        / F.length("text")
    )
    z = (
        F.lit(QW[0])
        + F.lit(QW[1]) * distinct_ratio
        + F.lit(QW[2]) * mean_len
        + F.lit(QW[3]) * digit_frac
        + F.lit(QW[4]) * F.log(n + 1)
    )
    s = t.select(
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        (F.size("toks") >= _ROC_TOKENS).cast("int").alias("y"),
    )
    hist = s.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("y").cast("long").alias("pos"),
    )
    # distributed prefix sum over the score histogram: 6dp-rounded
    # scores can approach |docs| distinct values, so a single global
    # cum window would funnel the corpus through one partition (the
    # PMI/ntile class the r04 verdict flagged). Instead: 1000 fixed
    # score buckets -> per-bucket cum windows (parallel) + bucket
    # offsets from a <=1000-row window (bounded) broadcast back.
    hb = hist.withColumn(
        "b", F.least(F.floor(F.col("score") * 1000), F.lit(999)).cast("long")
    )
    w_in = Window.partitionBy("b").orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    woff = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        hb.groupBy("b")
        .agg(F.sum("c").alias("bc"))
        .select(
            "b",
            F.coalesce(F.sum("bc").over(woff), F.lit(0)).alias("off"),
        )
    )
    ranked = (
        hb.select(
            "score",
            "b",
            "c",
            "pos",
            (F.sum("c").over(w_in) - F.col("c")).alias("below_in"),
        )
        .join(F.broadcast(offsets), "b")
        .select(
            "score",
            "c",
            "pos",
            (F.col("off") + F.col("below_in")).alias("below"),
        )
        .persist()  # feeds the AUC sums AND the threshold points
    )
    sums = ranked.agg(
        F.sum(
            F.col("pos")
            * (F.col("below") + (F.col("c") + 1) / F.lit(2.0))
        ).alias("pos_rank_sum"),
        F.sum("pos").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("pos")).cast("long").alias("n0"),
    )
    # guard BEFORE the division — ANSI Spark errors on /0 eagerly,
    # where DuckDB's inf would be filtered later anyway
    sums = sums.where((F.col("n1") > 0) & (F.col("n0") > 0))
    auc = sums.select(
        "n1",
        "n0",
        F.round(
            (
                F.col("pos_rank_sum")
                - F.col("n1").cast("double") * (F.col("n1") + 1) / 2
            )
            / (F.col("n1").cast("double") * F.col("n0")),
            6,
        ).alias("v"),
    )
    thr = spark.createDataFrame(
        [(0.3,), (0.5,), (0.7,)], "thr double"
    )
    pts = (
        ranked.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when(F.col("score") >= F.col("thr"), F.col("pos"))
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    F.col("score") >= F.col("thr"),
                    F.col("c") - F.col("pos"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    return (
        pts.crossJoin(F.broadcast(auc))
        # degenerate-class guard (one empty class after corpus drift):
        # both engines emit ZERO rows instead of inf-vs-error
        .where((F.col("n1") > 0) & (F.col("n0") > 0))
        .select(
            F.col("thr").alias("threshold"),
            F.round(F.col("tp").cast("double") / F.col("n1"), 6).alias(
                "tpr"
            ),
            F.round(F.col("fp").cast("double") / F.col("n0"), 6).alias(
                "fpr"
            ),
            F.round(
                F.when(F.col("tp") + F.col("fp") == 0, 0.0).otherwise(
                    F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
                ),
                6,
            ).alias("precision_at"),
            F.col("v").alias("auc"),
        )
        .orderBy("threshold")
    )


@register(
    "audit_join_fanout",
    "Join-FANOUT audit — the pre-join diagnostic that predicts "
    "whether orders JOIN lineitem explodes: per-key multiplicities "
    "on each side, the EXACT output cardinality as sum over keys of "
    "cA*cB (computable from the two per-key histograms WITHOUT "
    "running the join — the same inner product the CMS entry "
    "estimates from sketches), max/mean fanout, and the top offender "
    "key. A key present on one side only contributes zero — the "
    "full-outer histogram join makes that explicit. 100 TB: two "
    "map-side-combinable per-key counts + one histogram-sized join; "
    "never the join itself.",
    oracle="""
      WITH ca AS (
        SELECT o_orderkey AS k, count(*)::BIGINT AS ca
        FROM orders GROUP BY 1
      ),
      cb AS (
        SELECT l_orderkey AS k, count(*)::BIGINT AS cb
        FROM lineitem GROUP BY 1
      ),
      h AS (
        SELECT coalesce(ca.k, cb.k) AS k,
               coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
        FROM ca FULL OUTER JOIN cb ON ca.k = cb.k
      ),
      top AS (
        SELECT k FROM h ORDER BY ca * cb DESC, k LIMIT 1
      )
      SELECT count(*)::BIGINT AS n_keys,
             sum(ca * cb)::BIGINT AS exact_join_rows,
             max(ca * cb)::BIGINT AS max_fanout,
             round(avg(ca * cb), 6) AS mean_fanout,
             sum(CASE WHEN ca = 0 OR cb = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_unmatched_keys,
             (SELECT k FROM top)::BIGINT AS top_offender_key
      FROM h
    """,
)
def audit_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ca = o.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    h = (
        ca.join(cb, "k", "full_outer")
        .select(
            "k",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
        .persist()  # feeds the census agg AND the top-offender argmax
    )
    fan = F.col("ca") * F.col("cb")
    top = (
        h.orderBy(fan.desc(), "k").limit(1).select(F.col("k").alias("tk"))
    )
    stats = h.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(fan).cast("long").alias("exact_join_rows"),
        F.max(fan).cast("long").alias("max_fanout"),
        F.round(F.avg(fan), 6).alias("mean_fanout"),
        F.sum(
            F.when((F.col("ca") == 0) | (F.col("cb") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_unmatched_keys"),
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "exact_join_rows",
        "max_fanout",
        "mean_fanout",
        "n_unmatched_keys",
        F.col("tk").cast("long").alias("top_offender_key"),
    )


@register(
    "stats_spearman_by_source",
    "Spearman rank correlation between two PER-SOURCE metrics (mean "
    "doc length vs distinct-token ratio) — 'are my aggregate metrics "
    "monotonically related across segments', the robust complement "
    "to profile_numeric_correlations' Pearson: both metrics reduce "
    "to one exact value per source first (integer sums / rounded "
    "ratios), ranks are over the BOUNDED |sources| frame (20 rows at "
    "any corpus size — the dimension-window exemption), ties broken "
    "by source name identically on both engines, and rho = 1 - "
    "6*sum(d^2)/(n(n^2-1)) is exact integer arithmetic until the "
    "final division. 100 TB: two map-side-combinable per-source "
    "aggs; everything after runs on |sources| rows.",
    oracle="""
      WITH per AS (
        SELECT source,
               sum(n_chars)::BIGINT AS chars,
               count(*)::BIGINT AS docs,
               sum(len(list_distinct(regexp_extract_all(lower(text),
                                                        '[a-z0-9]+'))))
                 ::BIGINT AS dtoks,
               sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                 ::BIGINT AS toks
        FROM documents GROUP BY source
      ),
      m AS (
        SELECT source,
               round(chars::DOUBLE / docs, 6) AS mean_len,
               round(dtoks::DOUBLE / toks, 6) AS distinct_ratio
        FROM per WHERE toks > 0
      ),
      r AS (
        SELECT source,
               row_number() OVER (ORDER BY mean_len, source) AS r1,
               row_number() OVER (ORDER BY distinct_ratio, source) AS r2,
               count(*) OVER () AS n
        FROM m
      )
      SELECT max(n)::BIGINT AS n_sources,
             sum((r1 - r2) * (r1 - r2))::BIGINT AS sum_d2,
             round(1.0 - 6.0 * sum((r1 - r2) * (r1 - r2))
                   / (max(n)::DOUBLE * (max(n) * max(n) - 1)), 6)
               AS spearman_rho
      FROM r
    """,
)
def stats_spearman_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    per = d.select(
        "source",
        "n_chars",
        F.size(toks).alias("tk"),
        F.size(F.array_distinct(toks)).alias("dtk"),
    ).groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars"),
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("dtk").cast("long").alias("dtoks"),
        F.sum("tk").cast("long").alias("toks"),
    )
    m = per.where(F.col("toks") > 0).select(
        "source",
        F.round(F.col("chars").cast("double") / F.col("docs"), 6).alias(
            "mean_len"
        ),
        F.round(F.col("dtoks").cast("double") / F.col("toks"), 6).alias(
            "distinct_ratio"
        ),
    )
    # ranks over the |sources| dimension frame (20 rows at any scale)
    r = m.select(
        F.row_number().over(Window.orderBy("mean_len", "source")).alias("r1"),
        F.row_number()
        .over(Window.orderBy("distinct_ratio", "source"))
        .alias("r2"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    d2 = (F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))
    return r.agg(
        F.max("n").cast("long").alias("n_sources"),
        F.sum(d2).cast("long").alias("sum_d2"),
        F.round(
            1.0
            - 6.0
            * F.sum(d2)
            / (
                F.max("n").cast("double")
                * (F.max("n") * F.max("n") - 1)
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "dist_lorenz_curve_points",
    "Lorenz curve points at fixed deciles — the distribution curve "
    "behind agg_gini_concentration's single number: customers "
    "ordered by exact revenue cents, the cumulative revenue share at "
    "each population decile. Ranks and running sums come from "
    "operators/rank.py::global_prefix_sum (range shuffle + pid "
    "windows + broadcast offsets — the SAME distributed machinery "
    "the Pareto entry uses; a second consumer proving the operator "
    "generalizes), decile cutoffs are exact integer rank ceilings, "
    "and the reported shares are integer-cent ratios rounded 6dp. "
    "100 TB: no global single-partition sort anywhere; output is 10 "
    "rows.",
    oracle="""
      WITH rev AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY o_custkey
      ),
      ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rn,
               sum(cents) OVER (ORDER BY cents, o_custkey
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        FROM rev
      ),
      tot AS (
        SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS total FROM rev
      ),
      pts AS (
        SELECT dec, (tot.n * dec + 9) // 10 AS cutoff, tot.n, tot.total
        FROM (SELECT unnest(range(1, 11)) AS dec), tot
      )
      SELECT p.dec AS decile,
             max(r.cum)::BIGINT AS cum_cents,
             round(max(r.cum)::DOUBLE / max(p.total), 6) AS cum_share
      FROM pts p JOIN ranked r ON r.rn <= p.cutoff
      GROUP BY p.dec
      ORDER BY decile
    """,
)
def dist_lorenz_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.rank import global_prefix_sum

    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.expr("sum(cast(round(o_totalprice * 100) as bigint))").alias(
            "cents"
        )
    )
    tot = rev.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    # |per-custkey agg| <= |orders rows| (parquet-footer bound, no
    # job) — the global_prefix_sum small-frame gate (FLOOR_r11)
    from scout_spark.sources.tables import parquet_rows

    ranked = global_prefix_sum(
        rev,
        ["cents", "o_custkey"],
        "cents",
        rn_out="rn",
        cum_out="cum",
        known_count=parquet_rows(sf_dir, "orders"),
    )
    decs = spark.range(1, 11).select(F.col("id").alias("dec"))
    pts = decs.crossJoin(F.broadcast(tot)).select(
        "dec",
        F.expr("(n * dec + 9) div 10").alias("cutoff"),
        "total",
    )
    # per-decile max-cum via a broadcast theta-join of 10 cutoff rows
    # against the ranked frame (rn <= cutoff) — the ranked side
    # shuffles once in global_prefix_sum and is filtered map-side here
    j = ranked.join(F.broadcast(pts), ranked.rn <= pts.cutoff)
    return (
        j.groupBy("dec")
        .agg(
            F.max("cum").cast("long").alias("cum_cents"),
            F.round(
                F.max("cum").cast("double") / F.max("total"), 6
            ).alias("cum_share"),
        )
        .select(F.col("dec").alias("decile"), "cum_cents", "cum_share")
        .orderBy("decile")
    )


@register(
    "audit_order_total_reconciliation",
    "Cross-table RECONCILIATION audit — does the order header's total "
    "equal the sum of its lines (the TPC-H invariant "
    "sum(extendedprice*(1+tax)*(1-discount)), and the first thing a "
    "warehouse closes its books on): per-order derived total in "
    "integer cents (each line's amount rounded to cents exactly once "
    "— the same once-per-line rounding a ledger applies, identical "
    "on both engines), full-outer joined against headers so "
    "LINELESS ORDERS and ORPHAN LINES are counted rather than "
    "silently dropped, then match/mismatch counts and the largest "
    "absolute discrepancy with its order key. 100 TB: one map-side-"
    "combinable per-order agg + one key join; the census agg is "
    "tiny.",
    oracle="""
      WITH derived AS (
        SELECT l_orderkey AS k,
               sum(round(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                         * 100)::BIGINT)::BIGINT AS dcents
        FROM lineitem GROUP BY l_orderkey
      ),
      hdr AS (
        SELECT o_orderkey AS k,
               round(o_totalprice * 100)::BIGINT AS hcents
        FROM orders
      ),
      j AS (
        SELECT coalesce(h.k, d.k) AS k, h.hcents, d.dcents,
               CASE WHEN h.hcents IS NULL OR d.dcents IS NULL THEN NULL
                    ELSE abs(h.hcents - d.dcents) END AS adiff
        FROM hdr h FULL OUTER JOIN derived d ON h.k = d.k
      ),
      worst AS (
        SELECT k FROM j WHERE adiff IS NOT NULL
        ORDER BY adiff DESC, k LIMIT 1
      )
      SELECT count(*)::BIGINT AS n_orders,
             sum(CASE WHEN adiff = 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_matching,
             sum(CASE WHEN adiff > 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_mismatched,
             sum(CASE WHEN dcents IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_lineless_orders,
             sum(CASE WHEN hcents IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_orphan_line_orders,
             coalesce(max(adiff), 0)::BIGINT AS max_abs_diff_cents,
             (SELECT k FROM worst)::BIGINT AS worst_order_key
      FROM j
    """,
)
def audit_order_total_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    derived = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.expr(
            "sum(cast(round(l_extendedprice * (1 + l_tax)"
            " * (1 - l_discount) * 100) as bigint))"
        ).alias("dcents")
    )
    hdr = o.select(
        F.col("o_orderkey").alias("k"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("hcents"),
    )
    j = (
        hdr.join(derived, "k", "full_outer")
        .select(
            "k",
            "hcents",
            "dcents",
            F.when(
                F.col("hcents").isNull() | F.col("dcents").isNull(),
                F.lit(None).cast("long"),
            )
            .otherwise(F.abs(F.col("hcents") - F.col("dcents")))
            .alias("adiff"),
        )
        .persist()  # census agg + worst-offender argmax overlap
    )
    worst = (
        j.where(F.col("adiff").isNotNull())
        .orderBy(F.col("adiff").desc(), "k")
        .limit(1)
        .select(F.col("k").alias("wk"))
    )
    stats = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("adiff") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_matching"),
        F.sum(F.when(F.col("adiff") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_mismatched"),
        F.sum(F.when(F.col("dcents").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_lineless_orders"),
        F.sum(F.when(F.col("hcents").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_orphan_line_orders"),
        F.coalesce(F.max("adiff"), F.lit(0))
        .cast("long")
        .alias("max_abs_diff_cents"),
    )
    return stats.crossJoin(F.broadcast(worst)).select(
        "n_orders",
        "n_matching",
        "n_mismatched",
        "n_lineless_orders",
        "n_orphan_line_orders",
        "max_abs_diff_cents",
        F.col("wk").cast("long").alias("worst_order_key"),
    )


@register(
    "agg_hhi_market_concentration",
    "Herfindahl-Hirschman index per region — the antitrust-grade "
    "market-concentration number (sum of squared market shares, x "
    "10,000; the 1,500/2,500 DOJ thresholds): nation revenue within "
    "each region from exact integer cents, shares and HHI in doubles "
    "at the end, plus the effective number of competitors 1/sum(s^2) "
    "— the concentration family's structural complement to "
    "agg_gini_concentration's inequality and the Lorenz points. "
    "100 TB: one map-side-combinable (region, nation) agg; the HHI "
    "re-agg runs on a dimension-bounded frame.",
    oracle="""
      WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
      ),
      tot AS (
        SELECT region, sum(cents)::BIGINT AS rtotal FROM rev GROUP BY 1
      )
      SELECT rev.region,
             count(*)::BIGINT AS n_nations,
             round(sum((rev.cents::DOUBLE / tot.rtotal)
                       * (rev.cents::DOUBLE / tot.rtotal)) * 10000, 6)
               AS hhi,
             round(1.0 / sum((rev.cents::DOUBLE / tot.rtotal)
                             * (rev.cents::DOUBLE / tot.rtotal)), 6)
               AS effective_competitors
      FROM rev JOIN tot USING (region)
      GROUP BY rev.region
      ORDER BY rev.region
    """,
)
def agg_hhi_market_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    rev = (
        o.join(
            c.select("c_custkey", "c_nationkey"),
            o.o_custkey == c.c_custkey,
        )
        .join(
            F.broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(r.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.expr(
                "sum(cast(round(o_totalprice * 100) as bigint))"
            ).alias("cents")
        )
        .persist()  # dimension-bounded; feeds totals AND the HHI agg
    )
    tot = rev.groupBy("region").agg(F.sum("cents").alias("rtotal"))
    share = F.col("cents").cast("double") / F.col("rtotal")
    return (
        rev.join(F.broadcast(tot), "region")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.round(F.sum(share * share) * 10000, 6).alias("hhi"),
            F.round(1.0 / F.sum(share * share), 6).alias(
                "effective_competitors"
            ),
        )
        .orderBy("region")
    )


_RW_DAYS = 7


@register(
    "sketch_hll_rolling_window_distinct",
    f"ROLLING {_RW_DAYS}-day distinct users via mergeable HLL "
    "registers — the problem exact distinct counting cannot do at "
    "scale without re-scanning each window (distinct is not "
    "decomposable; sliding windows overlap): per-DAY register banks "
    "(bounded: <= m rows per day regardless of events) merge by "
    "max(rho) across each day's trailing window, so every window's "
    "estimate costs |window| * m register rows instead of a pass "
    "over raw events. CROSS-ENGINE md5 kernel (the "
    "sketch_hll_md5_distinct constants), so the per-day estimates "
    "are value-hash exact; the EXACT rolling distinct rides along "
    "for the realized per-day error. 100 TB: events reduce to "
    "(day, bucket, max rho) once; the window merge is a range join "
    "over the days x m register frame — span-bounded, never "
    "event-bounded (the exact twin's user-day range join is the "
    "cost this sketch exists to avoid).",
    oracle=f"""
      WITH du AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
               user_id
        FROM events
      ),
      h AS (
        SELECT day, user_id,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM du
      ),
      regs AS (
        SELECT day, hv % {HLL_M} AS bucket,
               max(CASE WHEN (hv >> {HLL_B}) > 0
                   THEN 53 - length(bin(hv >> {HLL_B}))
                   ELSE 53 END) AS r
        FROM h GROUP BY 1, 2
      ),
      spine AS (SELECT DISTINCT day FROM du),
      merged AS (
        SELECT s.day, rg.bucket, max(rg.r) AS r
        FROM spine s JOIN regs rg
          ON rg.day BETWEEN s.day - {_RW_DAYS - 1} AND s.day
        GROUP BY s.day, rg.bucket
      ),
      est AS (
        SELECT day, count(*) AS n_regs,
               sum(1.0 / (1::BIGINT << r)) AS s_present
        FROM merged GROUP BY day
      ),
      exact AS (
        SELECT s.day, count(DISTINCT d.user_id)::BIGINT AS exact_distinct
        FROM spine s JOIN du d
          ON d.day BETWEEN s.day - {_RW_DAYS - 1} AND s.day
        GROUP BY s.day
      )
      SELECT e.day::BIGINT AS day,
             x.exact_distinct,
             round(CASE WHEN {HLL_ALPHA_M2}
                             / (e.s_present + ({HLL_M} - e.n_regs))
                             <= 2.5 * {HLL_M}
                         AND e.n_regs < {HLL_M}
                        THEN {HLL_M}
                             * ln({HLL_M}::DOUBLE / ({HLL_M} - e.n_regs))
                        ELSE {HLL_ALPHA_M2}
                             / (e.s_present + ({HLL_M} - e.n_regs))
                   END, 2) AS hll_estimate
      FROM est e JOIN exact x ON e.day = x.day
      ORDER BY day
    """,
)
def sketch_hll_rolling_window_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # du feeds BOTH the HLL register build and the exact range-join
    # twin — two independent subtrees in one action re-run the events
    # scan + distinct without a fence (FLOOR_r11); eager checkpoint,
    # not persist (capture-session leak trap). |days x users|-bounded.
    du = ev.selectExpr(
        "unix_micros(ts) div 86400000000 as day", "user_id"
    ).distinct().localCheckpoint(eager=True)
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.shiftright(hv, HLL_B)
    # single-reference rho (see stats.sketch_hll_md5): avoids
    # the 3x md5 CollapseProject inline; identical integers
    rho = F.lit(54) - F.length(F.bin(F.shiftleft(w, 1) + 1))
    regs = (
        du.select("day", (hv % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("r"))
        .localCheckpoint()  # days x m rows; feeds spine + range join
    )
    spine = regs.select("day").distinct().select(F.col("day").alias("d"))
    merged = (
        spine.join(
            F.broadcast(regs),
            (F.col("day") >= F.col("d") - (_RW_DAYS - 1))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d", "bucket")
        .agg(F.max("r").alias("r"))
    )
    est = merged.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(F.expr("1.0 / shiftleft(cast(1 as bigint), r)")).alias(
            "s_present"
        ),
    )
    raw = F.lit(float(HLL_ALPHA_M2)) / (
        F.col("s_present") + (HLL_M - F.col("n_regs"))
    )
    small = (raw <= 2.5 * HLL_M) & (F.col("n_regs") < HLL_M)
    linear = HLL_M * F.log(
        F.lit(float(HLL_M)) / (HLL_M - F.col("n_regs"))
    )
    exact = (
        spine.join(
            du,
            (F.col("day") >= F.col("d") - (_RW_DAYS - 1))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
    )
    return (
        est.join(exact, "d")
        .select(
            F.col("d").cast("long").alias("day"),
            "exact_distinct",
            F.round(F.when(small, linear).otherwise(raw), 2).alias(
                "hll_estimate"
            ),
        )
        .orderBy("day")
    )
