"""Helpers shared by more than one inventory family: table loading, the
tokenizers on both engines, and constants whose oracle and Spark sides
must agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.session import tune_for_engine
from scout_spark.sources import load_table
from scout_spark.sources.tables import shared_frame, source_key


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_for_engine(spark)
    return load_table(spark, sf_dir, name)


def wide_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``table`` + ``widen_if_narrow`` — for PER-ROW-HEAVY kernels (pandas
    UDF signatures, JSON parsing, wide scoring expression trees) whose
    cost is row compute, not scan/shuffle. Single-row-group bench files
    arrive as ONE input partition and would serialize the kernel on one
    core; a 100 TB scan has thousands of splits and passes through
    untouched (the gate is the actual partition count)."""
    from scout_spark.sources.tables import widen_if_narrow

    return widen_if_narrow(table(spark, sf_dir, name))


# the corpus tokenizer: maximal lowercase [a-z0-9] runs. Oracle SQL
# strings spell the same regex inline.
TOK = "[a-z0-9]+"


def lower_tokens(text: Column) -> Column:
    return F.regexp_extract_all(F.lower(text), F.lit(TOK), 0)


# DuckDB rendering of canon_ascii (scout's gaz.canon, 000_init.sql:5-11,
# pinned to ASCII so RE2 and Java regex agree bit-for-bit).
def canon_sql(col: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower(coalesce({col}, '')),"
        " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def tokens_sql(col: str) -> str:
    return f"list_filter(string_split({canon_sql(col)}, ' '), x -> x <> '')"


def tokens_col(c) -> F.Column:
    # one codegen regex pass == canon_ascii + split + drop-empties
    # (maximal [a-z0-9] runs); the HOF-filter form ran interpreted and
    # cost 29× on token-heavy plans (12M-token explode: 5.0s -> 0.17s)
    return lower_tokens(F.coalesce(c, F.lit("")))


def md5_32(s: Column) -> Column:
    """32-bit int from the first 8 hex chars of md5 — reproducible in
    DuckDB as ('0x'||substr(md5(s),1,8))::BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


# Shared recursive-CTE body: documents -> blocked-Jaccard pairs ->
# symmetric edges -> transitive reach. Both CC-family oracles read
# this one string, so the pair predicate cannot diverge.
CC_REACH_CTES = f"""d AS (
        SELECT doc_id, lang, n_chars // 50 AS bkt,
               list_distinct({tokens_sql("text")}) AS toks
        FROM documents
      ),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
              >= 0.8
      ),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
      ),
      reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
      )"""


def cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, component, keeper, is_duplicate) — SHARED engine-side dup
    components over the driver-green blocked-Jaccard pair predicate.
    dedup_groups_connected_components and the r11 keeper-policy audit
    both read this helper (and their oracles share CC_REACH_CTES), so
    the group semantics cannot diverge between entries (the r10
    keyframe-KPI shared-helper discipline)."""
    from scout_spark.operators.dedup import dedup_groups, jaccard_pairs

    d = wide_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        d,
        "doc_id",
        tokens_col(F.col("text")),
        {"lang": F.col("lang"), "bkt": (F.col("n_chars") / 50).cast("long")},
        0.8,
    )
    return dedup_groups(pairs)


# fastText-like linear quality filter: fixed public weights over cheap
# lexical features (the shape of CCNet's / Gopher's model-based stage,
# with a deterministic stand-in model since no trained weights ship
# with the repo). Feature math is integer/ratio-exact; exp/ln agree
# across engines well within the 6dp rounding.
QW = (-2.0, 3.0, 0.4, -6.0, 0.35)  # bias, distinct_ratio, mean_len, digit, ln_n


QUERY_VEC_ID = 0


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, lang, source, tok) exploded token frame,
    shared by every corpus-token entry of the session: the perplexity,
    perplexity-decile and OOV entries each read it from 2+ jobs of one
    query (model/vocab broadcast build + probe scan share no exchange),
    so the corpus regex runs once instead of once per job."""

    def build() -> DataFrame:
        d = wide_table(spark, sf_dir, "documents")
        toks = lower_tokens(F.col("text"))
        return d.select("doc_id", "lang", "source", F.explode(toks).alias("tok"))

    return shared_frame(
        "doc_tokens", source_key(spark, sf_dir, "documents"), build
    )


# lat/lon from pure integer arithmetic on c_custkey: multiples of 1e-5
# degrees, exactly representable on the PBF 100-nanodegree grid, so the
# write→read round trip is lossless and both engines agree at 6dp.
LAT_MUL, LAT_MOD, LAT_SHIFT = 7919, 17_000_000, 85
LON_MUL, LON_MOD, LON_SHIFT = 104_729, 35_000_000, 175


HOUR_US = 3_600_000_000


GRAM_K = 8  # anchor gram width (tokens); every duplicated run of >= GRAM_K
# tokens contributes run_len-GRAM_K+1 shared grams on ONE diagonal, so the
# diagonal-island scan below recovers the EXACT maximal run length —
# the relational form of sorted-k-gram-anchored suffix scanning.


def gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, p, g) word 8-gram occurrences, 1-based positions.

    Grams via arrays_zip of SHIFTED SLICES (O(1) refs to the token
    array per gram — CLAUDE.md CollapseProject rule), behind a
    repartition barrier so the tokenizing regex runs once per row, not
    once per slice reference."""
    d = (
        wide_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            lower_tokens(F.col("text")).alias("t"),
        )
        .repartition(max(spark.sparkContext.defaultParallelism, 8))
    )
    m = "greatest(size(t) - 7, 0)"
    zip8 = (
        "arrays_zip("
        + ", ".join(f"slice(t, {i}, {m})" for i in range(1, GRAM_K + 1))
        + ")"
    )
    cw = ", ".join(f"s['{i}']" for i in range(GRAM_K))
    return d.select(
        "doc_id", F.posexplode(F.expr(zip8)).alias("pos0", "s")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("p"),
        F.expr(f"concat_ws(' ', {cw})").alias("g"),
    )


GRAM_SQL = f"""
      t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{TOK}') AS toks
        FROM documents
      ),
      g AS (
        SELECT doc_id, ue.i AS p,
               array_to_string(toks[ue.i:ue.i+7], ' ') AS g
        FROM t, LATERAL unnest(
          range(1, greatest(len(toks) - 6, 1)::BIGINT)) ue(i)
      )
"""
