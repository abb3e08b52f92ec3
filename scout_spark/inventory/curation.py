"""Training-data curation: quality signals and filters, PII scrubbing,
sampling and mixture rebalancing, packing, source-mix reports and the
end-to-end curate pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scout_spark.inventory import register
from scout_spark.inventory.common import (
    CC_REACH_CTES,
    GRAM_SQL,
    QW,
    TOK,
    cc_components,
    doc_tokens,
    gram_frame,
    lower_tokens,
    md5_32,
    table,
    tokens_sql,
    wide_table,
)


# Deterministic sampling / splitting operators for training-data
# pipelines, plus TPC-H Q16 (the last of the 22 classic shapes).
#
# Random `TABLESAMPLE` / `df.sample()` is not reproducible across engines
# (different PRNGs), so every operator here derives its "randomness" from
# a Knuth multiplicative hash of the row key — pure int64 arithmetic that
# DuckDB and Spark evaluate bit-identically. At 100 TB this matters
# beyond testability: deterministic key-hash sampling is restartable,
# auditable (a row's split never changes run-to-run), needs no shuffle
# (row-local predicate), and composes with incremental ingest (new rows
# hash into strata without resampling old ones).

# Knuth's multiplicative constant; doc_id*KNUTH stays well inside int64
# for the testdata id range, and both engines wrap/compare identically.
_KNUTH = 2654435761


@register(
    "sample_stratified_deterministic",
    "Stratified deterministic downsample of documents: per-language "
    "keep-rates (percent out of 100) applied via a Knuth-hash bucket of "
    "doc_id — a row-local predicate (no shuffle, fully pushable), "
    "reproducible across engines and incremental loads. Returns "
    "per-stratum kept counts for verification.",
    oracle=f"""
      SELECT lang, count(*) AS kept,
             round(avg(n_chars), 6) AS avg_chars
      FROM (
        SELECT lang, n_chars,
               (doc_id * {_KNUTH}) % 100 AS bucket
        FROM documents
      )
      WHERE bucket < (CASE WHEN lang = 'en' THEN 10
                           WHEN lang = 'de' THEN 25
                           ELSE 50 END)
      GROUP BY lang
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(_KNUTH)) % 100
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "de", 25)
        .otherwise(50)
    )
    return (
        d.where(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("kept"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@register(
    "sample_train_test_split",
    "Deterministic train/val/test split (80/10/10) of documents by "
    "Knuth-hash bucket of doc_id — every row's split assignment is a "
    "pure function of its key (stable under reruns, appends, and "
    "repartitioning; no shuffle to assign). Emits per-split per-source "
    "counts, the shape a dataset card reports.",
    oracle=f"""
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
             source, count(*) AS n_docs
      FROM (SELECT source, (doc_id * {_KNUTH}) % 100 AS bucket
            FROM documents)
      GROUP BY 1, 2
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * F.lit(_KNUTH)) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split"), F.col("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@register(
    "sample_k_per_group",
    "Deterministic k-per-stratum sample: rank rows inside each "
    "(lang, source) stratum by Knuth-hashed key and keep the first 3 — "
    "the reproducible analogue of reservoir sampling (one shuffle on "
    "the stratum key; rank tie-broken by doc_id so output is unique).",
    oracle=f"""
      SELECT lang, source, doc_id, n_chars
      FROM (
        SELECT lang, source, doc_id, n_chars,
               row_number() OVER (
                 PARTITION BY lang, source
                 ORDER BY (doc_id * {_KNUTH}) % 1000000007, doc_id
               ) AS rk
        FROM documents
      )
      WHERE rk <= 3
    """,
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    key = (F.col("doc_id") * F.lit(_KNUTH)) % 1000000007
    w = Window.partitionBy("lang", "source").orderBy(key, F.col("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("lang", "source", "doc_id", "n_chars")
    )


# Training-data curation operators beyond the reference's surface
# (build brief: first-class pipeline components): Gopher-style repetition
# quality signals, C4-style PII redaction, DSIR-flavored importance
# sampling, and concat-then-chunk sequence packing.
#
# All four are fully oracle-expressible: ASCII regex classes behave
# identically in Java and DuckDB RE2; deterministic randomness uses the
# md5-prefix trick shared with common.md5_32; packing uses integer ROWS
# window sums (exact, no FP-order hazard).

# C4/CCNet-style scrub patterns, ASCII-restricted so Java and RE2
# dialects agree byte-for-byte. Applied email -> phone -> ip on the
# running result; counts are taken on the original text.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
_PII_IP = r"([0-9]{1,3}\.){3}[0-9]{1,3}"

_PACK_CAPACITY = 2048  # tokens per training sequence
_PACK_SHARDS = 16
# Curate barrier gate: apply the tokenize repartition barrier only
# above this many documents (r12 A/B: the crossover sits between 5k
# docs — no-barrier 1.34 s vs barrier 1.67 s — and 50k docs — barrier
# 3.51 s vs no-barrier 4.89 s).
_CURATE_BARRIER_ROWS = 20_000

_IMP_TARGET = ("spark", "stream", "query", "vector", "join")


@register(
    "quality_repetition_signals",
    "Gopher-style repetition quality signals (Rae et al. 2021, §A1.1): "
    "distinct-token ratio, most-frequent-bigram fraction, and the "
    "fraction of bigram occurrences that are repeats. Spark side is the "
    "canonical distributed shape — explode bigrams, two-level groupBy "
    "with map-side partial agg (no per-row O(n²) HOF work, per "
    "CLAUDE.md perf rules); scale-safe at 100 TB because the shuffle "
    "key is doc_id.",
    oracle=f"""
      WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOK}') AS toks
        FROM documents
      ),
      ts AS (
        SELECT doc_id, len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct, toks
        FROM t
      ),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM ts WHERE len(toks) >= 2
      ),
      bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
      bs AS (
        SELECT doc_id, max(c) AS max_c, sum(c) AS total,
               coalesce(sum(c) FILTER (c > 1), 0) AS rep
        FROM bc GROUP BY 1
      )
      SELECT ts.doc_id, n_tokens,
             round(n_distinct::DOUBLE / nullif(n_tokens, 0), 6)
               AS distinct_ratio,
             round(max_c::DOUBLE / total, 6) AS top_bigram_frac,
             round(rep::DOUBLE / total, 6) AS repeated_bigram_frac
      FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
    """,
)
def quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    base = d.select("doc_id", toks.alias("toks"))
    tok_stats = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    # guard: F.sequence(1, 0) would generate a DESCENDING [1, 0]
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
            ),
        ),
    )
    bg_counts = (
        base.where(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg_stats = bg_counts.groupBy("doc_id").agg(
        F.max("c").alias("max_c"),
        F.sum("c").alias("total"),
        F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)).alias(
            "rep"
        ),
    )
    return tok_stats.join(bg_stats, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round(
            F.try_divide(F.col("n_distinct").cast("double"), F.col("n_tokens")),
            6,
        ).alias("distinct_ratio"),
        F.round(
            F.try_divide(F.col("max_c").cast("double"), F.col("total")), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.try_divide(F.col("rep").cast("double"), F.col("total")), 6
        ).alias("repeated_bigram_frac"),
    )


def _pii_sql(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace(regexp_replace({expr}, "
        f"'{_PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{_PII_PHONE}', '<PHONE>', 'g'), "
        f"'{_PII_IP}', '<IP>', 'g')"
    )


@register(
    "pii_redaction_scrub",
    "C4/CCNet-style PII scrub (email / phone / IPv4 redaction with "
    "per-kind counts). The synthetic corpus carries no PII, so the "
    "fixture deterministically injects addresses derived from doc_id "
    "into a subset of docs — the operator under test is the scrub "
    "kernel (sequential regexp_replace passes + count extraction), "
    "identical ASCII patterns on both engines. First 200 docs by id.",
    oracle=f"""
      WITH w AS (
        SELECT doc_id,
               text ||
               CASE WHEN doc_id % 3 = 0
                    THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
               CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END ||
               CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.1.42' ELSE '' END
                 AS raw
        FROM documents ORDER BY doc_id LIMIT 200
      )
      SELECT doc_id,
             len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS n_emails,
             len(regexp_extract_all(raw, '{_PII_PHONE}')) AS n_phones,
             len(regexp_extract_all(raw, '{_PII_IP}')) AS n_ips,
             {_pii_sql('raw')} AS scrubbed
      FROM w ORDER BY doc_id
    """,
)
def pii_redaction_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-123-4567")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" from 192.168.1.42")).otherwise(
            F.lit("")
        ),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return (
        d.orderBy("doc_id")
        .limit(200)
        .select("doc_id", raw.alias("raw"))
        .select(
            "doc_id",
            F.size(F.regexp_extract_all("raw", F.lit(_PII_EMAIL), 0)).alias(
                "n_emails"
            ),
            F.size(F.regexp_extract_all("raw", F.lit(_PII_PHONE), 0)).alias(
                "n_phones"
            ),
            F.size(F.regexp_extract_all("raw", F.lit(_PII_IP), 0)).alias(
                "n_ips"
            ),
            scrubbed.alias("scrubbed"),
        )
        .orderBy("doc_id")
    )


@register(
    "sample_importance_weighted",
    "DSIR-flavored importance sampling (Xie et al. 2023): per-doc "
    "acceptance probability from target-vocabulary token overlap, "
    "accepted via a deterministic md5-uniform draw — row-local, no "
    "shuffle to assign, exactly reproducible across engines and at any "
    "cluster size (no RNG state, unlike sample()/rand()).",
    oracle=f"""
      WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{TOK}') AS toks,
               ('0x' || substr(md5(doc_id::VARCHAR || ':imp'), 1, 8))::BIGINT
                 AS draw
        FROM documents
      ),
      s AS (
        SELECT doc_id, draw, len(toks) AS n_tokens,
               len(list_filter(toks, x -> x IN {repr(tuple(_IMP_TARGET))}))
                 AS n_target
        FROM t
      )
      SELECT doc_id,
             round(least(1.0, 0.1 + 2.0 * (n_target::DOUBLE
                                           / nullif(n_tokens, 0))), 6) AS p,
             n_target, n_tokens
      FROM s
      WHERE draw / 4294967296.0
            < least(1.0, 0.1 + 2.0 * (n_target::DOUBLE / nullif(n_tokens, 0)))
    """,
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    target = F.array(*[F.lit(t) for t in _IMP_TARGET])

    def _in_target(x):
        return F.array_contains(target, x)

    s = d.select(
        "doc_id",
        md5_32(F.concat(F.col("doc_id").cast("string"), F.lit(":imp"))).alias(
            "draw"
        ),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, _in_target)).alias("n_target"),
    )
    p = F.least(
        F.lit(1.0),
        F.lit(0.1)
        + F.lit(2.0)
        * F.try_divide(F.col("n_target").cast("double"), F.col("n_tokens")),
    )
    return s.where(F.col("draw") / F.lit(4294967296.0) < p).select(
        "doc_id", F.round(p, 6).alias("p"), "n_target", "n_tokens"
    )


@register(
    "pack_chunks_training",
    "Concat-then-chunk sequence packing for LLM training: docs stream "
    "in deterministic (lang, shard, doc_id) order, token counts "
    "accumulate, and each doc lands at (chunk_id, tok_offset) in "
    f"{_PACK_CAPACITY}-token training sequences. The md5 shard key "
    f"({_PACK_SHARDS} shards per lang) keeps the window partitions "
    "bounded at 100 TB — a per-lang global cumsum would be a "
    "single-partition sort. Integer ROWS-frame sums: exact, no FP-order "
    "hazard.",
    oracle=f"""
      WITH t AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                 % {_PACK_SHARDS} AS shard,
               len(regexp_extract_all(lower(text), '{TOK}')) AS n_tok
        FROM documents
      )
      SELECT doc_id, lang, shard, n_tok,
             (coalesce(sum(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_PACK_CAPACITY})::BIGINT AS chunk_id,
             (coalesce(sum(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               % {_PACK_CAPACITY})::BIGINT AS tok_offset
      FROM t
    """,
)
def pack_chunks_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    t = d.select(
        "doc_id",
        "lang",
        (md5_32(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias("shard"),
        F.size(toks).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return t.select(
        "doc_id",
        "lang",
        "shard",
        "n_tok",
        F.floor(cum_before / _PACK_CAPACITY).alias("chunk_id"),
        (cum_before % _PACK_CAPACITY).alias("tok_offset"),
    )


@register(
    "quality_model_score",
    "Model-based quality scoring: logistic scorer over lexical features "
    "(distinct-token ratio, mean token length, digit fraction, "
    "log-length) — the CCNet/fastText-style filtering stage as pure "
    "Column math (JVM codegen, no UDF). Weights are fixed constants; "
    "score and keep-decision are reproducible on both engines.",
    oracle=f"""
      WITH t AS (
        SELECT doc_id, text,
               regexp_extract_all(lower(text), '{TOK}') AS toks
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
               ln(len(toks) + 1) AS ln_n
        FROM t WHERE len(toks) > 0
      )
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-({QW[0]} + {QW[1]} * distinct_ratio
                   + {QW[2]} * mean_len + {QW[3]} * digit_frac
                   + {QW[4]} * ln_n))), 6) AS score,
             round(distinct_ratio, 6) AS distinct_ratio,
             round(mean_len, 6) AS mean_len
      FROM f
    """,
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    t = d.select("doc_id", "text", toks.alias("toks")).where(
        F.size("toks") > 0
    )

    def _len(x):
        return F.length(x)

    f = t.select(
        "doc_id",
        F.try_divide(
            F.size(F.array_distinct("toks")).cast("double"), F.size("toks")
        ).alias("distinct_ratio"),
        F.try_divide(
            F.aggregate(
                F.transform(F.col("toks"), _len), F.lit(0), lambda a, x: a + x
            ).cast("double"),
            F.size("toks"),
        ).alias("mean_len"),
        F.try_divide(
            F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double"),
            F.length("text"),
        ).alias("digit_frac"),
        F.log(F.size("toks") + F.lit(1)).alias("ln_n"),
    )
    z = (
        F.lit(QW[0])
        + F.lit(QW[1]) * F.col("distinct_ratio")
        + F.lit(QW[2]) * F.col("mean_len")
        + F.lit(QW[3]) * F.col("digit_frac")
        + F.lit(QW[4]) * F.col("ln_n")
    )
    return f.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("mean_len", 6).alias("mean_len"),
    )


@register(
    "sample_mixture_rebalance",
    "Dataset mixture rebalancing (The Pile / DoReMi-style): compute "
    "each language's corpus share, derive a per-lang acceptance "
    "probability p = min(1, 0.6 * target_share / actual_share), and "
    "accept docs via the md5-deterministic draw. The lang-stats "
    "aggregate is broadcast back onto the fact table (tiny dim — no "
    "second full shuffle); draws are row-local so assignment is "
    "embarrassingly parallel and replayable at any cluster size.",
    oracle=f"""
      WITH s AS (
        SELECT lang, count(*) AS n FROM documents GROUP BY lang
      ),
      tot AS (SELECT sum(n) AS total FROM s),
      p AS (
        SELECT lang,
               least(1.0, 0.6 * (CASE lang
                   WHEN 'en' THEN 0.5 ELSE 0.125 END)
                 / (n::DOUBLE / total)) AS p_accept
        FROM s, tot
      )
      SELECT d.doc_id, d.lang, round(p.p_accept, 6) AS p_accept
      FROM documents d JOIN p USING (lang)
      WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
            / 4294967296.0 < p.p_accept
    """,
)
def sample_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    total = stats.agg(F.sum("n").alias("total"))
    target = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(0.125))
    p = (
        stats.crossJoin(F.broadcast(total))
        .select(
            "lang",
            F.least(
                F.lit(1.0),
                F.lit(0.6)
                * target
                / (F.col("n").cast("double") / F.col("total")),
            ).alias("p_accept"),
        )
    )
    draw = md5_32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
    return (
        d.join(F.broadcast(p), "lang")
        .where(draw / F.lit(4294967296.0) < F.col("p_accept"))
        .select("doc_id", "lang", F.round("p_accept", 6).alias("p_accept"))
    )


def unigram_model(tok: DataFrame) -> DataFrame:
    """Per-lang unigram counts + totals — the model frame shared by the
    perplexity and perplexity-decile entries.

    Scale note for consumers that `F.broadcast` this frame: it is
    VOCABULARY-sized (Heaps' law — sublinear in corpus bytes but
    unbounded), so the hint holds only while the distinct (lang, tok)
    frame fits the broadcast budget; real LM stages also cap the vocab
    (top-k by count) before scoring. Past either bound, drop the hint:
    the token stream is already (lang, tok)-keyed and AQE falls back
    to a shuffle join with no extra exchange on the token side."""
    counts = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    return counts.withColumn(
        "total", F.sum("c").over(Window.partitionBy("lang"))
    )


@register(
    "quality_unigram_perplexity",
    "LM-based quality scoring, two-pass (the KenLM/CCNet stage shape "
    "with a transparent stand-in model): pass 1 trains a per-language "
    "unigram model over the corpus (explode + two-level groupBy with "
    "map-side combine); pass 2 scores every doc by mean negative "
    "log-probability and perplexity via a join of doc tokens against "
    "the model. The model table is vocabulary-sized — broadcast onto "
    "the token stream while it fits the broadcast budget (real LM "
    "stages cap the vocab); past that the hint drops and the join "
    "shuffles on (lang, tok) — never a fact-fact shuffle.",
    oracle=f"""
      WITH tok AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '{TOK}')) AS tok
        FROM documents
      ),
      model AS (
        SELECT lang, tok, count(*) AS c,
               sum(count(*)) OVER (PARTITION BY lang) AS total
        FROM tok GROUP BY lang, tok
      ),
      scored AS (
        SELECT t.doc_id, t.lang, -ln(m.c::DOUBLE / m.total) AS nlp
        FROM tok t JOIN model m ON t.lang = m.lang AND t.tok = m.tok
      )
      SELECT doc_id, lang, count(*) AS n_tokens,
             round(avg(nlp), 6) AS avg_neg_logp,
             round(exp(avg(nlp)), 6) AS perplexity
      FROM scored GROUP BY doc_id, lang
    """,
)
def quality_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = doc_tokens(spark, sf_dir)
    model = unigram_model(tok)
    # vocab-sized broadcast: flip condition documented on unigram_model
    scored = tok.join(F.broadcast(model), ["lang", "tok"]).select(
        "doc_id",
        "lang",
        (-F.log(F.col("c").cast("double") / F.col("total"))).alias("nlp"),
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logp"),
        F.round(F.exp(F.avg("nlp")), 6).alias("perplexity"),
    )


@register(
    "pipeline_curate_end_to_end",
    "The full curation pipeline as ONE composed query — what a training-"
    "data user actually runs: (1) model-based quality filter (logistic "
    "score >= 0.5), (2) exact dedup (min doc_id per md5(text) "
    "fingerprint), (3) mixture rebalancing acceptance (per-lang target "
    "share, md5-deterministic draw), (4) concat-then-chunk packing of "
    "the survivors into training sequences. Every stage reuses the "
    "already-hash-verified kernel; composing them exercises stage "
    "boundaries (the packing window runs over the FILTERED survivor "
    "set, so any upstream row diff cascades into every chunk_id). One "
    "shuffle per stage boundary that needs it: fingerprint groupBy, "
    "lang-stats broadcast, (lang, shard) window.",
    oracle=f"""
      WITH f AS (
        SELECT doc_id, lang, text,
               regexp_extract_all(lower(text), '{TOK}') AS toks
        FROM documents
      ),
      feat AS (
        SELECT doc_id, lang, text, len(toks) AS n_tok,
               len(list_distinct(toks))::DOUBLE / nullif(len(toks), 0)
                 AS distinct_ratio,
               list_sum(list_transform(toks, x -> len(x)))::DOUBLE
                 / nullif(len(toks), 0) AS mean_len,
               len(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                 / nullif(len(text), 0) AS digit_frac,
               ln(len(toks) + 1) AS ln_n
        FROM f WHERE len(toks) > 0
      ),
      q AS (
        SELECT *, 1.0 / (1.0 + exp(-({QW[0]} + {QW[1]} * distinct_ratio
               + {QW[2]} * mean_len + {QW[3]} * digit_frac
               + {QW[4]} * ln_n))) AS score
        FROM feat
      ),
      passed AS (SELECT * FROM q WHERE score >= 0.5),
      deduped AS (
        SELECT * FROM passed
        WHERE doc_id IN (
          SELECT min(doc_id) FROM passed GROUP BY md5(text)
        )
      ),
      langstats AS (
        SELECT lang, count(*) AS n, sum(count(*)) OVER () AS total
        FROM deduped GROUP BY lang
      ),
      mixed AS (
        SELECT d.*, least(1.0, 0.6 * (CASE d.lang WHEN 'en' THEN 0.5
                   ELSE 0.125 END) / (s.n::DOUBLE / s.total)) AS p_accept
        FROM deduped d JOIN langstats s ON d.lang = s.lang
      ),
      accepted AS (
        SELECT * FROM mixed
        WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':mix'), 1, 8))::BIGINT
              / 4294967296.0 < p_accept
      )
      SELECT doc_id, lang,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
               % {_PACK_SHARDS} AS shard,
             n_tok, round(score, 6) AS score,
             (coalesce(sum(n_tok) OVER (
               PARTITION BY lang, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {_PACK_SHARDS}
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_PACK_CAPACITY})::BIGINT AS chunk_id
      FROM accepted
    """,
)
def pipeline_curate_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    # r12: the single-scan fix. The eager checkpoint of the slim
    # `passed` frame below is now the fence that stops CollapseProject
    # from re-inlining the tokenize into the 4 consumer branches
    # (keeper self-join, lang stats, accept join, final window) — the
    # r11 repartition barrier alone left a 4-scan residual (the filter
    # pushdown re-inlined the regex under each branch's own documents
    # scan: optimized plan 37 regexp_extract_all over 6 scans, executed
    # 29 over 4 scans). With the checkpoint both counts are ZERO
    # downstream and the corpus is scanned ONCE (plus 4 cheap reads of
    # the checkpointed ~5-column survivor frame): AQE-off fresh build
    # 3.01 -> 1.34 s at sf0.1, 10.19 -> 3.5-4.2 s at a 10x local SF
    # (rows asserted identical at both SFs; plans/r12/).
    #
    # The barrier itself is now GATED (ADVICE r11 item 1): it shuffles
    # ~2x corpus bytes and only pays when the scan is narrower than the
    # executor (it redistributes the tokenize+feature stage onto all
    # cores: 10x-SF A/B with checkpoint, barrier 3.51 s vs no-barrier
    # 4.89 s) — while at bench SF the work is too small to repay the
    # shuffle (no-barrier 1.34 s vs barrier 1.67 s). Gate: footer row
    # count > _CURATE_BARRIER_ROWS AND scan narrower than
    # defaultParallelism. At real scale the scan has thousands of
    # splits >= defaultParallelism, so the barrier is a structural
    # no-op there — exactly the wide_table/widen_if_narrow discipline.
    from scout_spark.sources.tables import parquet_rows

    f = d.select("doc_id", "lang", "text", toks.alias("toks"))
    n_docs = parquet_rows(sf_dir, "documents")
    par = max(spark.sparkContext.defaultParallelism, 8)
    if (n_docs is None or n_docs > _CURATE_BARRIER_ROWS) and (
        d.rdd.getNumPartitions() < par
    ):
        f = f.repartition(par)
    f = f.where(F.size("toks") > 0)

    def _len(x):
        return F.length(x)

    feat = f.select(
        "doc_id",
        "lang",
        "text",
        F.size("toks").cast("long").alias("n_tok"),
        F.try_divide(
            F.size(F.array_distinct("toks")).cast("double"), F.size("toks")
        ).alias("distinct_ratio"),
        F.try_divide(
            F.aggregate(
                F.transform(F.col("toks"), _len), F.lit(0), lambda a, x: a + x
            ).cast("double"),
            F.size("toks"),
        ).alias("mean_len"),
        F.try_divide(
            F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double"),
            F.length("text"),
        ).alias("digit_frac"),
        F.log(F.size("toks") + F.lit(1)).alias("ln_n"),
    )
    z = (
        F.lit(QW[0])
        + F.lit(QW[1]) * F.col("distinct_ratio")
        + F.lit(QW[2]) * F.col("mean_len")
        + F.lit(QW[3]) * F.col("digit_frac")
        + F.lit(QW[4]) * F.col("ln_n")
    )
    passed = feat.withColumn(
        "score", F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    ).where(F.col("score") >= 0.5)
    # project before the fan-out (guide §2.3): the keeper self-join,
    # lang stats, accept join and final window only need these five
    # columns — computing md5(text) HERE and dropping text/features
    # keeps the 4 downstream branches off the wide rows (r11 fresh
    # AQE-off build: 9.47 s -> 2.82 s together with the tokenize
    # barrier above; results row-identical)
    passed = passed.select(
        "doc_id", "lang", "n_tok", "score", F.md5("text").alias("fp")
    )
    # EAGER checkpoint (r12): materializes the survivor frame once so
    # the 4 consumer branches read it instead of re-scanning documents
    # and re-running tokenize per branch (guide §2.4 — Spark has no
    # cross-job common-subexpression reuse). Eager, not lazy: a lazy
    # fence feeding multiple consumers races under AQE-off (the r10
    # lesson). The checkpointed frame is row-bounded by the corpus's
    # survivor set and ~5 narrow columns. Because the heavy work now
    # runs at BUILD time, the entry is in bench.py's E2E_REBUILD set.
    passed = passed.localCheckpoint()
    keepers = passed.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = passed.join(keepers.select("doc_id"), "doc_id")
    stats = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    total = stats.agg(F.sum("n").alias("total"))
    target = F.when(F.col("lang") == "en", F.lit(0.5)).otherwise(F.lit(0.125))
    p = stats.crossJoin(F.broadcast(total)).select(
        "lang",
        F.least(
            F.lit(1.0),
            F.lit(0.6) * target / (F.col("n").cast("double") / F.col("total")),
        ).alias("p_accept"),
    )
    draw = md5_32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
    accepted = deduped.join(F.broadcast(p), "lang").where(
        draw / F.lit(4294967296.0) < F.col("p_accept")
    )
    shard = (md5_32(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias(
        "shard"
    )
    with_shard = accepted.select(
        "doc_id", "lang", shard, "n_tok", F.round("score", 6).alias("score")
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return with_shard.select(
        "doc_id",
        "lang",
        "shard",
        "n_tok",
        "score",
        F.floor(cum / _PACK_CAPACITY).alias("chunk_id"),
    )


@register(
    "quality_constraint_report",
    "Deequ-style data-validation report as one query: uniqueness "
    "(customer PK), referential integrity (orders -> customer, "
    "anti-join orphan count), domain range (lineitem quantity), and "
    "completeness (acctbal null fraction) — each constraint one "
    "aggregate/anti-join pass, unioned into (constraint, observed, "
    "passed). The validation suite a 100 TB ingest runs before "
    "promoting a snapshot; every check is a map-side-combined agg or "
    "broadcast-able anti-join, no full-table collect anywhere.",
    oracle="""
      SELECT 'customer_pk_unique' AS constraint_name,
             (count(*) - count(DISTINCT c_custkey))::VARCHAR AS observed,
             count(*) = count(DISTINCT c_custkey) AS passed
      FROM customer
      UNION ALL
      SELECT 'orders_customer_fk',
             count(*)::VARCHAR,
             count(*) = 0
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
      UNION ALL
      SELECT 'lineitem_qty_domain',
             count(*) FILTER (l_quantity < 1 OR l_quantity > 50)::VARCHAR,
             count(*) FILTER (l_quantity < 1 OR l_quantity > 50) = 0
      FROM lineitem
      UNION ALL
      SELECT 'customer_acctbal_complete',
             round(1.0 - count(c_acctbal)::DOUBLE / count(*), 6)::VARCHAR,
             count(c_acctbal) = count(*)
      FROM customer
    """,
)
def quality_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    pk = c.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("dups"),
    ).select(
        F.lit("customer_pk_unique").alias("constraint_name"),
        F.col("dups").cast("string").alias("observed"),
        (F.col("dups") == 0).alias("passed"),
    )
    orphans = (
        o.join(F.broadcast(c.select("c_custkey")),
               o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("orders_customer_fk").alias("constraint_name"),
            F.col("n").cast("string").alias("observed"),
            (F.col("n") == 0).alias("passed"),
        )
    )
    qty = li.agg(
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("bad")
    ).select(
        F.lit("lineitem_qty_domain").alias("constraint_name"),
        F.col("bad").cast("string").alias("observed"),
        (F.col("bad") == 0).alias("passed"),
    )
    complete = c.agg(
        F.count("c_acctbal").alias("nn"), F.count(F.lit(1)).alias("n")
    ).select(
        F.lit("customer_acctbal_complete").alias("constraint_name"),
        F.round(
            F.lit(1.0) - F.col("nn").cast("double") / F.col("n"), 6
        ).cast("string").alias("observed"),
        (F.col("nn") == F.col("n")).alias("passed"),
    )
    return pk.unionAll(orphans).unionAll(qty).unionAll(complete)


@register(
    "quality_outlier_mad",
    "Robust per-group outlier detection: median absolute deviation of "
    "document length per language, flagging docs beyond 2 MADs. Two "
    "tiny per-lang aggregates (exact interpolated medians — Spark "
    "percentile ≙ DuckDB quantile_cont) broadcast back onto the scan; "
    "the corpus-side work is two joinless passes. At 100 TB the exact "
    "median swaps for percentile_approx with the same plan shape.",
    oracle="""
      WITH med AS (
        SELECT lang, quantile_cont(n_chars, 0.50) AS med
        FROM documents GROUP BY lang
      ),
      mad AS (
        SELECT d.lang, any_value(m.med) AS med,
               quantile_cont(abs(d.n_chars - m.med), 0.50) AS mad
        FROM documents d JOIN med m ON d.lang = m.lang
        GROUP BY d.lang
      )
      SELECT d.doc_id, d.lang, d.n_chars,
             round(abs(d.n_chars - s.med) / nullif(s.mad, 0), 4) AS n_mads
      FROM documents d JOIN mad s ON d.lang = s.lang
      WHERE abs(d.n_chars - s.med) > 2 * s.mad
    """,
)
def quality_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.50)).alias("med")
    )
    dev = d.join(F.broadcast(med), "lang").select(
        "lang", "med", F.abs(F.col("n_chars") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("lang").agg(
        F.any_value("med").alias("med"),
        F.percentile("adev", F.lit(0.50)).alias("mad"),
    )
    return (
        d.join(F.broadcast(mad), "lang")
        .where(F.abs(F.col("n_chars") - F.col("med")) > 2 * F.col("mad"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(
                F.try_divide(
                    F.abs(F.col("n_chars") - F.col("med")),
                    F.nullif(F.col("mad"), F.lit(0.0)),
                ),
                4,
            ).alias("n_mads"),
        )
    )


@register(
    "mixture_temperature_resample",
    "Temperature-style mixture rebalance (the XLM-R/mT5 multilingual-"
    "pretraining recipe, alpha=0.5: downsample head languages toward "
    "sqrt-scaled weights so the rarest language's share rises without "
    "upsampling; sibling of quality_ops::sample_mixture_rebalance, "
    "which targets a FIXED mix — here the weights derive from the "
    "corpus itself): per-lang "
    "keep-threshold 100·sqrt(min_count/count) applied via the Knuth "
    "multiplicative hash bucket of doc_id — a row-local, fully "
    "pushable predicate, reproducible across engines/reruns/appends. "
    "Cross-engine FP safety: the threshold uses only IEEE "
    "exactly-rounded ops (÷, sqrt, ×), so both engines compute the "
    "bit-identical double and the bucket comparison can never "
    "boundary-flip.",
    oracle=f"""
      WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
      m AS (SELECT min(n_before) AS mn FROM c),
      r AS (
        SELECT lang, n_before,
               100.0 * sqrt(mn::DOUBLE / n_before) AS thr
        FROM c, m
      ),
      k AS (
        SELECT d.lang, count(*) AS n_kept
        FROM documents d JOIN r ON d.lang = r.lang
        WHERE (d.doc_id * {_KNUTH}) % 100 < r.thr
        GROUP BY d.lang
      )
      SELECT r.lang, r.n_before,
             coalesce(k.n_kept, 0) AS n_kept,
             round(r.thr, 6) AS keep_thr
      FROM r LEFT JOIN k ON r.lang = k.lang
      ORDER BY r.lang
    """,
)
def mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    mn = cnt.agg(F.min("n_before").alias("mn"))
    rates = cnt.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_before",
        (
            F.lit(100.0)
            * F.sqrt(F.col("mn").cast("double") / F.col("n_before"))
        ).alias("thr"),
    )
    kept = (
        d.join(F.broadcast(rates), "lang")
        .where((F.col("doc_id") * F.lit(_KNUTH)) % 100 < F.col("thr"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.round(F.col("thr"), 6).alias("keep_thr"),
        )
        .orderBy("lang")
    )


@register(
    "quality_length_percentile_filter",
    "Percentile-band length filter — the 'drop the freakishly short "
    "and long tails' pass of every corpus-curation recipe, with the "
    "cut set PER LANGUAGE so high-resource languages don't set the "
    "thresholds for low-resource ones: percent_rank over n_chars "
    "within lang, keep the [0.05, 0.95] band. percent_rank is pure "
    "integer rank arithmetic ((rank-1)/(n-1): bit-identical across "
    "engines, tie rows get equal rank in both). One window shuffle on "
    "lang + one tiny aggregate.",
    oracle="""
      WITH ranked AS (
        SELECT lang, n_chars,
               percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
        FROM documents
      )
      SELECT lang,
             count(*) AS n_before,
             sum(CASE WHEN pr >= 0.05 AND pr <= 0.95 THEN 1 ELSE 0 END)::BIGINT
               AS n_kept,
             min(CASE WHEN pr >= 0.05 AND pr <= 0.95 THEN n_chars END)
               AS min_kept_chars,
             max(CASE WHEN pr >= 0.05 AND pr <= 0.95 THEN n_chars END)
               AS max_kept_chars
      FROM ranked GROUP BY lang ORDER BY lang
    """,
)
def quality_length_percentile_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars")
    keep = (F.col("pr") >= 0.05) & (F.col("pr") <= 0.95)
    ranked = d.select("lang", "n_chars", F.percent_rank().over(w).alias("pr"))
    return (
        ranked.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.min(F.when(keep, F.col("n_chars"))).alias("min_kept_chars"),
            F.max(F.when(keep, F.col("n_chars"))).alias("max_kept_chars"),
        )
        .orderBy("lang")
    )


@register(
    "sample_weighted_priority",
    "Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES "
    "priority sampling): each order gets key -ln(u)/w with weight "
    "w = o_totalprice and u a DETERMINISTIC uniform from the md5 of "
    "its key (the hash_parity.py cross-engine pattern) — the k "
    "smallest keys are an exact weighted sample, reproducible across "
    "engines, reruns, and appends, and computable as a distributed "
    "top-k (TakeOrderedAndProject) with no RNG state and no shuffle "
    "beyond the final k-row merge.",
    oracle="""
      SELECT o_orderkey, o_totalprice
      FROM (
        SELECT o_orderkey, o_totalprice,
               round(-ln((('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT
                    + 1.0) / 4294967296.0) / o_totalprice, 10) AS k
        FROM orders
      )
      ORDER BY k, o_orderkey
      LIMIT 100
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1.0)) / F.lit(4294967296.0)
    # rank key rounded to 10dp: ln() is only ~1-ulp accurate and the
    # engines' libm may disagree in the last bit — rounding far above
    # ulp scale but far below key resolution (~1e-4) makes the LIMIT
    # boundary cross-engine deterministic (tie-break already present)
    key = F.round(-F.log(u) / F.col("o_totalprice"), 10)
    return (
        o.select("o_orderkey", "o_totalprice", key.alias("k"))
        .orderBy("k", "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "quality_perplexity_decile_mix",
    "Corpus composition by perplexity decile — the 'how much of my "
    "data is how surprising' report that drives perplexity-filtered "
    "mixes (CCNet recipe): per-lang unigram neg-logp per doc "
    "(quality_unigram_perplexity's model), docs ranked into ntile(10) "
    "deciles over the ROUNDED score (6dp, doc_id tie-break — the "
    "rank key is cross-engine ULP-stable), then per-decile count, "
    "mean perplexity, and share of total tokens.",
    oracle=f"""
      WITH tok AS (
        SELECT doc_id, lang, unnest({tokens_sql("text")}) AS tok
        FROM documents
      ),
      model AS (
        SELECT lang, tok, count(*) AS c,
               sum(count(*)) OVER (PARTITION BY lang) AS total
        FROM tok GROUP BY lang, tok
      ),
      scored AS (
        SELECT t.doc_id,
               count(*) AS n_tokens,
               round(avg(-ln(m.c::DOUBLE / m.total)), 6) AS avg_nlp
        FROM tok t JOIN model m ON t.lang = m.lang AND t.tok = m.tok
        GROUP BY t.doc_id
      ),
      ranked AS (
        SELECT *, ntile(10) OVER (ORDER BY avg_nlp, doc_id) AS decile
        FROM scored
      )
      SELECT decile,
             count(*) AS n_docs,
             round(avg(exp(avg_nlp)), 6) AS mean_perplexity,
             sum(n_tokens)::BIGINT AS n_tokens
      FROM ranked GROUP BY decile ORDER BY decile
    """,
)
def quality_perplexity_decile_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # shared persisted token frame + model helper (common): the
    # model-broadcast build and the probe scan are separate jobs with
    # no shared exchange, so without the persist the corpus regex
    # tokenization would execute twice per run

    tok = doc_tokens(spark, sf_dir).select("doc_id", "lang", "tok")
    model = unigram_model(tok)
    scored = (
        # vocab-sized broadcast: flip condition documented on unigram_model
        tok.join(F.broadcast(model), ["lang", "tok"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("total"))), 6
            ).alias("avg_nlp"),
        )
    )
    # exact distributed ntile (operators/rank.py): range-shuffle +
    # per-partition row_number + broadcast offsets — same bucket
    # assignment as the oracle's single ntile window, but no
    # single-partition WindowExec funnel at corpus scale
    from scout_spark.operators.rank import global_ntile

    ranked = global_ntile(
        scored, ["avg_nlp", "doc_id"], 10, out="decile"
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.exp("avg_nlp")), 6).alias("mean_perplexity"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------- bigram LM perplexity


@register(
    "quality_bigram_lm_perplexity",
    "Bigram language-model perplexity per document, trained on the "
    "corpus itself with add-one smoothing: p(w2|w1) = (c(w1,w2)+1) / "
    "(c(w1,*)+V) — the n-gram-LM quality score (KenLM-style, one "
    "order up from quality_unigram_perplexity) that separates fluent "
    "text from keyword soup. Bigrams via one lead() window over "
    "positions; corpus counts are two map-side-combined aggs; the "
    "per-doc score joins bigrams to their counts on (w1, w2) — the "
    "join shuffle is bigram-vocabulary-sized, never corpus-sized, "
    "and V is a 1-row broadcast. Docs with < 2 tokens have no "
    "bigrams and drop out on both sides.",
    oracle="""
      WITH t AS (
        SELECT doc_id, tok, pos FROM (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
                 unnest(range(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')) + 1)) AS pos
          FROM documents)
      ),
      bg AS (
        SELECT doc_id, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM t
      ),
      bgn AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgn GROUP BY w1, w2),
      c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
      v AS (SELECT count(DISTINCT tok) AS v FROM t),
      scored AS (
        SELECT b.doc_id,
               ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS lp
        FROM bgn b
        JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        JOIN c1 ON b.w1 = c1.w1
        CROSS JOIN v
      )
      SELECT doc_id,
             count(*) AS n_bigrams,
             round(exp(-sum(lp) / count(*)), 2) AS ppl
      FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def quality_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = lower_tokens(F.col("text"))
    t = d.select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        t.select(
            "doc_id",
            F.col("tok").alias("w1"),
            F.lead("tok").over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = t.agg(F.count_distinct("tok").alias("v"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v"))).alias(
                "lp"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.exp(-F.sum("lp") / F.count(F.lit(1))), 2
            ).alias("ppl"),
        )
        .orderBy("doc_id")
    )


# --------------------------- proxy-classifier confusion matrix

_CONF_TOK_THRESHOLD = 150


@register(
    "quality_score_confusion_eval",
    "Classifier evaluation as a confusion matrix — precision / recall "
    "/ F1 / accuracy for the CHEAP filter every curation pipeline "
    "actually deploys (estimate token count as n_chars div 6, a "
    "metadata-only predicate) against the EXPENSIVE truth (real "
    "whitespace token count >= 150): TP/FP/FN/TN are exact integer "
    "counts, and every metric derives from them in one rounded "
    "division (F1 directly as 2TP/(2TP+FP+FN) — never from the "
    "rounded P and R). The eval shape behind every "
    "quality_model_score threshold choice. 100 TB: one scan, "
    "map-side-combinable conditional counts; the truth column is the "
    "only expression touching text.",
    oracle=f"""
      WITH labeled AS (
        SELECT CASE WHEN n_chars // 6 >= {_CONF_TOK_THRESHOLD}
                    THEN 1 ELSE 0 END AS pred,
               CASE WHEN length(text) - length(replace(text, ' ', '')) + 1
                         >= {_CONF_TOK_THRESHOLD}
                    THEN 1 ELSE 0 END AS truth
        FROM documents
      ),
      cm AS (
        SELECT sum(CASE WHEN pred = 1 AND truth = 1 THEN 1 ELSE 0 END)
                 ::BIGINT AS tp,
               sum(CASE WHEN pred = 1 AND truth = 0 THEN 1 ELSE 0 END)
                 ::BIGINT AS fp,
               sum(CASE WHEN pred = 0 AND truth = 1 THEN 1 ELSE 0 END)
                 ::BIGINT AS fn,
               sum(CASE WHEN pred = 0 AND truth = 0 THEN 1 ELSE 0 END)
                 ::BIGINT AS tn
        FROM labeled
      )
      SELECT tp, fp, fn, tn,
             round(CASE WHEN tp + fp > 0
                   THEN tp::DOUBLE / (tp + fp) ELSE 0.0 END, 6)
               AS precision,
             round(CASE WHEN tp + fn > 0
                   THEN tp::DOUBLE / (tp + fn) ELSE 0.0 END, 6) AS recall,
             round(CASE WHEN 2 * tp + fp + fn > 0
                   THEN 2.0 * tp / (2 * tp + fp + fn) ELSE 0.0 END, 6)
               AS f1,
             round((tp + tn)::DOUBLE / (tp + fp + fn + tn), 6) AS accuracy
      FROM cm
    """,
)
def quality_score_confusion_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pred = (
        F.expr("n_chars div 6") >= _CONF_TOK_THRESHOLD
    ).cast("int")
    truth = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" ")))
        + 1
        >= _CONF_TOK_THRESHOLD
    ).cast("int")
    cm = d.select(pred.alias("pred"), truth.alias("truth")).agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("truth") == 1), 1)
              .otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("truth") == 0), 1)
              .otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("truth") == 1), 1)
              .otherwise(0)).cast("long").alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("truth") == 0), 1)
              .otherwise(0)).cast("long").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(
            F.when(tp + fp > 0, tp.cast("double") / (tp + fp)).otherwise(
                0.0
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(tp + fn > 0, tp.cast("double") / (tp + fn)).otherwise(
                0.0
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(
                2 * tp + fp + fn > 0, 2.0 * tp / (2 * tp + fp + fn)
            ).otherwise(0.0),
            6,
        ).alias("f1"),
        F.round((tp + tn).cast("double") / (tp + fp + fn + tn), 6).alias(
            "accuracy"
        ),
    )


# -------------------------------- compression-ratio quality


@register(
    "quality_compression_ratio",
    "Compression-ratio quality signal (Gopher/RefinedWeb rule: text "
    "that zlib squeezes too hard is boilerplate/repetition; too "
    "little is noise): per-document deflate ratio via an "
    "Arrow-batched pandas UDF (zlib level 6 — deterministic given "
    "the level, but NOT SQL-expressible, hence rows-only with "
    "ground-truth pytests in tests/test_operators.py), aggregated "
    "per source with a flag-rate for the Gopher-style keep window "
    "[0.25, 0.95]. 100 TB: the UDF is the per-row-heavy kernel "
    "pattern — Arrow batches, input widened (_th), one map-side "
    "combinable groupBy after.",
    tags=("rows-only",),
)
def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.compressq import compression_ratio_udf

    d = wide_table(spark, sf_dir, "documents")
    ratio = compression_ratio_udf(F.col("text"))
    flagged = (
        d.select("source", ratio.alias("ratio"))
        .select(
            "source",
            "ratio",
            (
                (F.col("ratio") < 0.25) | (F.col("ratio") > 0.95)
            )
            .cast("int")
            .alias("flagged"),
        )
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ratio"), 6).alias("avg_ratio"),
            F.round(F.min("ratio"), 6).alias("min_ratio"),
            F.round(F.max("ratio"), 6).alias("max_ratio"),
            F.sum("flagged").cast("long").alias("n_flagged"),
        )
        .orderBy("source")
    )


@register(
    "curation_source_mix_report",
    "Domain/source-mix curation report (the source-mix gap next to "
    "mixture_temperature_resample — VERDICT r07 item 1c): per source, "
    "doc/token/char volumes, token share of corpus, cumulative share "
    "in descending-volume order, and an over-representation flag "
    "(share > 2x uniform — compared in INTEGERS: n_tokens*n_sources > "
    "2*total_tokens, no FP threshold flap). Cumulative share divides "
    "AFTER an exact integer ROWS-frame cumsum (CLAUDE.md window "
    "invariant). 100 TB: one map-side-combined agg to |sources| rows; "
    "the ranking window is |sources|-bounded.",
    oracle=f"""
      WITH s AS (
        SELECT source,
               count(*)::BIGINT AS n_docs,
               sum(len(regexp_extract_all(lower(text), '{TOK}')))::BIGINT
                 AS n_tokens,
               sum(n_chars)::BIGINT AS n_chars
        FROM documents GROUP BY source
      ),
      tot AS (
        SELECT sum(n_tokens)::BIGINT AS tot_tok,
               count(*)::BIGINT AS n_sources
        FROM s
      )
      SELECT s.source, s.n_docs, s.n_tokens, s.n_chars,
             round(s.n_tokens::DOUBLE / tot.tot_tok, 6) AS token_share,
             round(sum(s.n_tokens) OVER (
                     ORDER BY s.n_tokens DESC, s.source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::DOUBLE / tot.tot_tok, 6) AS cum_token_share,
             round(s.n_tokens::DOUBLE / s.n_docs, 6) AS mean_doc_tokens,
             (CASE WHEN s.n_tokens * tot.n_sources > 2 * tot.tot_tok
                   THEN 1 ELSE 0 END)::INT AS over_represented
      FROM s, tot
      ORDER BY s.n_tokens DESC, s.source
    """,
)
def curation_source_mix_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.size(
                lower_tokens(F.col("text"))
            )
        )
        .cast("long")
        .alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    tot = s.agg(
        F.sum("n_tokens").cast("long").alias("tot_tok"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    # 1-row scalar attach (accepted pattern); the ranking window is
    # |sources|-bounded — integer cumsum, divide after
    w = (
        Window.orderBy(F.desc("n_tokens"), "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            F.round(
                F.col("n_tokens").cast("double") / F.col("tot_tok"), 6
            ).alias("token_share"),
            F.round(
                F.sum("n_tokens").over(w).cast("double")
                / F.col("tot_tok"),
                6,
            ).alias("cum_token_share"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 6
            ).alias("mean_doc_tokens"),
            F.when(
                F.col("n_tokens") * F.col("n_sources")
                > 2 * F.col("tot_tok"),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("over_represented"),
        )
        .orderBy(F.desc("n_tokens"), "source")
    )


@register(
    "audit_packing_efficiency_by_lang",
    "Tokenizer-throughput / sequence-packing audit (VERDICT r07 item "
    "1b — joins the pack_chunks_training packing model with corpus "
    "token/char stats): per lang, docs, tokens, training chunks the "
    "concat-then-chunk packer emits (per (lang, md5-shard): "
    "ceil(tokens/capacity), summed — ceil as (x+C-1)//C on POSITIVE "
    "integers, where DuckDB truncation == floor), packing efficiency "
    "= tokens/(chunks*capacity), tail waste, and chars-per-token "
    "(tokenizer compression proxy). 100 TB: two map-side-combined "
    "aggs (|lang x shard| then |lang| rows); no windows.",
    oracle=f"""
      WITH t AS (
        SELECT lang,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                 % {_PACK_SHARDS} AS shard,
               len(regexp_extract_all(lower(text), '{TOK}'))::BIGINT
                 AS n_tok,
               n_chars
        FROM documents
      ),
      sh AS (
        SELECT lang, shard,
               count(*)::BIGINT AS n_docs,
               sum(n_tok)::BIGINT AS tok,
               sum(n_chars)::BIGINT AS chars,
               ((sum(n_tok) + {_PACK_CAPACITY - 1})
                 // {_PACK_CAPACITY})::BIGINT AS chunks
        FROM t GROUP BY lang, shard
      )
      SELECT lang,
             sum(n_docs)::BIGINT AS n_docs,
             sum(tok)::BIGINT AS n_tokens,
             sum(chunks)::BIGINT AS n_chunks,
             (sum(chunks) * {_PACK_CAPACITY} - sum(tok))::BIGINT
               AS tail_waste_tokens,
             round(sum(tok)::DOUBLE
                   / (sum(chunks) * {_PACK_CAPACITY}), 6)
               AS pack_efficiency,
             round(sum(chars)::DOUBLE / sum(tok), 6)
               AS chars_per_token
      FROM sh GROUP BY lang
      ORDER BY lang
    """,
)
def audit_packing_efficiency_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        (md5_32(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias(
            "shard"
        ),
        F.size(
            lower_tokens(F.col("text"))
        )
        .cast("long")
        .alias("n_tok"),
        "n_chars",
    )
    sh = t.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tok"),
        F.sum("n_chars").cast("long").alias("chars"),
    ).withColumn(
        # ceil on POSITIVE integers via integer floor division (the
        # cross-engine `div` invariant — double division here could
        # flap the floor at large sums)
        "chunks",
        F.expr(f"(tok + {_PACK_CAPACITY - 1}) div {_PACK_CAPACITY}"),
    )
    return (
        sh.groupBy("lang")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("tok").cast("long").alias("n_tokens"),
            F.sum("chunks").cast("long").alias("n_chunks"),
            (
                F.sum("chunks") * _PACK_CAPACITY - F.sum("tok")
            )
            .cast("long")
            .alias("tail_waste_tokens"),
            F.round(
                F.sum("tok").cast("double")
                / (F.sum("chunks") * _PACK_CAPACITY),
                6,
            ).alias("pack_efficiency"),
            F.round(
                F.sum("chars").cast("double") / F.sum("tok"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# ------------------------------------- cross-source n-gram overlap


@register(
    "curation_cross_source_ngram_overlap",
    "Cross-source duplication matrix: for every source pair, the "
    "number of distinct word 8-grams they share, plus containment "
    "(shared / smaller source's gram vocabulary) and Jaccard — the "
    "'which sources leak into each other' signal a curation team reads "
    "next to the per-source mix report before setting dedup scope. "
    "Spark joins distinct (source, xxhash64(gram)) rows on the 8-byte "
    "hash (same accepted 64-bit collision class as the substring-dedup "
    "anchors); the oracle joins gram text — independent formulations. "
    "100 TB: the distinct gram frame localCheckpoints once (it feeds "
    "the totals agg AND both self-join sides), per-source totals "
    "broadcast (|sources| rows), and the gram equi-join is bounded by "
    "cross-source duplication density (8-gram collisions — "
    "prototype-measured rare), never corpus². Deterministic "
    "(shared desc, source_a, source_b) LIMIT 20.",
    oracle="""
      WITH t AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
      ),
      g AS (
        SELECT DISTINCT source,
               array_to_string(toks[ue.i:ue.i+7], ' ') AS g
        FROM t, LATERAL unnest(
          range(1, greatest(len(toks) - 6, 1)::BIGINT)) ue(i)
      ),
      tot AS (SELECT source, count(*) AS n FROM g GROUP BY source),
      pair AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*)::BIGINT AS shared_grams
        FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
      )
      SELECT p.source_a, p.source_b, p.shared_grams,
             ta.n::BIGINT AS grams_a, tb.n::BIGINT AS grams_b,
             round(p.shared_grams::DOUBLE / least(ta.n, tb.n), 6)
               AS containment,
             round(p.shared_grams::DOUBLE
                   / (ta.n + tb.n - p.shared_grams), 6) AS jaccard
      FROM pair p
      JOIN tot ta ON ta.source = p.source_a
      JOIN tot tb ON tb.source = p.source_b
      ORDER BY shared_grams DESC, source_a, source_b
      LIMIT 20
    """,
)
def curation_cross_source_ngram_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = (
        wide_table(spark, sf_dir, "documents")
        .select(
            "source",
            lower_tokens(F.col("text")).alias("t"),
        )
        # barrier: the tokenizing regex runs once per row, not once per
        # slice reference in the gram zip below (CollapseProject rule)
        .repartition(max(spark.sparkContext.defaultParallelism, 8))
    )
    m = "greatest(size(t) - 7, 0)"
    zip8 = (
        "arrays_zip("
        + ", ".join(f"slice(t, {i}, {m})" for i in range(1, 9))
        + ")"
    )
    cw = ", ".join(f"s['{i}']" for i in range(8))
    g = (
        d.select("source", F.explode(F.expr(zip8)).alias("s"))
        .select(
            "source",
            F.xxhash64(F.expr(f"concat_ws(' ', {cw})")).alias("gh"),
        )
        .distinct()
        # feeds the totals agg and BOTH self-join sides — materialize
        # the distinct gram frame once (simhash banded precedent)
        .localCheckpoint()
    )
    tot = g.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("source").alias("source_a"), "gh")
    b = g.select(F.col("source").alias("source_b"), "gh")
    pairs = (
        a.join(b, "gh")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    ta = F.broadcast(
        tot.select(
            F.col("source").alias("source_a"), F.col("n").alias("grams_a")
        )
    )
    tb = F.broadcast(
        tot.select(
            F.col("source").alias("source_b"), F.col("n").alias("grams_b")
        )
    )
    return (
        pairs.join(ta, "source_a")
        .join(tb, "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.round(
                F.col("shared_grams") / F.least("grams_a", "grams_b"), 6
            ).alias("containment"),
            F.round(
                F.col("shared_grams")
                / (F.col("grams_a") + F.col("grams_b") - F.col("shared_grams")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("shared_grams").desc(), "source_a", "source_b")
        .limit(20)
    )


# Round-8 wave 3: the curation filter FUNNEL report (per-stage
# survival/rejection bookkeeping every dataset-ablation writeup needs)
# and exact intra-document repeated-substring detection (the
# self-repetition signal at token-run granularity, completing the
# Lee-et-al substring family next to the cross-doc entry).
#
# Prototype checks (CLAUDE.md rule): the funnel stages reject real mass
# on this corpus (500 -> 410 -> 394 -> 386 -> 374 docs at sf0.01); 8-gram
# intra-doc anchors are ZERO here (random-word docs rarely self-repeat),
# so the intra-doc entry anchors on 4-grams (2 anchor pairs at sf0.01,
# 9 at sf0.1 — sparse but non-vacuous).

# fixed stage order — marginal rejection counts are order-dependent by
# design (that is what a funnel reports)
_FUNNEL_STAGES = (
    ("min_length", "n_chars >= 150"),
    ("min_tokens", "nt >= 30"),
    ("distinct_ratio", "10*nd >= 3*nt"),
    ("has_stopword", "nstop > 0"),
)


@register(
    "curation_filter_funnel",
    "Curation filter funnel — per-stage survivor/rejection bookkeeping "
    "(docs and tokens surviving each filter applied in fixed order, "
    "marginal rejections, cumulative reject rate): the ablation table "
    "every dataset writeup publishes next to the final mix. Stages: "
    "min length (>=150 chars), min tokens (>=30), distinct-token "
    "ratio (integer compare 10·distinct >= 3·tokens — no float "
    "threshold), stopword presence. ONE pass computes per-doc "
    "features; the funnel is a single aggregate of cumulative-flag "
    "sums unpivoted to stage rows — map-side combinable, zero "
    "shuffles beyond the 1-row agg at ANY corpus size.",
    oracle=f"""
      WITH s AS (
        SELECT n_chars, len(toks) AS nt,
               len(list_distinct(toks)) AS nd,
               len(list_filter(toks, x -> x IN ('a', 'the'))) AS nstop
        FROM (
          SELECT n_chars,
                 regexp_extract_all(lower(text), '{TOK}') AS toks
          FROM documents) t
      ),
      flags AS (
        SELECT nt,
               CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS f1,
               CASE WHEN n_chars >= 150 AND nt >= 30
                    THEN 1 ELSE 0 END AS f2,
               CASE WHEN n_chars >= 150 AND nt >= 30 AND 10*nd >= 3*nt
                    THEN 1 ELSE 0 END AS f3,
               CASE WHEN n_chars >= 150 AND nt >= 30 AND 10*nd >= 3*nt
                         AND nstop > 0
                    THEN 1 ELSE 0 END AS f4
        FROM s
      ),
      a AS (
        SELECT count(*)::BIGINT AS c0,
               sum(f1)::BIGINT AS c1, sum(f2)::BIGINT AS c2,
               sum(f3)::BIGINT AS c3, sum(f4)::BIGINT AS c4,
               sum(nt * f1)::BIGINT AS t1, sum(nt * f2)::BIGINT AS t2,
               sum(nt * f3)::BIGINT AS t3, sum(nt * f4)::BIGINT AS t4
        FROM flags
      )
      SELECT 1::BIGINT AS stage, 'min_length' AS stage_name,
             c1 AS n_docs_surviving, t1 AS n_tokens_surviving,
             (c0 - c1)::BIGINT AS n_rejected_at_stage,
             round((c0 - c1)::DOUBLE / c0, 6) AS cum_reject_rate
      FROM a
      UNION ALL
      SELECT 2, 'min_tokens', c2, t2, (c1 - c2)::BIGINT,
             round((c0 - c2)::DOUBLE / c0, 6) FROM a
      UNION ALL
      SELECT 3, 'distinct_ratio', c3, t3, (c2 - c3)::BIGINT,
             round((c0 - c3)::DOUBLE / c0, 6) FROM a
      UNION ALL
      SELECT 4, 'has_stopword', c4, t4, (c3 - c4)::BIGINT,
             round((c0 - c4)::DOUBLE / c0, 6) FROM a
      ORDER BY stage
    """,
)
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = wide_table(spark, sf_dir, "documents")
    return funnel_report(funnel_counters(d))


def funnel_flag_frame(docs: DataFrame) -> DataFrame:
    """Per-doc (nt, f1..f4) cumulative-stage flags — shared by the
    batch entry and its streaming run (the stream==batch test in
    tests/test_streaming.py) so the two can never silently diverge on
    the filter definitions. Row-local map work, legal on a streaming
    frame."""
    toks = lower_tokens(F.col("text"))
    s = docs.select(
        "n_chars",
        F.size(toks).alias("nt"),
        F.size(F.array_distinct(toks)).alias("nd"),
        F.size(
            F.filter(toks, lambda x: x.isin("a", "the"))
        ).alias("nstop"),
    )
    f1 = (F.col("n_chars") >= 150).cast("long")
    f2 = f1 * (F.col("nt") >= 30).cast("long")
    f3 = f2 * (10 * F.col("nd") >= 3 * F.col("nt")).cast("long")
    f4 = f3 * (F.col("nstop") > 0).cast("long")
    return s.select(
        "nt",
        f1.alias("f1"),
        f2.alias("f2"),
        f3.alias("f3"),
        f4.alias("f4"),
    )


def funnel_counters(docs: DataFrame) -> DataFrame:
    """One-row funnel counter aggregate (c0..c4 survivor counts,
    t1..t4 surviving-token sums). Plain decomposable sums — MERGEABLE
    streaming state (the whole store is ONE row); a stream runs this
    same aggregate in complete mode and drains to an identical row
    however the input was split into micro-batches."""
    return funnel_flag_frame(docs).agg(
        F.count(F.lit(1)).cast("long").alias("c0"),
        *[
            F.sum(f"f{k}").cast("long").alias(f"c{k}")
            for k in range(1, 5)
        ],
        *[
            F.sum(F.col("nt") * F.col(f"f{k}")).cast("long").alias(f"t{k}")
            for k in range(1, 5)
        ],
    )


def funnel_report(a: DataFrame) -> DataFrame:
    """Finishing step: unpivot the counter row to per-stage funnel
    rows. Pure bounded-frame arithmetic — stream-fed and batch-fed
    counters yield identical reports; on a stream, run it per trigger
    in ``foreachBatch`` or over the complete-mode sink (the drift-JSD
    pattern, streaming/drift.py)."""
    names = [n for n, _ in _FUNNEL_STAGES]
    stage_rows = ", ".join(
        f"{k}L, '{names[k - 1]}', c{k}, t{k}, "
        f"cast(c{k - 1} - c{k} as bigint), "
        f"round(cast(c0 - c{k} as double) / c0, 6)"
        for k in range(1, 5)
    )
    return (
        a.select(
            F.expr(
                f"stack(4, {stage_rows}) AS (stage, stage_name, "
                "n_docs_surviving, n_tokens_surviving, "
                "n_rejected_at_stage, cum_reject_rate)"
            )
        )
        .orderBy("stage")
    )


# --------------------------------------- padding waste by batching


_PW_BATCH = 32


@register(
    "audit_padding_waste_bucketed",
    "Padding-waste audit for batched training: tokens wasted padding "
    f"each {_PW_BATCH}-sequence batch to its longest member, under "
    "ARRIVAL-ORDER batching (doc_id) vs LENGTH-SORTED batching (the "
    "bucketed-batching trick every trainer ships) — the measured "
    "reduction is the entry's answer. Both orderings use the "
    "distributed rank toolkit (operators/rank.py: range shuffle + "
    "per-partition row_number + broadcast offsets — no single-"
    "partition WindowExec at any scale); per-batch max/sum aggregate "
    "map-side. All integers; ratios are single rounded divisions. The "
    "oracle uses plain global row_number windows — independent "
    "formulation, identical batch assignment.",
    oracle=f"""
      WITH d AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '{TOK}')) AS nt
        FROM documents
      ),
      nb AS (
        SELECT nt, (row_number() OVER (ORDER BY doc_id) - 1)
                   // {_PW_BATCH} AS batch
        FROM d
      ),
      bb AS (
        SELECT nt, (row_number() OVER (ORDER BY nt, doc_id) - 1)
                   // {_PW_BATCH} AS batch
        FROM d
      ),
      wn AS (
        SELECT sum(mx * c - s)::BIGINT AS waste, count(*)::BIGINT AS nbatch
        FROM (SELECT batch, max(nt) AS mx, count(*) AS c, sum(nt) AS s
              FROM nb GROUP BY batch)
      ),
      wb AS (
        SELECT sum(mx * c - s)::BIGINT AS waste
        FROM (SELECT batch, max(nt) AS mx, count(*) AS c, sum(nt) AS s
              FROM bb GROUP BY batch)
      ),
      t AS (SELECT count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS tokens
            FROM d)
      SELECT t.n_docs, t.tokens AS tokens_total, wn.nbatch AS n_batches,
             wn.waste AS waste_arrival, wb.waste AS waste_bucketed,
             round(CASE WHEN wn.waste > 0
               THEN (wn.waste - wb.waste)::DOUBLE / wn.waste END, 6)
               AS waste_reduction,
             round(wn.waste::DOUBLE / (wn.waste + t.tokens), 6)
               AS pad_ratio_arrival,
             round(wb.waste::DOUBLE / (wb.waste + t.tokens), 6)
               AS pad_ratio_bucketed
      FROM t, wn, wb
    """,
)
def audit_padding_waste_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.operators.rank import global_row_number

    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(
            lower_tokens(F.col("text"))
        ).alias("nt"),
    ).localCheckpoint(eager=True)
    # three consumers (two rank passes + the totals agg) would each
    # re-run the tokenize otherwise; eager checkpoint, not persist —
    # repeated fresh builds would leak persisted frames (FLOOR_r11
    # capture-session trap). The count is a bounded driver scalar
    # feeding global_row_number's measured small-frame gate
    # (FLOOR_r11: two range-shuffle rank passes on a |docs|-row frame
    # were ~8 job floors; no-op past 2M rows)
    n_docs_cnt = d.count()

    def _waste(order_cols: list) -> DataFrame:
        rn = global_row_number(
            d, order_cols, out="rn", known_count=n_docs_cnt
        )
        per = (
            rn.select(
                "nt",
                ((F.col("rn") - 1) / _PW_BATCH)
                .cast("long")
                .alias("batch"),
            )
            .groupBy("batch")
            .agg(
                F.max("nt").alias("mx"),
                F.count(F.lit(1)).alias("c"),
                F.sum("nt").alias("s"),
            )
        )
        return per.agg(
            F.sum(F.col("mx") * F.col("c") - F.col("s"))
            .cast("long")
            .alias("waste"),
            F.count(F.lit(1)).cast("long").alias("nbatch"),
        )

    wn = _waste(["doc_id"])
    wb = _waste(["nt", "doc_id"]).select(
        F.col("waste").alias("waste_b")
    )
    t = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("tokens_total"),
    )
    return (
        t.crossJoin(F.broadcast(wn))
        .crossJoin(F.broadcast(wb))
        .select(
            "n_docs",
            "tokens_total",
            F.col("nbatch").alias("n_batches"),
            F.col("waste").alias("waste_arrival"),
            F.col("waste_b").alias("waste_bucketed"),
            F.round(
                F.when(
                    F.col("waste") > 0,
                    (F.col("waste") - F.col("waste_b")).cast("double")
                    / F.col("waste"),
                ),
                6,
            ).alias("waste_reduction"),
            F.round(
                F.col("waste").cast("double")
                / (F.col("waste") + F.col("tokens_total")),
                6,
            ).alias("pad_ratio_arrival"),
            F.round(
                F.col("waste_b").cast("double")
                / (F.col("waste_b") + F.col("tokens_total")),
                6,
            ).alias("pad_ratio_bucketed"),
        )
    )


# --------------------------------------------- epoch hash shuffle


_ES_BUCKETS = 16


@register(
    "sample_epoch_shuffle_hash",
    "Deterministic per-epoch training shuffle WITHOUT materializing a "
    "permutation: epoch order = sort by md5(epoch:doc_id) — "
    "reproducible on any engine, re-derivable for any shard, and "
    "decorrelated across epochs (the per-doc 16-bucket assignment "
    "moves for ~15/16 of docs between epochs, reported as "
    "n_moved_bucket16). Surfaced as the first 10 docs of epochs 0 and "
    "1 plus the movement counters. 100 TB: the order key is computed "
    "row-local and the top-k is TakeOrdered — no global sort "
    "materializes unless a sink wants it; the rank window runs over "
    "the 20 surfaced rows only.",
    oracle=f"""
      WITH e0 AS (
        SELECT 0 AS ep, doc_id, md5('0:' || doc_id) AS h
        FROM documents ORDER BY h LIMIT 10
      ),
      e1 AS (
        SELECT 1 AS ep, doc_id, md5('1:' || doc_id) AS h
        FROM documents ORDER BY h LIMIT 10
      ),
      ranked AS (
        SELECT ep, doc_id,
               row_number() OVER (PARTITION BY ep ORDER BY h) AS rnk
        FROM (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
      ),
      m AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(CASE WHEN
                 ('0x' || substr(md5('0:' || doc_id), 1, 8))::BIGINT
                   % {_ES_BUCKETS}
                 <> ('0x' || substr(md5('1:' || doc_id), 1, 8))::BIGINT
                   % {_ES_BUCKETS}
                 THEN 1 ELSE 0 END)::BIGINT AS n_moved_bucket16
        FROM documents
      )
      SELECT r.ep::BIGINT AS epoch, r.rnk::BIGINT AS rank_in_epoch,
             r.doc_id, m.n_docs, m.n_moved_bucket16
      FROM ranked r, m
      ORDER BY epoch, rank_in_epoch
    """,
)
def sample_epoch_shuffle_hash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")

    def _top(epoch: int) -> DataFrame:
        h = F.md5(
            F.concat(F.lit(f"{epoch}:"), F.col("doc_id").cast("string"))
        )
        return (
            d.select(
                F.lit(epoch).cast("long").alias("epoch"),
                "doc_id",
                h.alias("h"),
            )
            .orderBy("h")
            .limit(10)
        )

    ranked = (
        _top(0)
        .unionByName(_top(1))
        .withColumn(
            "rank_in_epoch",
            F.row_number()
            .over(Window.partitionBy("epoch").orderBy("h"))
            .cast("long"),
        )
        .drop("h")
    )

    def _bucket(epoch: int):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{epoch}:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") % _ES_BUCKETS

    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((_bucket(0) != _bucket(1)).cast("long"))
        .cast("long")
        .alias("n_moved_bucket16"),
    )
    return (
        ranked.crossJoin(F.broadcast(m))
        .select(
            "epoch", "rank_in_epoch", "doc_id", "n_docs", "n_moved_bucket16"
        )
        .orderBy("epoch", "rank_in_epoch")
    )


# Round-9 wave: cross-modal curation compositions (VERDICT r08 item 5).
#
# Three entries composing proven kernels into the curation stages a
# training-data team runs next:
#
# - cross-video keyframe dedup: shot boundary detection
#   (multimodal_shot_boundaries) x the WHT perceptual hash
#   (dedup_image_phash_wht_pairs) x band blocking — the video half of
#   the image-dedup story;
# - URL/domain parse + blocklist curation: real ``parse_url`` + a
#   public-suffix-style registrable-domain rule over deterministically
#   synthesized URLs, blocklist applied via broadcast join — closes the
#   "source column != real domains" gap in curation_source_mix_report;
# - trigram Kneser-Ney: the lm_kneser_ney_bigram machinery generalized
#   one order up, with the full continuation-count backoff chain.
#
# Prototype measurements (run BEFORE building, CLAUDE.md rule, recorded
# in PLANS.md round-9 notes): keyframe dedup at sf0.01 yields 724
# keyframes -> 91 cross-doc band candidates -> 42 pairs at hamming<=3
# over 24 media pairs, max band bucket 3 (non-vacuous, non-explosive);
# trigram KN over 26,165 trigram tokens gives a discriminative top-20.
#
# No reference analogue (``/root/reference`` is a 673-line DuckDB
# geocoder); these are build-brief training-pipeline extensions.

# ------------------------------------- URL/domain blocklist curation

# deterministic URL synthesis (the PNM-entry recipe: the parsing logic
# is the real production path, the payload is synthesized from existing
# columns because the corpus carries no URLs)
_URL_SUBS = ("www", "cdn", "m")
_URL_TLDS = ("com", "org", "net", "co.uk", "io")
# blocked registrable domains — the curation blocklist (spam/adult/SEO
# lists in production); chosen to hit several sources and both the
# 1-label and 2-label public-suffix branches
URL_BLOCKLIST = ("src3.com", "src7.org", "src11.net", "src2.co.uk")


def url_expr_sql() -> str:
    # tld index uses doc_id // 20, NOT doc_id % k: on this corpus
    # doc_id % 20 == the source index, so any doc_id % k with k | 20
    # is CONSTANT per source and the synthesis would collapse to one
    # tld per source (prototype-measured — the blocklist was vacuous
    # under the first % 5 draft). doc_id is non-negative, so DuckDB's
    # truncating // and Spark's `div` agree.
    # source is coalesced like lang (ADVICE r09): a NULL source would
    # otherwise NULL the whole Spark concat (reg_domain '' via
    # concat_ws over a NULL split) while DuckDB's || yields NULL — a
    # latent parity divergence if a regenerated corpus ever carries
    # NULL sources.
    return (
        "concat('https://', "
        "['www','cdn','m'][(doc_id % 3 + 1)::INT], '.', "
        "lower(coalesce(source, 'unksrc')), '.', "
        "['com','org','net','co.uk','io']"
        "[((doc_id // 20) % 5 + 1)::INT], "
        "'/d/', doc_id, '?ref=', coalesce(lang, 'xx'))"
    )


def url_flag_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, host, reg_domain, blocked) — URL synthesis, the REAL
    parse path (parse_url host extraction + public-suffix registrable-
    domain rule), and the broadcast blocklist flag. Pure-Column +
    stream-static broadcast join, so it runs identically on a batch
    frame and a streaming frame (shared-helper discipline: the batch
    entry and the streaming twin cannot diverge)."""
    d = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.element_at(
                F.array(*[F.lit(s) for s in _URL_SUBS]),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.lit("."),
            # coalesce matches the oracle's url_expr_sql (ADVICE r09
            # NULL-source pin; see the comment there)
            F.lower(F.coalesce(F.col("source"), F.lit("unksrc"))),
            F.lit("."),
            F.element_at(
                F.array(*[F.lit(t) for t in _URL_TLDS]),
                (F.expr("doc_id div 20") % 5 + 1).cast("int"),
            ),
            F.lit("/d/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref="),
            F.coalesce(F.col("lang"), F.lit("xx")),
        ).alias("url"),
    )
    host = F.expr("parse_url(url, 'HOST')")
    # Registrable-domain rule as ONE anchored regexp over ONE host
    # reference: "(label).(2-label public suffix)" else
    # "(label).(label)" at end-of-string — the same public-suffix+1
    # rule as the previous split/slice form, which referenced the
    # host expression 6x (labels x4, size, endswith) and so
    # CollapseProject-inlined parse_url+split into every reference
    # (FLOOR_r11: the k-eval trap, parse_url edition). Now host is
    # referenced twice total (output column + this regexp).
    reg = F.regexp_extract(host, r"([^.]+\.co\.uk|[^.]+\.[^.]+)$", 1)
    parsed = d.select(
        F.col("doc_id"), host.alias("host"), reg.alias("reg_domain")
    )
    block = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(b,) for b in URL_BLOCKLIST], "reg_domain string"
        ).withColumn("blocked_flag", F.lit(True))
    )
    return parsed.join(block, "reg_domain", "left").select(
        "doc_id",
        "host",
        "reg_domain",
        F.coalesce(F.col("blocked_flag"), F.lit(False)).alias("blocked"),
    )


def domain_block_counters(docs: DataFrame) -> DataFrame:
    """Per-(domain, blocked) doc counts — plain decomposable sums,
    MERGEABLE streaming state (complete-mode agg; each micro-batch
    adds in; the state is |domains| rows). The n_hosts distinct stays
    in the batch entry only — exact distinct is not mergeable counter
    state (approx_count_distinct is the streaming substitute)."""
    return url_flag_frame(docs).groupBy("reg_domain", "blocked").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@register(
    "curation_url_domain_blocklist",
    "URL -> registrable-domain curation stage (VERDICT r08 item 5b): "
    "synthesize a deterministic URL per document (no URLs in the "
    "corpus — the PNM recipe: REAL parsing logic, synthesized "
    "payload), extract the host with Spark's parse_url, reduce it to "
    "the registrable domain with a public-suffix-style rule (2-label "
    "suffixes like co.uk keep 3 labels, else 2 — the rule every "
    "URL-dedup/blocklist pipeline needs), then apply a blocklist via "
    "BROADCAST anti-semantics (flag, not drop, so the report shows "
    "both sides of the funnel). The oracle never calls a URL parser: "
    "it predicts host and domain from the same construction "
    "arithmetic, so a parse_url or suffix-rule bug breaks the hash "
    "match. 100 TB: parse/suffix logic is pure-Column (codegen), the "
    "blocklist is a broadcast dim; one shuffle for the per-domain "
    "rollup.",
    oracle=f"""
      WITH d AS (
        SELECT doc_id, source, {url_expr_sql()} AS url
        FROM documents
      ),
      parsed AS (
        SELECT doc_id,
               lower(coalesce(source, 'unksrc')) || '.' ||
                 ['com','org','net','co.uk','io']
                 [((doc_id // 20) % 5 + 1)::INT] AS reg_domain,
               ['www','cdn','m'][(doc_id % 3 + 1)::INT] || '.' ||
                 lower(coalesce(source, 'unksrc')) || '.' ||
                 ['com','org','net','co.uk','io']
                 [((doc_id // 20) % 5 + 1)::INT] AS host
        FROM d
      )
      SELECT reg_domain,
             (reg_domain IN {tuple(URL_BLOCKLIST)}) AS blocked,
             count(*)::BIGINT AS n_docs,
             count(DISTINCT host)::BIGINT AS n_hosts
      FROM parsed
      GROUP BY reg_domain
      ORDER BY reg_domain
    """,
)
def curation_url_domain_blocklist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    flagged = url_flag_frame(table(spark, sf_dir, "documents"))
    return (
        flagged.groupBy("reg_domain", "blocked")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
        .orderBy("reg_domain")
    )


# ----------------------------- dup-rate x quality-band interaction


_STOPWORDS = ("the", "a")


@register(
    "curation_dup_by_quality_band",
    "Duplication x quality FILTER-INTERACTION audit — the 2x2 "
    "contingency a curation team reads before ordering its pipeline "
    "stages: are the high-stopword (low-quality) documents also the "
    "duplicated ones, i.e. how much work does running the quality "
    "filter first save the (more expensive) dedup stage? Per-doc dup "
    "coverage comes from the proven 8-gram machinery "
    "(r8_ops._gram_frame: shifted-slice zip behind a repartition "
    "barrier; corpus frequency rides a hash-partitioned window on the "
    "8-byte gram hash); flags compare in INTEGERS (n_stop*10 >= n_tok "
    "<=> stopword ratio >= 0.1; covered*5 >= n_tok <=> coverage >= "
    "0.2) so no FP threshold flap; cell metrics are integer sums with "
    "one rounded division. 100 TB: the gram-frame window is the "
    "substring-dedup shuffle already adjudicated; everything after is "
    "a 4-row contingency.",
    oracle=f"""
      WITH {GRAM_SQL},
      gc AS (SELECT g AS gg, count(*)::BIGINT AS c FROM g GROUP BY g),
      dup AS (
        -- JOIN resolved BEFORE the LATERAL unnest: the comma-join
        -- form (g, gc, LATERAL ...) planned as a nested loop over
        -- |g| x |gc| and ran for minutes — explicit join first keeps
        -- it a hash join feeding a bounded unnest
        SELECT DISTINCT a.doc_id, ue.cp
        FROM (SELECT a0.doc_id, a0.p
              FROM g a0 JOIN gc ON a0.g = gc.gg
              WHERE gc.c >= 2) a,
             LATERAL unnest(range(a.p, a.p + 8)) ue(cp)
      ),
      cov AS (
        SELECT doc_id, count(*)::BIGINT AS covered
        FROM dup GROUP BY doc_id
      ),
      q AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '{TOK}'))::BIGINT
                 AS n_tok,
               len(list_filter(regexp_extract_all(lower(text), '{TOK}'),
                   x -> x IN {_STOPWORDS}))::BIGINT AS n_stop
        FROM documents
      ),
      f AS (
        SELECT q.doc_id, q.n_tok, q.n_stop,
               coalesce(cov.covered, 0) AS covered
        FROM q LEFT JOIN cov USING (doc_id)
        WHERE q.n_tok > 0
      )
      SELECT (n_stop * 10 >= n_tok) AS high_stopword,
             (covered * 5 >= n_tok) AS high_dup,
             count(*)::BIGINT AS n_docs,
             sum(covered)::BIGINT AS covered_tokens,
             sum(n_tok)::BIGINT AS total_tokens,
             round(sum(covered)::DOUBLE / sum(n_tok), 6)
               AS pooled_dup_coverage
      FROM f GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def curation_dup_by_quality_band(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ex = gram_frame(spark, sf_dir).select(
        "doc_id", "p", F.xxhash64("g").alias("h")
    )
    # corpus frequency via hash-partitioned window on the 8-byte gram
    # hash (the dedup_duplicated_ngram_coverage shuffle; same accepted
    # 64-bit collision class)
    freq = ex.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    cov = (
        freq.where(F.col("cnt") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + 7)).alias(
                "cp"
            ),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("covered"))
    )
    # token + stopword counts off ONE tokenize behind the repartition
    # barrier (regex runs once per row, not once per reference)
    q = (
        wide_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            lower_tokens(F.col("text")).alias("t"),
        )
        .repartition(max(spark.sparkContext.defaultParallelism, 8))
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tok"),
            F.size(
                F.filter(F.col("t"), lambda x: x.isin(*_STOPWORDS))
            )
            .cast("long")
            .alias("n_stop"),
        )
    )
    f = (
        q.join(cov, "doc_id", "left")
        .withColumn("covered", F.coalesce(F.col("covered"), F.lit(0)))
        .where(F.col("n_tok") > 0)
    )
    return (
        f.groupBy(
            (F.col("n_stop") * 10 >= F.col("n_tok")).alias(
                "high_stopword"
            ),
            (F.col("covered") * 5 >= F.col("n_tok")).alias("high_dup"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("covered").cast("long").alias("covered_tokens"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.round(
                F.sum("covered").cast("double") / F.sum("n_tok"), 6
            ).alias("pooled_dup_coverage"),
        )
        .orderBy("high_stopword", "high_dup")
    )


# Round-11 additions: dup-group keeper-policy audit.
#
# The near-dup CC machinery (common.cc_components + CC_REACH_CTES)
# answers "which docs are duplicates"; the curation decision a training-
# data team actually makes next is WHICH copy to keep. The default
# min-id keeper is arbitrary; a quality-aware keeper (here: longest doc,
# doc_id tiebreak — the stand-in for a model quality score) retains more
# usable text from every duplicate group. This entry quantifies that
# choice per source: docs and characters retained under each policy over
# the IDENTICAL group structure, so the delta is attributable to the
# policy alone.
#
# Shared-helper discipline (r10 keyframe-KPI precedent): the engine side
# reads common.cc_components and the oracle embeds
# common.CC_REACH_CTES, so this audit and dedup_groups_connected_components
# cannot disagree about what a duplicate group is.

@register(
    "curation_dedup_keeper_policy_by_source",
    "Dup-group keeper-policy audit (r11): over the driver-green "
    "blocked-Jaccard CC groups (SHARED helper cc_components / "
    "_CC_REACH_CTES — group semantics cannot diverge from "
    "dedup_groups_connected_components), compare the docs and "
    "characters each source retains under the min-id keeper (the CC "
    "default) vs a quality-aware keeper (argmax n_chars, doc_id "
    "tiebreak — the stand-in for a model quality score). Both "
    "policies keep exactly one doc per group, so per-source deltas "
    "are pure policy attribution. Singletons (docs in no pair) are "
    "kept under both. All-integer counts/sums; source coalesced "
    "'unksrc' on both engines (ADVICE r09 NULL discipline). 100 TB: "
    "rides the adjudicated banded pair plan; adds one |components|-"
    "sized argmax agg and a source-bounded rollup.",
    oracle=f"""
      WITH RECURSIVE {CC_REACH_CTES},
      comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
      j AS (
        SELECT doc.doc_id, coalesce(doc.source, 'unksrc') AS source,
               doc.n_chars,
               coalesce(c.comp, doc.doc_id) AS comp
        FROM documents doc LEFT JOIN comp c ON doc.doc_id = c.id
      ),
      kq AS (
        SELECT comp, doc_id AS qkeep FROM (
          SELECT comp, doc_id,
                 row_number() OVER (PARTITION BY comp
                   ORDER BY n_chars DESC, doc_id) AS rn
          FROM j) t WHERE rn = 1
      )
      SELECT j.source,
             count(*)::BIGINT AS n_docs,
             sum(CASE WHEN j.doc_id = j.comp THEN 1 ELSE 0 END)::BIGINT
               AS kept_minid,
             sum(CASE WHEN j.doc_id = kq.qkeep THEN 1 ELSE 0 END)::BIGINT
               AS kept_quality,
             sum(CASE WHEN j.doc_id = j.comp THEN j.n_chars
                      ELSE 0 END)::BIGINT AS chars_kept_minid,
             sum(CASE WHEN j.doc_id = kq.qkeep THEN j.n_chars
                      ELSE 0 END)::BIGINT AS chars_kept_quality
      FROM j JOIN kq ON j.comp = kq.comp
      GROUP BY j.source
      ORDER BY j.source
    """,
)
def curation_dedup_keeper_policy_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    comps = cc_components(spark, sf_dir).select("id", "component")
    docs = wide_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(F.col("source"), F.lit("unksrc")).alias("source"),
        "n_chars",
    )
    j = docs.join(
        comps, docs.doc_id == comps.id, "left"
    ).select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("comp"),
    )
    # quality keeper: max n_chars, min doc_id tiebreak — max_by over
    # (n_chars, -doc_id) (doc_id is non-negative). |components|-sized.
    kq = j.groupBy("comp").agg(
        F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias("qkeep")
    )
    kept_m = (F.col("doc_id") == F.col("comp")).cast("int")
    kept_q = (F.col("doc_id") == F.col("qkeep")).cast("int")
    return (
        j.join(kq, "comp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(kept_m).cast("long").alias("kept_minid"),
            F.sum(kept_q).cast("long").alias("kept_quality"),
            F.sum(F.col("n_chars") * kept_m)
            .cast("long")
            .alias("chars_kept_minid"),
            F.sum(F.col("n_chars") * kept_q)
            .cast("long")
            .alias("chars_kept_quality"),
        )
        .orderBy("source")
    )
