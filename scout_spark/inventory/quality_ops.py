"""Training-data curation operators beyond the reference's surface
(build brief: first-class pipeline components): Gopher-style repetition
quality signals, C4-style PII redaction, DSIR-flavored importance
sampling, and concat-then-chunk sequence packing.

All four are fully oracle-expressible: ASCII regex classes behave
identically in Java and DuckDB RE2; deterministic randomness uses the
md5-prefix trick shared with hash_parity.py; packing uses integer ROWS
window sums (exact, no FP-order hazard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scout_spark.inventory import register
from scout_spark.inventory.core import _t, _th
from scout_spark.inventory.hash_parity import _md5_32
from scout_spark.sources.tables import shared_frame, source_key

_TOK = "[a-z0-9]+"

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
        SELECT doc_id, regexp_extract_all(lower(text), '{_TOK}') AS toks
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
    d = _th(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK), 0)
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
    d = _th(spark, sf_dir, "documents")
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
               regexp_extract_all(lower(text), '{_TOK}') AS toks,
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
    d = _th(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK), 0)
    target = F.array(*[F.lit(t) for t in _IMP_TARGET])

    def _in_target(x):
        return F.array_contains(target, x)

    s = d.select(
        "doc_id",
        _md5_32(F.concat(F.col("doc_id").cast("string"), F.lit(":imp"))).alias(
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
               len(regexp_extract_all(lower(text), '{_TOK}')) AS n_tok
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
    d = _th(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK), 0)
    t = d.select(
        "doc_id",
        "lang",
        (_md5_32(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias("shard"),
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


_SPAN = 10  # tokens per dedup span (C4 dedupes three-sentence spans)


@register(
    "dedup_span_exact_c4",
    "C4-style span-level exact dedup (Raffel et al. 2020 §2.2, adapted "
    f"to {_SPAN}-token spans since the corpus has no sentence "
    "boundaries): each doc splits into consecutive token spans, every "
    "span's corpus-wide first occurrence wins (min of doc_id*100000+idx "
    "— deterministic, engine-independent), and surviving spans are "
    "reassembled in document order. One shuffle keyed on span text with "
    "map-side combine for the winner min; at 100 TB the groupBy key "
    "would be xxhash64(span) with span text kept only on the probe "
    "side. Docs whose every span is a repeat survive with empty text — "
    "the row set is all non-empty docs on both engines.",
    oracle=f"""
      WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{_TOK}') AS toks
        FROM documents
      ),
      ts AS (
        SELECT doc_id, toks, ((len(toks) - 1) // {_SPAN}) + 1 AS n_spans
        FROM t WHERE len(toks) > 0
      ),
      x AS (SELECT doc_id, toks, n_spans, unnest(range(0, n_spans)) AS idx FROM ts),
      c AS (
        SELECT doc_id, idx,
               array_to_string(toks[(idx*{_SPAN}+1):(idx*{_SPAN}+{_SPAN})], ' ')
                 AS span,
               doc_id * 100000 + idx AS key
        FROM x
      ),
      w AS (SELECT span, min(key) AS wkey FROM c GROUP BY span),
      k AS (SELECT c.* FROM c JOIN w USING (span) WHERE key = wkey),
      a AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(span, ' ' ORDER BY idx) AS kept_text
        FROM k GROUP BY doc_id
      )
      SELECT ts.doc_id, n_spans, coalesce(n_kept, 0) AS n_kept,
             coalesce(kept_text, '') AS kept_text
      FROM ts LEFT JOIN a USING (doc_id)
    """,
)
def dedup_span_exact_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _th(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK), 0).alias(
            "toks"
        ),
    ).where(F.size("toks") > 0)
    ts = t.select(
        "doc_id",
        "toks",
        (((F.size("toks") - 1).cast("long") / _SPAN).cast("long") + 1).alias(
            "n_spans"
        ),
    )
    spans = F.expr(
        f"transform(sequence(0, cast(n_spans as int) - 1), "
        f"i -> concat_ws(' ', slice(toks, i*{_SPAN}+1, {_SPAN})))"
    )
    c = (
        ts.select(
            "doc_id", "n_spans", F.posexplode(spans).alias("idx", "span")
        )
        .withColumn("key", F.col("doc_id") * 100000 + F.col("idx"))
        # winner selection groups on the 8-byte span hash, not the span
        # string — the shuffle moves (hash, key) instead of ~60-char
        # text (0.97s -> 0.25s at sf0.1; a 64-bit collision merging two
        # spans has probability ~n²/2^65, same accepted risk class as
        # jaccard_pairs' token hashing)
        .withColumn("sh", F.xxhash64("span"))
    )
    winners = c.groupBy("sh").agg(F.min("key").alias("wkey"))
    kept = c.join(winners, "sh").where(F.col("key") == F.col("wkey"))
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "span"))),
                lambda s: s.span,
            ),
            " ",
        ).alias("kept_text"),
    )
    return ts.select("doc_id", "n_spans").join(agg, "doc_id", "left").select(
        "doc_id",
        "n_spans",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


# fastText-like linear quality filter: fixed public weights over cheap
# lexical features (the shape of CCNet's / Gopher's model-based stage,
# with a deterministic stand-in model since no trained weights ship
# with the repo). Feature math is integer/ratio-exact; exp/ln agree
# across engines well within the 6dp rounding.
_QW = (-2.0, 3.0, 0.4, -6.0, 0.35)  # bias, distinct_ratio, mean_len, digit, ln_n


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
               regexp_extract_all(lower(text), '{_TOK}') AS toks
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
             round(1.0 / (1.0 + exp(-({_QW[0]} + {_QW[1]} * distinct_ratio
                   + {_QW[2]} * mean_len + {_QW[3]} * digit_frac
                   + {_QW[4]} * ln_n))), 6) AS score,
             round(distinct_ratio, 6) AS distinct_ratio,
             round(mean_len, 6) AS mean_len
      FROM f
    """,
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _th(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK), 0)
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
        F.lit(_QW[0])
        + F.lit(_QW[1]) * F.col("distinct_ratio")
        + F.lit(_QW[2]) * F.col("mean_len")
        + F.lit(_QW[3]) * F.col("digit_frac")
        + F.lit(_QW[4]) * F.col("ln_n")
    )
    return f.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
        F.round("mean_len", 6).alias("mean_len"),
    )


# target language mixture for rebalancing (sums to 1); 0.6 global
# down-scale so at least one lang keeps p < 1 at every SF.
_MIX_TARGET = {"en": 0.5, "de": 0.125, "es": 0.125, "fr": 0.125, "zh": 0.125}


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
    d = _th(spark, sf_dir, "documents")
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
    draw = _md5_32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
    return (
        d.join(F.broadcast(p), "lang")
        .where(draw / F.lit(4294967296.0) < F.col("p_accept"))
        .select("doc_id", "lang", F.round("p_accept", 6).alias("p_accept"))
    )


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, lang, source, tok) exploded token frame,
    shared by every corpus-token entry of the session: the perplexity,
    perplexity-decile and OOV entries each read it from 2+ jobs of one
    query (model/vocab broadcast build + probe scan share no exchange),
    so the corpus regex runs once instead of once per job."""

    def build() -> DataFrame:
        d = _th(spark, sf_dir, "documents")
        toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK), 0)
        return d.select("doc_id", "lang", "source", F.explode(toks).alias("tok"))

    return shared_frame(
        "doc_tokens", source_key(spark, sf_dir, "documents"), build
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
               unnest(regexp_extract_all(lower(text), '{_TOK}')) AS tok
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
               regexp_extract_all(lower(text), '{_TOK}') AS toks
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
        SELECT *, 1.0 / (1.0 + exp(-({_QW[0]} + {_QW[1]} * distinct_ratio
               + {_QW[2]} * mean_len + {_QW[3]} * digit_frac
               + {_QW[4]} * ln_n))) AS score
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
    d = _th(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOK), 0)
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
    # no-op there — exactly the _th/widen_if_narrow discipline.
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
        F.lit(_QW[0])
        + F.lit(_QW[1]) * F.col("distinct_ratio")
        + F.lit(_QW[2]) * F.col("mean_len")
        + F.lit(_QW[3]) * F.col("digit_frac")
        + F.lit(_QW[4]) * F.col("ln_n")
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
    draw = _md5_32(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
    accepted = deduped.join(F.broadcast(p), "lang").where(
        draw / F.lit(4294967296.0) < F.col("p_accept")
    )
    shard = (_md5_32(F.col("doc_id").cast("string")) % _PACK_SHARDS).alias(
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
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

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
