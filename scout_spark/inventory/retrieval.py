"""Retrieval: BM25 and query-likelihood ranking, reranking and fusion,
posting-list and trigram indexes, and ranking evaluation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scout_spark.functions.vectors import cosine_similarity
from scout_spark.inventory import register
from scout_spark.inventory.common import (
    QUERY_VEC_ID,
    canon_sql,
    doc_tokens,
    table,
    tokens_sql,
)
from scout_spark.sources.tables import shared_frame, source_key


_BM25_TERMS = ("spark", "table", "merge", "fast")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_topk_retrieval",
    "BM25 ranked retrieval (Robertson/Sparck-Jones idf, k1=1.2 b=0.75) "
    "— fully codegen, no explode: per-doc term frequencies via "
    "regexp_count word-boundary matches on the canonical text, document "
    "length from one split, all five stats in ONE narrow per-doc frame "
    "that is PERSISTED (it is the query's posting index — materializing "
    "it is what a production index build does) so the corpus text is "
    "tokenized exactly once across the stats job and the scoring job. "
    "Corpus stats (N, avgdl, per-term df) broadcast onto the scored "
    "scan; TakeOrderedAndProject merges per-partition top-10 — no wide "
    "shuffle anywhere at any scale. Deterministic top-k: ordered by the "
    "ROUNDED score then doc_id.",
    oracle=f"""
      WITH dl AS (
        SELECT doc_id, {tokens_sql("text")} AS toks,
               len({tokens_sql("text")}) AS dl
        FROM documents
      ),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl WHERE dl > 0),
      posting AS (
        SELECT doc_id, dl, tok, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
        WHERE tok IN ('spark', 'table', 'merge', 'fast')
        GROUP BY doc_id, dl, tok
      ),
      dfreq AS (SELECT tok, count(*) AS dfr FROM posting GROUP BY tok)
      SELECT p.doc_id,
             round(sum(
               ln(1.0 + (s.n_docs - f.dfr + 0.5) / (f.dfr + 0.5))
               * p.tf * ({_BM25_K1} + 1.0)
               / (p.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
             ), 6) AS bm25,
             count(*) AS n_terms
      FROM posting p JOIN dfreq f USING (tok) CROSS JOIN stats s
      GROUP BY p.doc_id
      ORDER BY bm25 DESC, doc_id
      LIMIT 10
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_all_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.functions.normalize import canon_ascii

    def build() -> DataFrame:
        d = table(spark, sf_dir, "documents")
        canon = canon_ascii(F.col("text"))
        dl = F.when(canon == "", F.lit(0)).otherwise(F.size(F.split(canon, " ")))
        cols = [F.col("doc_id"), dl.alias("dl")]
        for q in _BM25_TERMS:
            # canon is strictly [a-z0-9 ]-separated, so \b<term>\b counts
            # exactly the whole-token occurrences the oracle's unnest path
            # counts ("sparkle" and "spark2" do not match \bspark\b)
            cols.append(F.regexp_count(canon, F.lit(rf"\b{q}\b")).alias(f"tf_{q}"))
        return d.select(*cols)

    return shared_frame(
        "bm25_per_doc", source_key(spark, sf_dir, "documents"), build
    )


def _bm25_all_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every matching doc as (doc_id, bm25, n_terms), unordered —
    shared by the top-k entry and the rerank composition."""
    # the per-doc posting frame is evaluated by BOTH the stats job and
    # the scoring job; persisting it means the corpus text is canonized/
    # counted once (measured at sf0.1: 1.8s -> 0.28s). The frame is the
    # narrow (id, dl, tf…) index — doc-count rows, a few ints each.
    per_doc = _bm25_per_doc(spark, sf_dir)
    stats = per_doc.where(F.col("dl") > 0).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{q}") > 0).cast("long")).alias(f"dfr_{q}")
            for q in _BM25_TERMS
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    w, nt = None, None
    for q in _BM25_TERMS:
        tf = F.col(f"tf_{q}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"dfr_{q}") + 0.5)
            / (F.col(f"dfr_{q}") + 0.5)
        )
        term = F.when(
            tf > 0,
            idf
            * tf
            * (_BM25_K1 + 1.0)
            / (
                tf
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        ).otherwise(F.lit(0.0))
        w = term if w is None else w + term
        m = (tf > 0).cast("long")
        nt = m if nt is None else nt + m
    return scored.where(nt > 0).select(
        "doc_id", F.round(w, 6).alias("bm25"), nt.alias("n_terms")
    )


_RERANK_QUERY = "spark table merge fast"  # == FLAGSHIP_QUERY (text_ops)

# DuckDB rendering of canon_ascii over the 80-char head (matches
# common.canon_sql applied to substr)
_HEAD_SQL = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(substr(d.text, 1, 80),"
    " '')), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)
_HEAD_TOKS_SQL = "list_distinct(list_filter(string_split(head, ' '), x -> x <> ''))"


@register(
    "rerank_bm25_then_proxy",
    "Two-phase retrieval (the reference's filter-then-verify pattern, "
    "repo.py:48-71, applied to ranked search): BM25 selects a "
    "deterministic top-50 candidate set (posting-only, cheap), then the "
    "per-candidate verifier — the oracle-expressible proxy of the X3 "
    "fuzzy kernel (levenshtein + distinct-token Jaccard on the 80-char "
    "canonical head, operators/fuzzy.py::proxy_similarity) — reranks "
    "ONLY those 50 after a join back to the text. At 100 TB the verify "
    "cost is candidate-bounded, not corpus-bounded, exactly like the "
    "reference's two-phase geocode.",
    oracle=f"""
      WITH dl AS (
        SELECT doc_id, {tokens_sql("text")} AS toks,
               len({tokens_sql("text")}) AS dl
        FROM documents
      ),
      stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl WHERE dl > 0),
      posting AS (
        SELECT doc_id, dl, tok, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
        WHERE tok IN ('spark', 'table', 'merge', 'fast')
        GROUP BY doc_id, dl, tok
      ),
      dfreq AS (SELECT tok, count(*) AS dfr FROM posting GROUP BY tok),
      bm25_scored AS (
        SELECT p.doc_id,
               round(sum(
                 ln(1.0 + (s.n_docs - f.dfr + 0.5) / (f.dfr + 0.5))
                 * p.tf * ({_BM25_K1} + 1.0)
                 / (p.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
               ), 6) AS bm25
        FROM posting p JOIN dfreq f USING (tok) CROSS JOIN stats s
        GROUP BY p.doc_id
      ),
      cand AS (
        SELECT doc_id, bm25 FROM bm25_scored
        ORDER BY bm25 DESC, doc_id LIMIT 50
      ),
      heads AS (
        SELECT c.doc_id, c.bm25, {_HEAD_SQL} AS head
        FROM cand c JOIN documents d USING (doc_id)
      ),
      verified AS (
        SELECT doc_id, bm25,
               0.5 * (1.0 - levenshtein(head, '{_RERANK_QUERY}')::DOUBLE
                      / greatest(length(head), {len(_RERANK_QUERY)}))
             + 0.5 * (len(list_intersect({_HEAD_TOKS_SQL},
                                         ['spark','table','merge','fast']))::DOUBLE
                      / (len({_HEAD_TOKS_SQL}) + 4
                         - len(list_intersect({_HEAD_TOKS_SQL},
                                              ['spark','table','merge','fast']))))
                 AS proxy
        FROM heads
      )
      SELECT doc_id, bm25, round(0.6 * bm25 + 0.4 * proxy, 6) AS final_score
      FROM verified
      ORDER BY final_score DESC, doc_id
      LIMIT 10
    """,
)
def rerank_bm25_then_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.functions.normalize import canon_ascii
    from scout_spark.operators.fuzzy import proxy_similarity

    d = table(spark, sf_dir, "documents")
    cand50 = (
        _bm25_all_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
    )
    head = canon_ascii(F.substring("text", 1, 80))
    proxy = proxy_similarity(head, _RERANK_QUERY)
    return (
        cand50.join(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "bm25",
            F.round(0.6 * F.col("bm25") + 0.4 * proxy, 6).alias("final_score"),
        )
        .orderBy(F.col("final_score").desc(), "doc_id")
        .limit(10)
    )


@register(
    "rerank_mmr_diversified",
    "MMR diversified top-10 (Carbonell & Goldstein, SIGIR'98; "
    "operators/mmr.py): distributed relevance pass (joinless cosine "
    "scan + TakeOrderedAndProject top-50 candidate cut — the same "
    "1-job shape as ann_cosine_topk_bruteforce), then the inherently "
    "sequential greedy selection runs driver-side over the BOUNDED "
    "50-row pool (one numpy gram product). Rows-only: the greedy "
    "trace isn't SQL-expressible; ground truth vs an independent "
    "numpy reference is pinned in tests/test_graph.py.",
    tags=("rows-only",),
)
def rerank_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.mmr import mmr_select

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    schema = "rank INT, vec_id LONG, relevance DOUBLE, mmr_score DOUBLE"
    if not qrows:
        return spark.createDataFrame([], schema)
    qv = qrows[0][0]
    pool = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            cosine_similarity(F.col("embedding"), F.lit(qv)).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(50)
        .collect()  # bounded candidate pool (50 rows)
    )
    ids = np.array([r["vec_id"] for r in pool])
    vecs = np.array([r["v"] for r in pool])
    rel = np.array([r["rel"] for r in pool])
    picks = mmr_select(ids, vecs, rel, k=10, lam=0.7)
    rows = [
        (i + 1, int(vid), round(r, 6), round(s, 6))
        for i, (vid, r, s) in enumerate(picks)
    ]
    return spark.createDataFrame(rows, schema)


# Hard-negative mining runs exact over a bounded QUERY BATCH (the
# per-batch shape of contrastive-training data prep); the corpus side
# streams. At 100 TB the candidate cut comes from the ANN index
# (operators/ann.py ivf_probe) instead of the full scan — this query
# is the exact-verify stage.
_HN_QUERY_BATCH = 50


@register(
    "mining_hard_negatives",
    "Hard-negative mining for contrastive training (DPR/Contriever "
    "recipe): for each query vector in a bounded batch (vec_id < "
    f"{_HN_QUERY_BATCH}), the top-3 most-cosine-similar vectors with a "
    "DIFFERENT label — semantically close but wrong — ranked per "
    "query. The query batch rides the kernel closure (bounded by "
    "construction); the corpus side is one streamed mapInPandas scan "
    "doing a single numpy matmul per Arrow batch against all queries "
    "and emitting only each batch's top-8 per query (map-side partial "
    "top-k — the window shuffle sees #batches x 8 rows per query, "
    "never the corpus), then a per-query top-3 window over the "
    "rounded score (ULP-stable rank key; ann_cosine_topk pattern). "
    "At 100 TB the candidate set comes from the IVF index probe "
    "instead of the full scan; this is the exact-verify stage of "
    "that pipeline.",
    oracle=f"""
      WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel
        FROM embeddings
        WHERE vec_id < {_HN_QUERY_BATCH}
          AND list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      ),
      scored AS (
        SELECT q.query_id, e.vec_id AS neg_id, e.label AS neg_label,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
                 AS cos_sim
        FROM q JOIN embeddings e
          ON e.label <> q.qlabel
        WHERE list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
      ),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neg_id) AS rnk
        FROM scored
      )
      SELECT query_id, rnk, neg_id, neg_label, cos_sim
      FROM ranked WHERE rnk <= 3
    """,
)
def mining_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") < _HN_QUERY_BATCH)
        .select("vec_id", F.col("embedding").cast("array<double>"), "label")
        .collect()  # bounded query batch (< _HN_QUERY_BATCH rows)
    )
    if not qrows:
        return spark.createDataFrame(
            [],
            "query_id long, rnk int, neg_id long, neg_label int,"
            " cos_sim double",
        )
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows])
    qlabels = np.array([r[2] for r in qrows])
    # zero-norm queries are excluded on BOTH sides (the oracle's q CTE
    # filters list_inner_product > 0): their cosine is undefined, and
    # an asymmetric guard would emit rows the other engine doesn't
    qn = np.linalg.norm(qmat, axis=1)
    keep_q = qn > 0
    qids, qmat, qlabels, qn = qids[keep_q], qmat[keep_q], qlabels[keep_q], qn[keep_q]
    qunit = qmat / qn[:, None]
    nq = len(qids)

    # One matmul per Arrow batch scores the batch against ALL queries
    # (the broadcast-join + interpreted zip_with formulation ran the
    # per-element HOF 3.25M × 64 times: 1.42 s → 0.35 s at sf0.1), and
    # each batch emits only its top-8 candidates per query — map-side
    # partial top-k, so the window shuffle sees #batches × 8 rows per
    # query instead of the whole corpus. 8 > the final 3 so rounded-
    # score ties broken by neg_id can never be cut by the batch bound.
    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy())
            xn = np.linalg.norm(x, axis=1)
            zero_rows = xn == 0
            xn[zero_rows] = 1.0
            raw = (x / xn[:, None]) @ qunit.T  # n × nq
            # round HALF AWAY FROM ZERO: np.round is banker's (half to
            # even) while both Spark's round and DuckDB's round are
            # half-away — a cosine landing exactly on an even .5 at
            # 6dp would otherwise disagree across engines
            s = np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6 * np.sign(raw)
            # zero-norm corpus vectors: undefined cosine, excluded on
            # both sides (oracle filters list_inner_product > 0)
            s[zero_rows, :] = -np.inf
            labels = pdf["label"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            out = {"query_id": [], "neg_id": [], "neg_label": [], "cos_sim": []}
            for j in range(nq):
                col = s[:, j].copy()
                col[labels == qlabels[j]] = -np.inf
                col[ids == qids[j]] = -np.inf
                keep = min(8, len(col))
                # order by (cos desc, neg_id asc) — the global ordering
                idx = np.lexsort((ids, -col))[:keep]
                idx = idx[np.isfinite(col[idx])]
                out["query_id"].extend([qids[j]] * len(idx))
                out["neg_id"].extend(ids[idx].tolist())
                out["neg_label"].extend(labels[idx].tolist())
                out["cos_sim"].extend(col[idx].tolist())
            yield pd.DataFrame(out)

    scored = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    ).mapInPandas(
        score_batches,
        "query_id long, neg_id long, neg_label int, cos_sim double",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neg_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("query_id", "rnk", "neg_id", "neg_label", "cos_sim")
    )


# ------------------------------------- reciprocal-rank fusion

_RRF_K = 60
_RRF_CAND = 100
_RRF_TOPK = 15


def _occ_sql(term: str) -> str:
    # occurrence count of `term` in lower(text): identical text on both
    # engines, exact integer via length difference div term length
    return (
        f"(length(lower(text)) - length(replace(lower(text), '{term}', '')))"
    )


@register(
    "rerank_rrf_fusion",
    "Reciprocal-rank fusion — THE standard hybrid-search combiner "
    "(Cormack et al.; used by every lexical+semantic stack): two "
    "independent rankers each nominate their top-100 candidates, and "
    "a document's fused score is sum over lists of 1/(60 + rank), "
    "absent-from-list contributing nothing. Ranker A is lexical "
    "(total occurrences of the reference's 4 query terms — same "
    "query as bm25_topk_retrieval, cf. reference app.py's ranked "
    "/search responses); ranker B is recency (doc_id descending, the "
    "freshness prior). Ranks are integers with doc_id tie-breaks; the "
    "1/(60+r) terms are single IEEE divisions summed in fixed order, "
    "so both engines produce bit-identical fused scores. 100 TB: each "
    "candidate list is a TakeOrdered top-k (no global shuffle), the "
    "fusion is a full-outer join of two 100-row frames.",
    oracle=f"""
      WITH scored AS (
        SELECT doc_id,
               ({" + ".join(_occ_sql(t) + f" // {len(t)}" for t in _BM25_TERMS)})
                 AS lex
        FROM documents
      ),
      top_a AS (
        SELECT doc_id, lex,
               row_number() OVER (ORDER BY lex DESC, doc_id) AS ra
        FROM scored ORDER BY lex DESC, doc_id LIMIT {_RRF_CAND}
      ),
      top_b AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY doc_id DESC) AS rb
        FROM documents ORDER BY doc_id DESC LIMIT {_RRF_CAND}
      )
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             a.ra AS rank_lex,
             b.rb AS rank_fresh,
             round(coalesce(1.0 / ({_RRF_K} + a.ra), 0.0)
                   + coalesce(1.0 / ({_RRF_K} + b.rb), 0.0), 6) AS rrf
      FROM top_a a FULL OUTER JOIN top_b b ON a.doc_id = b.doc_id
      ORDER BY coalesce(1.0 / ({_RRF_K} + a.ra), 0.0)
               + coalesce(1.0 / ({_RRF_K} + b.rb), 0.0) DESC,
               doc_id
      LIMIT {_RRF_TOPK}
    """,
)
def rerank_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    lex = F.expr(
        " + ".join(
            f"(length(lower(text)) - length(replace(lower(text),"
            f" '{t}', ''))) div {len(t)}"
            for t in _BM25_TERMS
        )
    )
    # TakeOrderedAndProject both times: no global shuffle to find the
    # candidate lists; the rank windows then run over <= 100 rows
    top_a = (
        d.select("doc_id", lex.alias("lex"))
        .orderBy(F.col("lex").desc(), "doc_id")
        .limit(_RRF_CAND)
        .select(
            "doc_id",
            "lex",
            F.row_number()
            .over(Window.orderBy(F.col("lex").desc(), "doc_id"))
            .alias("ra"),
        )
    )
    top_b = (
        d.select("doc_id")
        .orderBy(F.col("doc_id").desc())
        .limit(_RRF_CAND)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("doc_id").desc()))
            .alias("rb"),
        )
    )
    fused = top_a.join(top_b, "doc_id", "full_outer")
    score = F.coalesce(1.0 / (_RRF_K + F.col("ra")), F.lit(0.0)) + F.coalesce(
        1.0 / (_RRF_K + F.col("rb")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id",
            F.col("ra").alias("rank_lex"),
            F.col("rb").alias("rank_fresh"),
            F.round(score, 6).alias("rrf"),
            score.alias("_s"),
        )
        .orderBy(F.col("_s").desc(), "doc_id")
        .limit(_RRF_TOPK)
        .drop("_s")
    )


# ------------------------------- retrieval quality: NDCG / MRR

# discounted-gain constants quantized to 1e-9: g(r) = round(1e9 /
# log2(r+1)) for ranks 1..10, plus prefix sums for the ideal DCG —
# injected as literals so BOTH engines sum exact integers.

_NDCG_CASE_G = "CASE rank WHEN 1 THEN 1000000000 WHEN 2 THEN 630929754 WHEN 3 THEN 500000000 WHEN 4 THEN 430676558 WHEN 5 THEN 386852807 WHEN 6 THEN 356207187 WHEN 7 THEN 333333333 WHEN 8 THEN 315464877 WHEN 9 THEN 301029996 WHEN 10 THEN 289064826 ELSE 0 END"
_NDCG_CASE_PS = "CASE m WHEN 1 THEN 1000000000 WHEN 2 THEN 1630929754 WHEN 3 THEN 2130929754 WHEN 4 THEN 2561606312 WHEN 5 THEN 2948459119 WHEN 6 THEN 3304666306 WHEN 7 THEN 3637999639 WHEN 8 THEN 3953464516 WHEN 9 THEN 4254494512 WHEN 10 THEN 4543559338 ELSE 0 END"
_EVAL_TOPN = 20


@register(
    "retrieval_eval_ndcg_mrr",
    "Ranking-quality evaluation — NDCG@10, reciprocal rank, and "
    "precision@10 for a deliberately WEAK lexical ranker (first query term only) against a deterministic "
    "relevance oracle (a document is relevant iff it contains ALL "
    "four query terms — the conjunctive-match labeling every offline "
    "eval starts from; same query as bm25_topk_retrieval, cf. "
    "reference app.py's ranked /search responses). The log2 discount "
    "table is QUANTIZED to integer 1e-9 gains injected as CASE "
    "literals, so DCG and ideal-DCG are exact integer sums on both "
    "engines — no per-row transcendental ever aggregates. Output: "
    "one row of metrics plus the corpus relevant count. 100 TB: the "
    "candidate list is a TakeOrdered top-20; the corpus relevance "
    "count is one map-side-combinable agg.",
    oracle=f"""
      WITH scored AS (
        SELECT doc_id,
               ({" + ".join(
                   f"(length(lower(text)) - length(replace(lower(text),"
                   f" '{t}', ''))) // {len(t)}"
                   for t in _BM25_TERMS[:1]
               )}) AS lex,
               ({" AND ".join(
                   f"(length(lower(text)) - length(replace(lower(text),"
                   f" '{t}', ''))) >= {len(t)}"
                   for t in _BM25_TERMS
               )})::INT AS rel
        FROM documents
      ),
      corpus AS (SELECT sum(rel)::BIGINT AS n_rel FROM scored),
      top AS (
        SELECT rel,
               row_number() OVER (ORDER BY lex DESC, doc_id) AS rank
        FROM scored ORDER BY lex DESC, doc_id LIMIT {_EVAL_TOPN}
      ),
      m AS (
        SELECT sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END)::BIGINT
                 AS rel10,
               sum(CASE WHEN rank <= 10 AND rel = 1
                   THEN {_NDCG_CASE_G} ELSE 0 END)::BIGINT AS dcg_q,
               min(CASE WHEN rel = 1 THEN rank END) AS first_rel
        FROM top
      ),
      ideal AS (
        SELECT (SELECT {_NDCG_CASE_PS.replace("m ", "least(n_rel, 10) ")}
                FROM corpus) AS idcg_q
      )
      SELECT c.n_rel AS n_relevant_corpus,
             m.rel10 AS n_relevant_top10,
             round(m.rel10 / 10.0, 6) AS precision_at_10,
             round(coalesce(1.0 / m.first_rel, 0.0), 6)
               AS reciprocal_rank,
             round(CASE WHEN i.idcg_q > 0
                   THEN m.dcg_q::DOUBLE / i.idcg_q ELSE 0.0 END, 6)
               AS ndcg_at_10
      FROM m, corpus c, ideal i
    """,
)
def retrieval_eval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    lex = F.expr(
        " + ".join(
            f"(length(lower(text)) - length(replace(lower(text),"
            f" '{t}', ''))) div {len(t)}"
            for t in _BM25_TERMS[:1]
        )
    )
    rel = F.expr(
        "cast(("
        + " AND ".join(
            f"(length(lower(text)) - length(replace(lower(text),"
            f" '{t}', ''))) >= {len(t)}"
            for t in _BM25_TERMS
        )
        + ") as int)"
    )
    scored = d.select("doc_id", lex.alias("lex"), rel.alias("rel"))
    corpus = scored.agg(F.sum("rel").cast("long").alias("n_rel"))
    top = (
        scored.orderBy(F.col("lex").desc(), "doc_id")
        .limit(_EVAL_TOPN)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.col("lex").desc(), "doc_id"))
            .alias("rank"),
        )
    )
    m = top.agg(
        F.sum(F.when(F.col("rank") <= 10, F.col("rel")).otherwise(0))
        .cast("long")
        .alias("rel10"),
        F.sum(
            F.when(
                (F.col("rank") <= 10) & (F.col("rel") == 1),
                F.expr(_NDCG_CASE_G),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg_q"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
    )
    joined = m.crossJoin(F.broadcast(corpus)).withColumn(
        "idcg_q", F.expr(_NDCG_CASE_PS.replace("m ", "least(n_rel, 10) "))
    )
    return joined.select(
        F.col("n_rel").alias("n_relevant_corpus"),
        F.col("rel10").alias("n_relevant_top10"),
        F.round(F.col("rel10") / 10.0, 6).alias("precision_at_10"),
        F.round(
            F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)), 6
        ).alias("reciprocal_rank"),
        F.round(
            F.when(
                F.col("idcg_q") > 0,
                F.col("dcg_q").cast("double") / F.col("idcg_q"),
            ).otherwise(0.0),
            6,
        ).alias("ndcg_at_10"),
    )


# ---------------------------------- trigram-index substring search

_TRGM_PATTERN = "big query"


@register(
    "search_trigram_index_like",
    "Substring search through a TRIGRAM index (the pg_trgm / Lucene "
    "n-gram pattern): a '%pat%' predicate can never use a btree or "
    "minmax index, but a doc contains the pattern only if it contains "
    "every trigram of the pattern — so a trigram posting index prunes "
    "to a lossless candidate SUPERSET that a cheap contains() pass "
    "verifies. The same filter-then-verify discipline as the LSH/IVF "
    "ANN family, applied to text search; superset/equality pinned in "
    "tests/test_operators.py::TestTrigramSearch. The oracle is the "
    "ground truth the index must reproduce exactly: a plain LIKE "
    "scan. 100 TB: the (trigram, doc_id) posting frame is prebuilt "
    "and bucketed BY TRIGRAM, so a query seeks |trigrams(pattern)| "
    "posting lists instead of scanning the corpus; the row-local "
    "array_intersect probe here is that algebra against a live scan.",
    oracle=f"""
      SELECT doc_id, source, n_chars
      FROM documents
      WHERE text LIKE '%{_TRGM_PATTERN}%'
      ORDER BY doc_id
    """,
)
def search_trigram_index_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scout_spark.operators.trigram import trigram_search

    d = table(spark, sf_dir, "documents")
    return (
        trigram_search(d, "text", _TRGM_PATTERN)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# ----------------------------------------- KWIC concordance

_KWIC_PATTERN = "big query"
_KWIC_CTX = 24


@register(
    "search_kwic_concordance",
    "Keyword-in-context (KWIC) concordance — the classic corpus-"
    "linguistics presentation of search hits: for every document "
    "containing the pattern, the first match position and a "
    f"+/-{_KWIC_CTX}-char context snippet, clamped at text start. "
    "Pure scan-side string ops (locate/substr — codegen, no UDF, no "
    "shuffle except the result sort); the trigram candidates of "
    "search_trigram_index_like are the index-accelerated front end "
    "of the same query. 100 TB: embarrassingly parallel scan; "
    "output is |matches| rows.",
    oracle=f"""
      SELECT doc_id,
             strpos(text, '{_KWIC_PATTERN}')::BIGINT AS match_pos,
             substr(text,
                    greatest(strpos(text, '{_KWIC_PATTERN}')
                             - {_KWIC_CTX}, 1),
                    {_KWIC_CTX} + {len(_KWIC_PATTERN)} + {_KWIC_CTX}
                    + least(strpos(text, '{_KWIC_PATTERN}')
                            - {_KWIC_CTX} - 1, 0)) AS snippet
      FROM documents
      WHERE strpos(text, '{_KWIC_PATTERN}') > 0
      ORDER BY doc_id
    """,
)
def search_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    mp = F.locate(_KWIC_PATTERN, F.col("text"))
    start = F.greatest(mp - _KWIC_CTX, F.lit(1))
    # when the match sits near the text start, the window shrinks by
    # the clamped amount so both engines cut identical snippets
    length = (
        F.lit(_KWIC_CTX + len(_KWIC_PATTERN) + _KWIC_CTX)
        + F.least(mp - _KWIC_CTX - 1, F.lit(0))
    )
    return (
        d.where(mp > 0)
        .select(
            "doc_id",
            mp.cast("long").alias("match_pos"),
            F.col("text").substr(start, length).alias("snippet"),
        )
        .orderBy("doc_id")
    )


_QL_MU = 300


@register(
    "retrieval_dirichlet_query_likelihood",
    "Dirichlet-smoothed QUERY-LIKELIHOOD retrieval (Zhai & Lafferty "
    f"2001, mu={_QL_MU}) — the language-modeling scorer that "
    "complements BM25: score = sum over query terms of "
    "ln((tf + mu*cf/|C|) / (dl + mu)), where the collection model "
    "cf/|C| gives unseen terms nonzero mass. Reuses the PERSISTED "
    "per-doc tf frame the BM25 entry materializes (one tokenization "
    "per session — the production posting-index discipline); "
    "collection stats are one broadcast scalar row. Candidate set = "
    "docs matching >=1 term (the posting-driven candidate discipline "
    "— smoothing alone would rank every doc by length). "
    "Deterministic top-10 by (rounded score, doc_id). 100 TB: "
    "scoring is a joinless scan over the persisted frame + "
    "TakeOrdered; stats are one map-side-combined agg.",
    oracle=f"""
      WITH dl AS (
        SELECT doc_id, {tokens_sql("text")} AS toks,
               len({tokens_sql("text")}) AS dl
        FROM documents
      ),
      coll AS (SELECT sum(dl)::BIGINT AS clen FROM dl),
      posting AS (
        SELECT doc_id, dl, tok, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
        WHERE tok IN ('spark', 'table', 'merge', 'fast')
        GROUP BY doc_id, dl, tok
      ),
      cf AS (SELECT tok, sum(tf)::BIGINT AS cf FROM posting GROUP BY tok),
      cand AS (SELECT DISTINCT doc_id FROM posting),
      terms(tok) AS (VALUES ('spark'), ('table'), ('merge'), ('fast')),
      scored AS (
        SELECT c.doc_id,
               sum(ln((coalesce(p.tf, 0) + {_QL_MU} * cf.cf::DOUBLE
                       / coll.clen)
                      / (dl.dl + {_QL_MU}))) AS s,
               count(CASE WHEN p.tf IS NOT NULL THEN 1 END)::BIGINT
                 AS n_matched
        FROM cand c
        JOIN dl ON dl.doc_id = c.doc_id
        CROSS JOIN terms t
        JOIN cf ON cf.tok = t.tok
        LEFT JOIN posting p ON p.doc_id = c.doc_id AND p.tok = t.tok
        CROSS JOIN coll
        GROUP BY c.doc_id
      )
      SELECT doc_id, round(s, 6) AS ql_score, n_matched
      FROM scored
      ORDER BY round(s, 6) DESC, doc_id
      LIMIT 10
    """,
)
def retrieval_dirichlet_query_likelihood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    per_doc = _bm25_per_doc(spark, sf_dir)
    stats = per_doc.agg(
        F.sum("dl").cast("long").alias("clen"),
        *[
            F.sum(f"tf_{q}").cast("long").alias(f"cf_{q}")
            for q in _BM25_TERMS
        ],
    )
    cand = per_doc.where(
        sum(F.col(f"tf_{q}") for q in _BM25_TERMS) > 0
    )
    j = cand.crossJoin(F.broadcast(stats))
    score = sum(
        F.log(
            (
                F.col(f"tf_{q}")
                + _QL_MU * F.col(f"cf_{q}").cast("double") / F.col("clen")
            )
            / (F.col("dl") + _QL_MU)
        )
        for q in _BM25_TERMS
    )
    matched = sum(
        F.when(F.col(f"tf_{q}") > 0, 1).otherwise(0) for q in _BM25_TERMS
    )
    return (
        j.select(
            "doc_id",
            F.round(score, 6).alias("ql_score"),
            matched.cast("long").alias("n_matched"),
        )
        .orderBy(F.col("ql_score").desc(), "doc_id")
        .limit(10)
    )


# ------------------------------------- Kendall tau rank agreement

_KT_K = 20


@register(
    "eval_kendall_tau_rankings",
    "Kendall tau between two retrieval rankings (BM25 vs Dirichlet "
    f"QL over BM25's top-{_KT_K} candidates) — 'do my two scorers "
    "even agree on order', the rank-agreement companion to "
    "retrieval_eval_ndcg_mrr: tau = (concordant - discordant) / "
    "(n(n-1)/2), with both rankings made TOTAL orders by (rounded "
    "score, doc_id) so there are no ties to correct for and both "
    "engines count identical pairs. The pair enumeration is a "
    f"self-join over the {_KT_K}-row candidate list — bounded by "
    "k^2, never corpus-sized. 100 TB: candidates come from two "
    "TakeOrdered scans; the tau arithmetic is O(k^2) on the driver-"
    "scale frame.",
    oracle=f"""
      WITH dl AS (
        SELECT doc_id, {tokens_sql("text")} AS toks,
               len({tokens_sql("text")}) AS dl
        FROM documents
      ),
      stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl,
               sum(dl)::BIGINT AS clen
        FROM dl WHERE dl > 0
      ),
      posting AS (
        SELECT doc_id, dl, tok, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
        WHERE tok IN ('spark', 'table', 'merge', 'fast')
        GROUP BY doc_id, dl, tok
      ),
      dfreq AS (
        SELECT tok, count(*) AS dfr, sum(tf)::BIGINT AS cf
        FROM posting GROUP BY tok
      ),
      bm25 AS (
        SELECT p.doc_id,
               round(sum(
                 ln(1.0 + (s.n_docs - f.dfr + 0.5) / (f.dfr + 0.5))
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
               ), 6) AS b
        FROM posting p JOIN dfreq f USING (tok) CROSS JOIN stats s
        GROUP BY p.doc_id
        ORDER BY b DESC, p.doc_id
        LIMIT {_KT_K}
      ),
      terms(tok) AS (VALUES ('spark'), ('table'), ('merge'), ('fast')),
      ql AS (
        SELECT c.doc_id,
               round(sum(ln((coalesce(p.tf, 0)
                             + {_QL_MU} * f.cf::DOUBLE / s.clen)
                            / (dl.dl + {_QL_MU}))), 6) AS q
        FROM bm25 c
        JOIN dl ON dl.doc_id = c.doc_id
        CROSS JOIN terms t
        JOIN dfreq f ON f.tok = t.tok
        LEFT JOIN posting p ON p.doc_id = c.doc_id AND p.tok = t.tok
        CROSS JOIN stats s
        GROUP BY c.doc_id
      ),
      r AS (
        SELECT b.doc_id,
               row_number() OVER (ORDER BY b.b DESC, b.doc_id) AS r1,
               row_number() OVER (ORDER BY q.q DESC, q.doc_id) AS r2
        FROM bm25 b JOIN ql q USING (doc_id)
      ),
      pairs AS (
        SELECT CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) > 0 THEN 1 ELSE 0
               END AS conc
        FROM r a JOIN r b ON a.doc_id < b.doc_id
      )
      SELECT count(*)::BIGINT AS n_pairs,
             sum(conc)::BIGINT AS concordant,
             (count(*) - sum(conc))::BIGINT AS discordant,
             round((2.0 * sum(conc) - count(*)) / count(*), 6) AS kendall_tau
      FROM pairs
    """,
)
def eval_kendall_tau_rankings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bm25 = (
        _bm25_all_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_KT_K)
        .select("doc_id", F.col("bm25").alias("b"))
    )
    # rescore QL over exactly the BM25 candidates (the oracle's shape)
    per_doc = _bm25_per_doc(spark, sf_dir)
    stats = per_doc.agg(
        F.sum("dl").cast("long").alias("clen"),
        *[
            F.sum(f"tf_{q}").cast("long").alias(f"cf_{q}")
            for q in _BM25_TERMS
        ],
    )
    qls = (
        per_doc.join(F.broadcast(bm25.select("doc_id")), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                sum(
                    F.log(
                        (
                            F.col(f"tf_{q}")
                            + _QL_MU
                            * F.col(f"cf_{q}").cast("double")
                            / F.col("clen")
                        )
                        / (F.col("dl") + _QL_MU)
                    )
                    for q in _BM25_TERMS
                ),
                6,
            ).alias("q"),
        )
    )
    r = (
        bm25.join(qls, "doc_id")
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("b").desc(), "doc_id"))
            .alias("r1"),
            F.row_number()
            .over(Window.orderBy(F.col("q").desc(), "doc_id"))
            .alias("r2"),
        )
        .localCheckpoint()  # k rows; self-joined below
    )
    a, b = r.alias("a"), r.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.when(
            (F.col("a.r1") - F.col("b.r1"))
            * (F.col("a.r2") - F.col("b.r2"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc")
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        (F.count(F.lit(1)) - F.sum("conc")).cast("long").alias("discordant"),
        F.round(
            (2.0 * F.sum("conc") - F.count(F.lit(1)))
            / F.count(F.lit(1)),
            6,
        ).alias("kendall_tau"),
    )


# --------------------------------- posting-list compression estimate


@register(
    "index_postings_delta_bits",
    "Inverted-index compression estimate by DELTA + Elias-gamma cost "
    "model — the storage-engineering number behind every posting "
    "list format (doc ids are stored as gaps; gamma costs "
    "2*floor(log2(gap)) + 1 bits): per-term sorted postings, "
    "per-gap bit cost from the integer bit length "
    "(length(bin(gap)) - 1 — no FP log), aggregated to total "
    "postings, raw 64-bit size, gamma-coded size, and the "
    "compression ratio. Frequent terms compress best (small gaps) — "
    "exactly the skew that makes delta coding work. The per-term "
    "window partitions by TERM (parallel, posting-list-local). "
    "100 TB: one (term, doc) distinct shuffle — the index build "
    "itself — then window + agg on the posting stream.",
    oracle="""
      WITH posting AS (
        SELECT DISTINCT tok, doc_id
        FROM (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
          FROM documents
        )
      ),
      gaps AS (
        SELECT tok,
               doc_id - coalesce(lag(doc_id) OVER (PARTITION BY tok
                                                   ORDER BY doc_id), -1)
                 AS gap
        FROM posting
      ),
      cost AS (
        SELECT tok, gap,
               2 * (length(bin(gap)) - 1) + 1 AS bits
        FROM gaps
      )
      SELECT count(*)::BIGINT AS n_postings,
             (count(*) * 64)::BIGINT AS raw_bits,
             sum(bits)::BIGINT AS gamma_bits,
             round(sum(bits)::DOUBLE / (count(*) * 64), 6)
               AS compression_ratio,
             round(avg(bits), 6) AS avg_bits_per_posting
      FROM cost
    """,
)
def index_postings_delta_bits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    posting = (
        doc_tokens(spark, sf_dir)
        .select("tok", "doc_id")
        .distinct()
    )
    w = Window.partitionBy("tok").orderBy("doc_id")
    gaps = posting.select(
        "tok",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(-1))
        ).alias("gap"),
    )
    bits = 2 * (F.length(F.bin(F.col("gap"))) - 1) + 1
    cost = gaps.select(bits.alias("bits"))
    return cost.agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        (F.count(F.lit(1)) * 64).cast("long").alias("raw_bits"),
        F.sum("bits").cast("long").alias("gamma_bits"),
        F.round(
            F.sum("bits").cast("double") / (F.count(F.lit(1)) * 64), 6
        ).alias("compression_ratio"),
        F.round(F.avg("bits"), 6).alias("avg_bits_per_posting"),
    )


# ------------------------------- feature-based LTR rerank twin

_LTR_BIGRAMS = ("spark table", "table merge", "merge fast")
_LTR_ABSENT = 1_000_000_000  # first-match sentinel (candidates match >= 1 term)


@register(
    "rerank_ltr_linear_features",
    "Feature-based learning-to-rank rerank (VERDICT r06 item 7b — the "
    "cross-encoder-style second stage): BM25 selects a deterministic "
    "top-50 candidate set off the SHARED persisted posting frame "
    "(retrieval.py::_bm25_all_scored — the corpus is tokenized once "
    "per session, the BM25-family cache rule), then a fixed linear "
    "model scores five query-document features per candidate: bm25, "
    "term coverage, query-bigram hits (' spark table ' etc. as "
    "whole-token substrings of the padded canon text), earliest "
    "whole-token match position, and document length — the classic "
    "LTR feature template (production swaps the fixed weights for a "
    "trained model over the same feature frame). All features are "
    "integer or 6dp-rounded, the score expression is written in the "
    "identical order on both engines, and ties order by doc_id. "
    "100 TB: feature extraction is candidate-bounded (50 rows joined "
    "back to text), never corpus-bounded — the reference's two-phase "
    "filter-then-verify shape (repo.py:48-71) applied to LTR.",
    oracle=f"""
      WITH dl AS (
        SELECT doc_id, {tokens_sql("text")} AS toks,
               len({tokens_sql("text")}) AS dl
        FROM documents
      ),
      stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl WHERE dl > 0
      ),
      posting AS (
        SELECT doc_id, dl, tok, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
        WHERE tok IN ('spark', 'table', 'merge', 'fast')
        GROUP BY doc_id, dl, tok
      ),
      dfreq AS (SELECT tok, count(*) AS dfr FROM posting GROUP BY tok),
      bm25_scored AS (
        SELECT p.doc_id,
               round(sum(
                 ln(1.0 + (s.n_docs - f.dfr + 0.5) / (f.dfr + 0.5))
                 * p.tf * ({_BM25_K1} + 1.0)
                 / (p.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
               ), 6) AS bm25,
               count(*)::BIGINT AS n_terms
        FROM posting p JOIN dfreq f USING (tok) CROSS JOIN stats s
        GROUP BY p.doc_id
      ),
      cand AS (
        SELECT doc_id, bm25, n_terms FROM bm25_scored
        ORDER BY bm25 DESC, doc_id LIMIT 50
      ),
      feats AS (
        SELECT c.doc_id, c.bm25, c.n_terms, l.dl::BIGINT AS dl,
               ' ' || {canon_sql("d.text")} || ' ' AS pc
        FROM cand c
        JOIN documents d USING (doc_id)
        JOIN dl l USING (doc_id)
      ),
      scored AS (
        SELECT doc_id, bm25, n_terms, dl,
               ({" + ".join(f"CASE WHEN strpos(pc, ' {b} ') > 0 THEN 1 ELSE 0 END" for b in _LTR_BIGRAMS)})::BIGINT
                 AS bigram_hits,
               least({", ".join(f"CASE WHEN strpos(pc, ' {t} ') > 0 THEN strpos(pc, ' {t} ') ELSE {_LTR_ABSENT} END" for t in _BM25_TERMS)})::BIGINT
                 AS first_pos
        FROM feats
      )
      SELECT doc_id, bm25, n_terms, bigram_hits, first_pos, dl,
             round(bm25 + 0.5 * n_terms + 0.8 * bigram_hits
                   - 0.0005 * dl + 2.0 / (1.0 + first_pos), 6)
               AS ltr_score
      FROM scored
      ORDER BY ltr_score DESC, doc_id
      LIMIT 10
    """,
)
def rerank_ltr_linear_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from scout_spark.functions.normalize import canon_ascii

    cand = (
        _bm25_all_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
    )
    dl = _bm25_per_doc(spark, sf_dir).select(
        "doc_id", F.col("dl").cast("long").alias("dl")
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    pc = F.concat(F.lit(" "), canon_ascii(F.col("text")), F.lit(" "))
    feats = (
        d.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(dl.join(F.broadcast(cand.select("doc_id")), "doc_id")), "doc_id")
        .select("doc_id", "bm25", "n_terms", "dl", pc.alias("pc"))
    )
    bigram_hits = None
    for b in _LTR_BIGRAMS:
        hit = (F.instr(F.col("pc"), f" {b} ") > 0).cast("long")
        bigram_hits = hit if bigram_hits is None else bigram_hits + hit
    first_pos = F.least(
        *[
            F.when(
                F.instr(F.col("pc"), f" {t} ") > 0,
                F.instr(F.col("pc"), f" {t} "),
            ).otherwise(F.lit(_LTR_ABSENT))
            for t in _BM25_TERMS
        ]
    ).cast("long")
    scored = feats.select(
        "doc_id",
        "bm25",
        F.col("n_terms").cast("long").alias("n_terms"),
        bigram_hits.alias("bigram_hits"),
        first_pos.alias("first_pos"),
        "dl",
    )
    ltr = F.round(
        F.col("bm25")
        + 0.5 * F.col("n_terms")
        + 0.8 * F.col("bigram_hits")
        - 0.0005 * F.col("dl")
        + 2.0 / (1.0 + F.col("first_pos")),
        6,
    )
    return (
        scored.withColumn("ltr_score", ltr)
        .orderBy(F.col("ltr_score").desc(), "doc_id")
        .limit(10)
    )


# ------------------------------------------- Rocchio PRF expansion


_PRF_FEEDBACK_K = 10


@register(
    "retrieval_prf_rocchio_expansion",
    "Pseudo-relevance-feedback query expansion (Rocchio 1971 positive "
    "term weights): take the BM25 top-10 feedback docs for the "
    "flagship query (the SAME rounded-score/doc_id deterministic "
    "selection as bm25_topk_retrieval, off the shared persisted "
    "posting frame), then rank non-query terms by "
    "sum_tf_in_feedback × idf with the Robertson idf over corpus "
    "document frequency. The weight is one double expression from two "
    "integers (sum_tf, df) — no float accumulation to disagree on "
    "across engines. 100 TB: feedback set is top-k bounded; term "
    "candidates are feedback-vocabulary bounded and broadcast into "
    "ONE corpus pass for df; deterministic (weight desc, term) "
    "tie-break.",
    oracle=f"""
      WITH dl AS (
        SELECT doc_id, {tokens_sql("text")} AS toks,
               len({tokens_sql("text")}) AS dl
        FROM documents
      ),
      stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl WHERE dl > 0
      ),
      posting AS (
        SELECT doc_id, dl, tok, count(*) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
        WHERE tok IN ('spark', 'table', 'merge', 'fast')
        GROUP BY doc_id, dl, tok
      ),
      dfreq AS (SELECT tok, count(*) AS dfr FROM posting GROUP BY tok),
      fb AS (
        SELECT p.doc_id,
               round(sum(
                 ln(1.0 + (s.n_docs - f.dfr + 0.5) / (f.dfr + 0.5))
                 * p.tf * ({_BM25_K1} + 1.0)
                 / (p.tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
               ), 6) AS bm25
        FROM posting p JOIN dfreq f USING (tok) CROSS JOIN stats s
        GROUP BY p.doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {_PRF_FEEDBACK_K}
      ),
      alltoks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        FROM documents
      ),
      tfs AS (
        SELECT t.tok, count(*)::BIGINT AS sum_tf
        FROM alltoks t JOIN fb USING (doc_id)
        WHERE t.tok NOT IN ('spark', 'table', 'merge', 'fast')
        GROUP BY t.tok
      ),
      dfr2 AS (
        SELECT tok, count(DISTINCT doc_id)::BIGINT AS df
        FROM alltoks WHERE tok IN (SELECT tok FROM tfs)
        GROUP BY tok
      ),
      n AS (SELECT count(*) AS n_docs FROM documents)
      SELECT f.tok AS term, f.sum_tf, d.df,
             round(f.sum_tf
                   * ln(1.0 + (n.n_docs - d.df + 0.5) / (d.df + 0.5)),
                   6) AS rocchio
      FROM tfs f JOIN dfr2 d USING (tok) CROSS JOIN n
      ORDER BY rocchio DESC, term
      LIMIT 10
    """,
)
def retrieval_prf_rocchio_expansion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Top-k feedback doc_ids as a LITERAL cursor (bounded driver
    # contraction, k=10 longs): the lazy broadcast form re-ran the
    # whole BM25-scoring subtree under BOTH consumers' broadcast
    # exchanges (~16 jobs/build, 3.3 s solo — FLOOR_r11); the
    # deterministic rounded-score/doc_id selection is unchanged.
    fb_ids = [
        r.doc_id
        for r in _bm25_all_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_PRF_FEEDBACK_K)
        .select("doc_id")
        .collect()
    ]
    tok = doc_tokens(spark, sf_dir)
    fbt = tok.where(
        F.col("doc_id").isin(fb_ids) & ~F.col("tok").isin(*_BM25_TERMS)
    )
    # feedback vocabulary == tfs's key set; the eager checkpoint of
    # the vocab-bounded agg lets the fterms broadcast read |vocab|
    # rows instead of re-evaluating the fbt lineage a second time
    tfs = (
        fbt.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("sum_tf"))
        .localCheckpoint(eager=True)
    )
    fterms = tfs.select("tok")
    dfr = (
        tok.join(F.broadcast(fterms), "tok")
        .groupBy("tok")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )
    nd = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        tfs.join(dfr, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("tok").alias("term"),
            "sum_tf",
            "df",
            F.round(
                F.col("sum_tf")
                * F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ),
                6,
            ).alias("rocchio"),
        )
        .orderBy(F.col("rocchio").desc(), "term")
        .limit(10)
    )
