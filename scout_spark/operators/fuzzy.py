"""Fuzzy similarity scoring (SURVEY.md §2.9 X3) — the one genuinely
non-SQL kernel in the reference (rapidfuzz ``fuzz.WRatio``,
reference ranking.py:73-76).

One WRatio kernel, ``_score_series``: rapidfuzz when importable (C++),
else ``functions/wratio.py`` — a pure-Python implementation of the SAME
published WRatio algorithm (Indel-ratio composite with token sort/set
and length-ratio-scaled partial variants, bit-parallel LCS kernel), not
an approximation: algorithm-parity with the reference's
ranking.py:73-76 scores on the same [0,1] scale. Its users:
  - ``ScoutEngine.forward`` (plans/geocode.py) calls it on the driver
    over each request's capped candidates — the serving scorer;
  - ``best_sim_udf`` wraps it as an Arrow-batched pandas UDF, behind the
    ``fuzzy_wratio_pandas_udf`` inventory entry.

``proxy_similarity`` / ``proxy_similarity_col`` are a pure Column
expression (levenshtein + distinct-token Jaccard blend) — codegen-able
and oracle-expressible. They score the batch plan
(plans/batch_geocode.py) and the ``rerank_bm25_then_proxy`` entry;
``flagship_fuzzy_search`` states the same blend inline beside its
DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from scout_spark.functions.wratio import _cached_wratio

try:  # gate: not installed in this container; baked-in on real deploys
    from rapidfuzz import fuzz as _rf_fuzz

    HAVE_RAPIDFUZZ = True
except ImportError:
    _rf_fuzz = None
    HAVE_RAPIDFUZZ = False


def _score_series(queries: list[str], targets: pd.Series) -> pd.Series:
    """max over query texts of WRatio(q, target)/100 for each target —
    the one kernel behind ``best_sim_udf`` and the serving engine's
    driver-side scoring (plans/geocode.py)."""
    if HAVE_RAPIDFUZZ:
        scorer = _rf_fuzz.WRatio
    else:
        scorer = _cached_wratio
    out = []
    for t in targets:
        if not t:
            out.append(0.0)
            continue
        out.append(max((scorer(q, t) for q in queries), default=0.0) / 100.0)
    return pd.Series(out, dtype="float64")


def best_sim_udf(query_texts: list[str]):
    """pandas UDF: best_sim against a fixed list of normalized query
    candidates (reference ranking.py:66-77 — max over candidates of max
    over name columns happens by applying this to each name column and
    taking ``greatest``)."""
    queries = [q for q in query_texts if q]

    @F.pandas_udf(DoubleType())
    def _best_sim(target: pd.Series) -> pd.Series:
        return _score_series(queries, target.fillna(""))

    return _best_sim


def proxy_similarity(target_norm: Column, query_norm: str) -> Column:
    """Oracle-expressible fuzzy proxy (SURVEY.md §2.9 X3 second row):
    0.5·(1 - levenshtein/maxlen) + 0.5·token-set Jaccard, on [0,1]."""
    return proxy_similarity_col(target_norm, F.lit(query_norm))


def proxy_similarity_col(target_norm: Column, query_norm: Column) -> Column:
    """proxy_similarity with a per-row query column — the batched-geocode
    form where each row carries its own request text."""
    q = query_norm
    t = F.coalesce(target_norm, F.lit(""))
    lev = F.levenshtein(t, q).cast("double")
    # try_divide: both strings empty → greatest(0,0)=0 divisor, which
    # ANSI mode aborts on; NULL propagates to a 0.0 sim via coalesce
    sim_lev = F.coalesce(
        F.lit(1.0) - F.try_divide(lev, F.greatest(F.length(t), F.length(q))),
        F.lit(0.0),
    )
    ttoks = F.array_distinct(F.regexp_extract_all(t, F.lit(r"\S+"), 0))
    qtoks = F.array_distinct(F.regexp_extract_all(q, F.lit(r"\S+"), 0))
    isect = F.size(F.array_intersect(ttoks, qtoks))
    union = F.size(ttoks) + F.size(qtoks) - isect
    jac = F.when(union > 0, isect.cast("double") / union).otherwise(F.lit(0.0))
    return 0.5 * F.greatest(sim_lev, F.lit(0.0)) + 0.5 * jac
