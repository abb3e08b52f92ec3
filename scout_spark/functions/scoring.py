"""Gazetteer scoring expressions (SURVEY.md §2.4 A3, §2.8 F7/F8, §2.9 X4/X5).

Everything here is a Column builder — the compile-time analogue of the
reference's DuckDB SQL macros (000_init.sql:5-21) and its per-row Python
scoring loop (ranking.py:31-114), kept codegen-able so scoring runs
JVM-side over the whole candidate set.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column
from pyspark.sql import functions as F

from scout_spark.settings import DEFAULT_TYPE_BOOST, DEFAULT_WEIGHTS

POI_KIND_CLASSES = ("amenity", "shop", "tourism", "leisure", "office")


def _tag(tags: Column, key: str) -> Column:
    """NULL-safe map subscript, matching DuckDB ``tags['k']``
    (SURVEY.md §2.8 F12)."""
    return tags.getItem(key)


def kind_expr(tags: Column) -> Column:
    """First non-empty POI class, labeled ``<class>:<value>``, else
    ``'unknown'`` (reference sql/migrations/001_pois.sql:32-39)."""
    expr = None
    for cls in POI_KIND_CLASSES:
        val = _tag(tags, cls)
        cond = F.coalesce(val, F.lit("")) != ""
        branch = F.concat(F.lit(f"{cls}:"), val)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr.otherwise(F.lit("unknown"))


def importance_expr(tags: Column) -> Column:
    """Saturating additive importance in [0,1]
    (reference sql/migrations/001_pois.sql:40-46)."""
    boosts = [
        F.when(_tag(tags, "wikidata").isNotNull(), 0.40).otherwise(0.0),
        F.when(F.coalesce(_tag(tags, "tourism"), F.lit("")) != "", 0.25).otherwise(0.0),
        F.when(F.coalesce(_tag(tags, "amenity"), F.lit("")) != "", 0.20).otherwise(0.0),
        F.when(F.coalesce(_tag(tags, "shop"), F.lit("")) != "", 0.10).otherwise(0.0),
        F.when(_tag(tags, "website").isNotNull(), 0.05).otherwise(0.0),
    ]
    return F.least(F.lit(1.0), reduce(add, boosts))


def type_boost_expr(
    kind: Column, boost_map: dict[str, float] | None = None
) -> Column:
    """CASE-WHEN chain generated from the config map — first prefix match
    wins, else default (reference ranking.py:34-38; config.toml:19-23).
    Generated expression stays codegen-able — no UDF (SURVEY.md §2.9 X4).
    """
    boost_map = boost_map or DEFAULT_TYPE_BOOST
    default = float(boost_map.get("default", 0.4))
    expr = None
    for prefix, val in boost_map.items():
        if prefix == "default":
            continue
        cond = kind.startswith(prefix)
        expr = F.when(cond, float(val)) if expr is None else expr.when(cond, float(val))
    return expr.otherwise(default) if expr is not None else F.lit(default)


def score_expr(
    best_sim: Column,
    kind: Column,
    importance: Column,
    proximity: Column | None = None,
    weights: dict[str, float] | None = None,
    type_boost_map: dict[str, float] | None = None,
) -> Column:
    """Linear ranking score (reference ranking.py:79-93):
    w_sim*best_sim + w_type*type_boost(kind) + w_imp*importance
    [+ w_prox*proximity when a bbox was resolved].

    The proximity term is intentionally conditional — score scale differs
    between hinted and unhinted queries, preserved per SURVEY.md §2.9 X5.
    Score is unnormalized and may exceed 1.0 (SURVEY.md §2.12).
    """
    w = weights or DEFAULT_WEIGHTS
    s = (
        F.lit(float(w["similarity"])) * best_sim
        + F.lit(float(w["type"])) * type_boost_expr(kind, type_boost_map)
        + F.lit(float(w["importance"]))
        * F.coalesce(importance.cast("double"), F.lit(0.0))
    )
    if proximity is not None:
        s = s + F.lit(float(w["proximity"])) * proximity
    return s
