"""Token inverted index (SURVEY.md §4 O8 — the one place a custom
structure can beat the naive plan).

The reference builds ART indexes on normalized-name columns
(reference sql/migrations/001_pois.sql:54-55) that its own leading-
wildcard ``LIKE '%tok%'`` scan can never use — DuckDB full-scans anyway
(SURVEY.md §4 O8). The Spark-native acceleration is a NEW structure,
not a port: explode normalized names into a (token, id) posting table;
a query joins its tokens and keeps ids matching ALL of them.

Only the batch plan (plans/batch_geocode.py) reads it. The index matches
whole tokens, while the reference's LIKE matches substrings inside words
("mono" matches "monograph"), so per-request serving keeps the substring
scan. At 100 TB the posting table is written bucketed by token so a
query touches |query tokens| buckets instead of the full gazetteer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_token_index(
    pois: DataFrame,
    id_col: str = "osm_id",
    norm_cols: tuple[str, ...] = ("name_local_norm", "name_en_norm"),
) -> DataFrame:
    """(token, id) posting table over the normalized name columns.
    Distinct per (token, id); one explode per name column, unioned."""
    parts = []
    for c in norm_cols:
        parts.append(
            pois.where(F.col(c).isNotNull())
            .select(
                F.explode(
                    F.regexp_extract_all(F.col(c), F.lit(r"\S+"), 0)
                ).alias("token"),
                F.col(id_col).alias("id"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.distinct()
