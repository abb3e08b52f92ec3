"""Forward-geocode serving plan — the reference's flagship query path
(reference app.py:67-114 → repo.py → ranking.py; SURVEY.md §3.1)
restated as one lazy DataFrame per request.

Pipeline (all semantics preserved, SURVEY.md §2.12):
  tokenize+dedup (driver) → area bbox resolve (cached admin, top-1 by
  area) → candidate scan (token-contains ∧ bbox BETWEEN, capped) →
  score (fuzzy best-sim + type boost + importance [+ proximity iff bbox])
  → top-k.

Scale shape: the scan is filter→project over partition-pruned parquet
(embarrassingly parallel, no shuffle); scoring is one pandas-UDF stage
(or pure-Column proxy); top-k is TakeOrderedAndProject. The admin table
is tiny and cached (reference opens it per-request, app.py:44-56 —
SURVEY.md §4 O10 replaces that with a long-lived cache).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from operator import and_, or_

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.functions.geo import haversine_km, proximity_decay
from scout_spark.functions.normalize import canon
from scout_spark.functions.scoring import (
    DEFAULT_TYPE_BOOST,
    DEFAULT_WEIGHTS,
    score_expr,
)
from scout_spark.operators.fuzzy import best_sim_udf, proxy_similarity


def _norm_text(s: str | None) -> str:
    """Driver-side normalizer for request strings — same semantics as the
    engine's canon() (unified normalizer, SURVEY.md §2.8 F1/F2)."""
    import re

    s = (s or "").lower()
    s = re.sub(r"[^\w\s]|_", " ", s, flags=re.UNICODE)
    return re.sub(r"\s+", " ", s).strip()


def _tokens(s: str | None) -> list[str]:
    return [t for t in _norm_text(s).split(" ") if t]


@dataclass(frozen=True)
class GeocodeSettings:
    """reference config.toml:12-23 / settings.py:46-53 defaults."""

    weights: dict[str, float] = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    type_boost: dict[str, float] = field(
        default_factory=lambda: dict(DEFAULT_TYPE_BOOST)
    )
    proximity_km: float = 25.0
    limit_scan: int = 10_000
    use_pandas_udf: bool = True  # False → pure-Column proxy scorer
    # opt-in token inverted index (SURVEY.md §4 O8): whole-token match
    # semantics instead of the reference's substring LIKE — see
    # operators/inverted_index.py for the documented difference
    use_token_index: bool = False


class ScoutEngine:
    """Long-lived serving engine over pois/admin DataFrames
    (SURVEY.md §3.3: replaces per-request DuckDB connections with one
    SparkSession + cached dims)."""

    def __init__(
        self,
        spark: SparkSession,
        pois: DataFrame,
        admin: DataFrame,
        settings: GeocodeSettings | None = None,
    ):
        self.spark = spark
        self.settings = settings or GeocodeSettings()
        self.pois = pois
        # caching an already-persisted frame (shared_frame) only logs a warning
        self.admin = admin.cache() if admin.storageLevel == StorageLevel.NONE else admin
        self.token_index = None
        if self.settings.use_token_index:
            from scout_spark.operators.inverted_index import build_token_index

            self.token_index = build_token_index(pois).cache()

    # -- area resolution (reference repo.py:16-45) -----------------------
    def resolve_area_bbox(
        self, city_hint: str | None, country: str | None
    ) -> tuple[float, float, float, float, float, float] | None:
        """Top-1 admin row by bbox area; city (admin_level ≥ 6) tried
        before country (= 2); token-contains match on normalized names.
        Collected to driver literals — the procedural shape the reference
        uses (its output becomes bind params of the next query)."""
        for hint, level_pred in (
            (city_hint, F.col("admin_level") >= 6),
            (country, F.col("admin_level") == 2),
        ):
            toks = _tokens(hint)
            if not toks:
                continue
            pred = reduce(
                and_,
                [
                    (
                        F.coalesce(F.col("name_local_norm"), F.lit("")).contains(t)
                        | F.coalesce(F.col("name_en_norm"), F.lit("")).contains(t)
                    )
                    for t in toks
                ],
            )
            row = (
                self.admin.where(pred & level_pred)
                .orderBy(
                    (
                        (F.col("maxx") - F.col("minx"))
                        * (F.col("maxy") - F.col("miny"))
                    ).desc(),
                    F.col("osm_id"),
                )
                .select("minx", "miny", "maxx", "maxy", "center_lat", "center_lon")
                .limit(1)
                .collect()
            )
            if row:
                return tuple(float(v) for v in row[0])
        return None

    # -- candidate scan (reference repo.py:48-71) -------------------------
    def fetch_candidates(
        self,
        name_tokens: list[str],
        bbox: tuple | None,
        limit_scan: int | None = None,
    ) -> DataFrame:
        if name_tokens and self.token_index is not None:
            from scout_spark.operators.inverted_index import indexed_candidate_scan

            df = indexed_candidate_scan(self.pois, self.token_index, name_tokens)
        else:
            pred = F.lit(True)
            if name_tokens:
                pred = reduce(
                    and_,
                    [
                        (
                            F.coalesce(F.col("name_local_norm"), F.lit("")).contains(t)
                            | F.coalesce(F.col("name_en_norm"), F.lit("")).contains(t)
                        )
                        for t in name_tokens
                    ],
                )
            df = self.pois.where(pred)
        if bbox:
            minx, miny, maxx, maxy, _, _ = bbox
            df = df.where(
                F.col("lat").between(miny, maxy) & F.col("lon").between(minx, maxx)
            )
        # deliberate improvement over the reference (flagged, SURVEY.md §4
        # O6): its LIMIT without ORDER BY truncates candidates
        # nondeterministically (repo.py:52); we cap on (importance desc,
        # osm_id) — a distributed top-k heap, so the cap keeps the most
        # important candidates and identical requests see identical sets.
        return df.orderBy(F.col("importance").desc(), F.col("osm_id")).limit(
            limit_scan or self.settings.limit_scan
        )

    # -- scoring (reference ranking.py:31-114) ----------------------------
    def _scored(
        self, candidates: DataFrame, query_norms: list[str], bbox: tuple | None
    ) -> DataFrame:
        s = self.settings
        # target = precomputed norm, else canon of the raw name
        # (reference ranking.py:71-72 fallback)
        target_local = F.coalesce(F.col("name_local_norm"), canon(F.col("name_local")))
        target_en = F.coalesce(F.col("name_en_norm"), canon(F.col("name_en")))
        if s.use_pandas_udf:
            sim_fn = best_sim_udf(query_norms)
            best_sim = F.greatest(sim_fn(target_local), sim_fn(target_en))
        else:
            sims = [
                F.greatest(
                    proxy_similarity(target_local, q),
                    proxy_similarity(target_en, q),
                )
                for q in query_norms
            ]
            best_sim = sims[0] if len(sims) == 1 else F.greatest(*sims)
        proximity = None
        if bbox:
            _, _, _, _, ctr_lat, ctr_lon = bbox
            d = haversine_km(
                F.col("lat"), F.col("lon"), F.lit(ctr_lat), F.lit(ctr_lon)
            )
            proximity = proximity_decay(d, s.proximity_km)
        return candidates.withColumn(
            "score",
            score_expr(
                best_sim,
                F.col("kind"),
                F.col("importance"),
                proximity,
                s.weights,
                s.type_boost,
            ),
        )

    # -- full request (reference app.py:67-114) ---------------------------
    def forward(
        self,
        candidates: list[str],
        country: str | None = None,
        city_hint: str | None = None,
        limit: int = 5,
    ) -> DataFrame:
        """Returns the hit DataFrame (name, lat, lon, country, state,
        city, osm_id, kind, score) — collect() at the service boundary.
        Empty token list → empty result without a scan (app.py:96-97)."""
        # order-preserving token dedup across candidate texts (app.py:89-95)
        seen: dict[str, None] = {}
        for text in candidates:
            for t in _tokens(text):
                seen.setdefault(t)
        toks = list(seen)
        query_norms = [q for q in (_norm_text(t) for t in candidates) if q]
        if not toks:
            return self._empty_hits()
        bbox = self.resolve_area_bbox(city_hint, country)
        cand = self.fetch_candidates(toks, bbox)
        scored = self._scored(cand, query_norms, bbox)
        return scored.select(
            F.coalesce(F.col("name_local"), F.col("name_en"), F.lit("")).alias(
                "name"
            ),
            "lat",
            "lon",
            "country",
            "state",
            "city",
            "osm_id",
            "kind",
            "score",
        ).orderBy(F.col("score").desc(), F.col("osm_id")).limit(limit)

    def reverse(self, lat: float, lon: float, limit: int = 5) -> DataFrame:
        """Reverse geocoding — nearest POIs to a coordinate (extension;
        the reference is forward-only, README.md:6). Pure Column
        haversine + TakeOrderedAndProject; a coarse bbox prefilter
        (±~1° ≈ 111 km) reaches the parquet scan as min/max pruning so
        the trig runs only near the query point."""
        prefilter = F.col("lat").between(lat - 1.0, lat + 1.0) & F.col(
            "lon"
        ).between(lon - 1.0, lon + 1.0)
        d = haversine_km(F.col("lat"), F.col("lon"), F.lit(lat), F.lit(lon))
        return (
            self.pois.where(prefilter)
            .select(
                F.coalesce(F.col("name_local"), F.col("name_en"), F.lit("")).alias(
                    "name"
                ),
                "lat",
                "lon",
                "kind",
                "osm_id",
                F.round(d, 6).alias("distance_km"),
            )
            .orderBy(F.col("distance_km"), F.col("osm_id"))
            .limit(limit)
        )

    def _empty_hits(self) -> DataFrame:
        return self.spark.createDataFrame(
            [],
            "name string, lat double, lon double, country string, state string,"
            " city string, osm_id bigint, kind string, score double",
        )
