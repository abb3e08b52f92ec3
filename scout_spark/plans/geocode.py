"""Forward-geocode serving plan — the reference's flagship query path
(reference app.py:67-114 → repo.py → ranking.py; SURVEY.md §3.1)
restated as one lazy DataFrame per request.

Pipeline (all semantics preserved, SURVEY.md §2.12):
  tokenize+dedup (driver) → area bbox resolve (driver-side lookup over
  the admin rows collected once, top-1 by area) → candidate scan
  (token-contains ∧ bbox BETWEEN, capped) → score (fuzzy best-sim + type
  boost + importance [+ proximity iff bbox]) → top-k.

Scale shape: the scan is filter→project over partition-pruned parquet
(embarrassingly parallel, no shuffle); the ``limit_scan`` cap is one
TakeOrderedAndProject; scoring is one pandas-UDF stage over the capped
rows (or pure-Column proxy); top-k is a second TakeOrderedAndProject. A
request with tokens runs one Spark job, and with the pandas UDF one
Python task. Area resolution runs no job: the admin table is tiny, so
the engine collects the columns the lookup needs once at construction
(the reference opens it per request, app.py:44-56 — SURVEY.md §4 O10
replaces that with a long-lived in-memory copy).

The substring scan is the only candidate path. The whole-token index in
operators/inverted_index.py is not a superset of substring matches
("mono" misses "monograph"), so it cannot serve the reference's rule;
only the batch plan uses it. The engine's config is
``scout_spark.settings.GeocodeSettings``, importable from here too.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.functions.geo import haversine_km, proximity_decay
from scout_spark.functions.normalize import canon
from scout_spark.functions.scoring import score_expr
from scout_spark.operators.fuzzy import best_sim_udf, proxy_similarity
from scout_spark.settings import GeocodeSettings


def _norm_text(s: str | None) -> str:
    """Driver-side normalizer for request strings — same semantics as the
    engine's canon() (unified normalizer, SURVEY.md §2.8 F1/F2)."""
    import re

    s = (s or "").lower()
    s = re.sub(r"[^\w\s]|_", " ", s, flags=re.UNICODE)
    return re.sub(r"\s+", " ", s).strip()


def _tokens(s: str | None) -> list[str]:
    return [t for t in _norm_text(s).split(" ") if t]


_BBOX_COLS = ("minx", "miny", "maxx", "maxy", "center_lat", "center_lon")


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
        # the whole area lookup's input, collected once in lookup order
        # (bbox area DESC NULLS LAST, osm_id ASC NULLS FIRST); a row
        # missing a corner or centre has no usable bbox and is left out
        area = (F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))
        self._areas = [
            (
                r["admin_level"],
                r["name_local_norm"] or "",
                r["name_en_norm"] or "",
                tuple(float(r[c]) for c in _BBOX_COLS),
            )
            for r in admin.dropna(subset=list(_BBOX_COLS))
            .orderBy(area.desc(), F.col("osm_id"))
            .select("admin_level", "name_local_norm", "name_en_norm", *_BBOX_COLS)
            .collect()
        ]

    # -- area resolution (reference repo.py:16-45) -----------------------
    def resolve_area_bbox(
        self, city_hint: str | None, country: str | None
    ) -> tuple[float, float, float, float, float, float] | None:
        """Top-1 admin row by bbox area (ties on osm_id); city
        (admin_level ≥ 6) tried before country (= 2); every hint token
        must be contained in the normalized local or English name. A
        driver-side scan of the admin rows collected at construction —
        no Spark job; the result becomes literals of the candidate scan,
        the procedural shape the reference uses (bind params of its next
        query). Admin rows with a NULL bbox corner or centre never
        match."""
        for hint, level_ok in (
            (city_hint, lambda level: level >= 6),
            (country, lambda level: level == 2),
        ):
            toks = _tokens(hint)
            if not toks:
                continue
            for level, local, en, bbox in self._areas:
                if (
                    level is not None
                    and level_ok(level)
                    and all(t in local or t in en for t in toks)
                ):
                    return bbox
        return None

    # -- candidate scan (reference repo.py:48-71) -------------------------
    def fetch_candidates(self, name_tokens: list[str], bbox: tuple | None) -> DataFrame:
        """Every token is a substring of the local or English name (the
        reference's ``LIKE '%tok%'``), inside the hint bbox, capped."""
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
            self.settings.limit_scan
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
            # nondeterministic keeps the score projection above the
            # limit_scan cap: a deterministic one is pushed below it, and
            # the Python eval between the cap's limit and sort turns the
            # cap into a range-partitioned global sort (extra jobs, a
            # UDF task per shuffle partition) instead of one
            # TakeOrderedAndProject feeding a single Python task
            sim_fn = best_sim_udf(query_norms).asNondeterministic()
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
