"""Forward-geocode serving plan — the reference's flagship query path
(reference app.py:67-114 → repo.py → ranking.py; SURVEY.md §3.1)
restated as one parameterized Spark SQL scan per request, scored on the
driver.

Pipeline (all semantics preserved, SURVEY.md §2.12):
  tokenize+dedup (driver) → area bbox resolve (driver-side lookup over
  the admin rows collected once, top-1 by area) → candidate scan
  (token-contains ∧ inside bbox, capped; Spark) → one Arrow collect →
  score (fuzzy best-sim + type boost + importance [+ proximity iff
  bbox]; driver) → top-k (driver).

Scale shape: the scan is filter→project over partition-pruned parquet
(embarrassingly parallel, no shuffle) and the ``limit_scan`` cap is one
TakeOrderedAndProject, planned from one ``spark.sql`` text with the
request's tokens and bbox bound as parameters. No value of the scan
becomes a primitive literal of its generated code, so the compiled
classes depend on the query shape only (token count, bbox or none) and
every request after the first of its shape hits Spark's codegen cache.
At most ``limit_scan`` rows cross to the driver, whatever the
gazetteer's size, and are scored there with numpy and the WRatio
kernel (``operators/fuzzy._score_series``) — the reference's own shape
(repo.py:48-71 → ranking.py:31-114) and the engine's only scorer; the
Column proxy of operators/fuzzy.py scores the batch plan, not requests.
A request with tokens runs one Spark job and no Python task; its plan
costs a few dozen py4j calls instead of a Column tree of over a
thousand. Area resolution runs no job: the admin table is tiny, so the
engine collects the columns the lookup needs once at construction (the
reference opens it per request, app.py:44-56 — SURVEY.md §4 O10
replaces that with a long-lived in-memory copy).

The substring scan is the only candidate path. The whole-token index in
operators/inverted_index.py is not a superset of substring matches
("mono" misses "monograph"), so it cannot serve the reference's rule;
only the batch plan uses it. The engine's config is
``scout_spark.settings.GeocodeSettings``, importable from here too.
"""

from __future__ import annotations

import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scout_spark.functions.geo import EARTH_RADIUS_KM, haversine_km
from scout_spark.functions.normalize import CANON_SQL
from scout_spark.operators.fuzzy import _score_series
from scout_spark.settings import DEFAULT_TYPE_BOOST, DEFAULT_WEIGHTS, GeocodeSettings


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

# the scoring targets: the precomputed norm, else canon of the raw name
# (reference ranking.py:71-72 fallback)
_TARGETS_SQL = ", ".join(
    f"coalesce(name_{n}_norm, {CANON_SQL.format(col=f'name_{n}')}) AS target_{n}"
    for n in ("local", "en")
)


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
        # the candidate scan's table; unique per engine, so engines over
        # different frames can share one session
        self._view = f"scout_pois_{uuid.uuid4().hex}"
        pois.createOrReplaceTempView(self._view)
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
        no Spark job; its corners are bound as parameters of the
        candidate scan, the procedural shape the reference uses (bind
        params of its next query). Admin rows with a NULL bbox corner or
        centre never match."""
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
        reference's ``LIKE '%tok%'``), inside the hint bbox, capped. Each
        row also carries its two scoring targets. One parameterized query,
        as the reference runs it: the tokens and bbox corners are bound
        in ``args``, never formatted into the text. The bbox test keeps
        the rows of ``lat BETWEEN miny AND maxy AND lon BETWEEN minx AND
        maxx`` (edges inclusive, NULL coordinates out), but its corners
        stay out of the generated code, so a new bbox compiles nothing
        once a request of the same shape has run."""
        preds, args = [], {}
        for i, t in enumerate(name_tokens):
            args[f"t{i}"] = t
            preds.append(
                f"(contains(coalesce(name_local_norm, ''), :t{i})"
                f" OR contains(coalesce(name_en_norm, ''), :t{i}))"
            )
        if bbox:
            args.update(zip(("minx", "miny", "maxx", "maxy"), bbox[:4]))
            # bound doubles compared to a column become primitive literals
            # in the generated Java, so each new bbox would compile the
            # stage again; a one-element struct array folds to one literal
            # held by reference, and the lambda over it reads lat/lon, so
            # it never folds: the generated code depends on the query
            # shape only
            preds.append(
                "exists(array(named_struct('minx', :minx, 'miny', :miny,"
                " 'maxx', :maxx, 'maxy', :maxy)),"
                " b -> lat BETWEEN b.miny AND b.maxy AND lon BETWEEN b.minx AND b.maxx)"
            )
        # deliberate improvement over the reference (flagged, SURVEY.md §4
        # O6): its LIMIT without ORDER BY truncates candidates
        # nondeterministically (repo.py:52); we cap on (importance desc,
        # osm_id) — a distributed top-k heap, so the cap keeps the most
        # important candidates and identical requests see identical sets.
        return self.spark.sql(
            f"SELECT *, {_TARGETS_SQL} FROM {self._view}"
            f" WHERE {' AND '.join(preds) or 'true'}"
            f" ORDER BY importance DESC, osm_id LIMIT {self.settings.limit_scan}",
            args=args,
        )

    # -- scoring (reference ranking.py:31-114) ----------------------------
    def _score(
        self, cands: pd.DataFrame, best_sim: np.ndarray, bbox: tuple | None
    ) -> np.ndarray:
        """``functions.scoring.score_expr`` over the collected candidates,
        in its order of float operations (and ``haversine_km`` /
        ``proximity_decay`` in theirs): type boost by first matching
        prefix, NULL importance as 0, proximity only when a bbox
        resolved."""
        s = self.settings
        w = s.weights or DEFAULT_WEIGHTS
        boost_map = s.type_boost or DEFAULT_TYPE_BOOST
        default = float(boost_map.get("default", 0.4))
        prefixes = [(p, float(v)) for p, v in boost_map.items() if p != "default"]
        boost = np.array(
            [
                next(
                    (v for p, v in prefixes if isinstance(k, str) and k.startswith(p)),
                    default,
                )
                for k in cands["kind"]
            ],
            dtype="float64",
        )
        importance = cands["importance"].astype("float64").fillna(0.0).to_numpy()
        score = (
            float(w["similarity"]) * best_sim
            + float(w["type"]) * boost
            + float(w["importance"]) * importance
        )
        if bbox:
            _, _, _, _, ctr_lat, ctr_lon = bbox
            lat = cands["lat"].to_numpy(dtype="float64")
            lon = cands["lon"].to_numpy(dtype="float64")
            phi1, phi2 = np.radians(lat), np.radians(ctr_lat)
            dl = np.radians(ctr_lon - lon)
            a = (
                np.sin((phi2 - phi1) / 2) ** 2
                + np.cos(phi1) * np.cos(phi2) * np.sin(dl / 2) ** 2
            )
            d = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
            proximity = np.maximum(0.0, 1.0 - np.minimum(d / s.proximity_km, 1.0))
            score = score + float(w["proximity"]) * proximity
        return score

    # -- full request (reference app.py:67-114) ---------------------------
    def forward(
        self,
        candidates: list[str],
        country: str | None = None,
        city_hint: str | None = None,
        limit: int = 5,
    ) -> list[dict]:
        """The top-``limit`` hits (name, lat, lon, country, state, city,
        osm_id, kind, score), ordered by (score desc, osm_id). The capped
        candidate set crosses to the driver in one Arrow collect and is
        scored there, as the reference scores its scan in-process.
        Empty token list → no hits, without a scan (app.py:96-97)."""
        # order-preserving token dedup across candidate texts (app.py:89-95)
        seen: dict[str, None] = {}
        for text in candidates:
            for t in _tokens(text):
                seen.setdefault(t)
        toks = list(seen)
        query_norms = [q for q in (_norm_text(t) for t in candidates) if q]
        if not toks:
            return []
        bbox = self.resolve_area_bbox(city_hint, country)
        rows = self.fetch_candidates(toks, bbox).toPandas()
        best_sim = np.maximum(
            _score_series(query_norms, rows["target_local"].fillna("")).to_numpy(),
            _score_series(query_norms, rows["target_en"].fillna("")).to_numpy(),
        )
        score = self._score(rows, best_sim, bbox)
        top = np.lexsort((rows["osm_id"].to_numpy(), -score))[:limit]
        return [
            {
                "name": next(
                    (n for n in (r.name_local, r.name_en) if n is not None), ""
                ),
                "lat": float(r.lat),
                "lon": float(r.lon),
                "country": r.country,
                "state": r.state,
                "city": r.city,
                "osm_id": int(r.osm_id),
                "kind": r.kind,
                "score": float(score[i]),
            }
            for i, r in zip(top, rows.iloc[top].itertuples(index=False))
        ]

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
