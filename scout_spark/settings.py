"""Configuration (reference settings.py:24-54 + config.toml).

One default table and one ranking config: ``GeocodeSettings`` is what the
serving engine reads, and ``Settings`` wraps it with the build options.
Same keys, same defaults, same precedence: env > TOML > code defaults
(reference settings.py:36-41). Env overrides use the SCOUT_SPARK_
prefix (reference uses SCOUT_); weights are read from the
[ranking.weights] table including proximity_km (reference
settings.py:53 — proximity_km lives in the weights table, preserved).
"""

from __future__ import annotations

import os
import tomllib
from dataclasses import dataclass, field

# reference config.toml:12-23
DEFAULT_WEIGHTS = {
    "similarity": 0.60,
    "type": 0.25,
    "importance": 0.15,
    "proximity": 0.15,
}
DEFAULT_PROXIMITY_KM = 25.0
DEFAULT_TYPE_BOOST = {
    "tourism:": 0.80,
    "amenity:": 0.70,
    "shop:": 0.60,
    "default": 0.40,
}
DEFAULT_LIMIT_SCAN = 10_000


@dataclass(frozen=True)
class GeocodeSettings:
    """Ranking and serving config (reference settings.py:46-53)."""

    weights: dict[str, float] = field(default_factory=lambda: dict(DEFAULT_WEIGHTS))
    type_boost: dict[str, float] = field(
        default_factory=lambda: dict(DEFAULT_TYPE_BOOST)
    )
    proximity_km: float = DEFAULT_PROXIMITY_KM
    limit_scan: int = DEFAULT_LIMIT_SCAN

    def __post_init__(self):
        # 0 would cap every scan to no candidates, and a negative cap
        # fails every request inside Spark's LIMIT
        if self.limit_scan < 1:
            raise ValueError(f"limit_scan must be positive, got {self.limit_scan!r}")


@dataclass(frozen=True)
class Settings:
    data_dir: str = "data/gazetteer"
    overwrite: bool = True
    geocode: GeocodeSettings = field(default_factory=GeocodeSettings)


def load_settings(path: str | None = None) -> Settings:
    """Load TOML config with env overrides.

    Env (reference settings.py:36-41 precedence):
      SCOUT_SPARK_CONFIG     — config file path (like SCOUT_CONFIG, app.py:124)
      SCOUT_SPARK_DATA_DIR   — output/serving directory
      SCOUT_SPARK_OVERWRITE  — "1"/"0" build idempotency gate
    """
    path = path or os.environ.get("SCOUT_SPARK_CONFIG")
    raw: dict = {}
    if path and os.path.exists(path):
        with open(path, "rb") as fh:
            raw = tomllib.load(fh)
    data = raw.get("data", {})
    build = raw.get("build", {})
    ranking = raw.get("ranking", {})
    weights_tbl = dict(DEFAULT_WEIGHTS, **ranking.get("weights", {}))
    # proximity_km is a member of the weights table (reference
    # settings.py:53, config.toml:17)
    proximity_km = float(weights_tbl.pop("proximity_km", DEFAULT_PROXIMITY_KM))
    type_boost = {
        str(k): float(v)
        for k, v in dict(DEFAULT_TYPE_BOOST, **ranking.get("type_boost", {})).items()
    }
    data_dir = os.environ.get(
        "SCOUT_SPARK_DATA_DIR", data.get("dir", Settings.data_dir)
    )
    overwrite_env = os.environ.get("SCOUT_SPARK_OVERWRITE")
    overwrite = (
        overwrite_env == "1"
        if overwrite_env is not None
        else bool(build.get("overwrite", True))
    )
    return Settings(
        data_dir=data_dir,
        overwrite=overwrite,
        geocode=GeocodeSettings(
            weights={k: float(v) for k, v in weights_tbl.items()},
            type_boost=type_boost,
            proximity_km=proximity_km,
            limit_scan=int(raw.get("serve", {}).get("limit_scan", DEFAULT_LIMIT_SCAN)),
        ),
    )
