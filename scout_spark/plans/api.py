"""Request/response service boundary (reference app.py:14-38,67-114).

The reference serves HTTP via FastAPI; here the same contract is a
Python API over a long-lived engine: validated request dict in →
list-of-hit dicts out, with the per-request timing the reference stamps
into Server-Timing headers (app.py:58-65) returned alongside.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from scout_spark.plans.geocode import ScoutEngine


@dataclass(frozen=True)
class ForwardRequest:
    """reference app.py:14-23 (ForwardCandidate/ForwardReq)."""

    candidates: list[str]
    country: str | None = None
    city_hint: str | None = None
    limit: int = 5

    def __post_init__(self):
        if not self.candidates:
            raise ValueError("candidates must be non-empty")
        if not (1 <= self.limit <= 50):
            raise ValueError("limit must be in [1, 50]")


@dataclass(frozen=True)
class ForwardResponse:
    """reference app.py:25-38 (Hit/ForwardResp) + timing metadata."""

    hits: list[dict]
    took_ms: float = field(default=0.0)


def forward_geocode(engine: ScoutEngine, req: ForwardRequest) -> ForwardResponse:
    """The full serve path with request timing (reference app.py:58-65
    middleware analogue)."""
    t0 = time.perf_counter()
    hits = engine.forward(req.candidates, req.country, req.city_hint, req.limit)
    return ForwardResponse(hits=hits, took_ms=round((time.perf_counter() - t0) * 1e3, 1))
