"""Output checks for geocode results and pipeline entries, and the run
digest.

Each check returns its problems; an empty result means the output passed.
For geocode results the generator's own data (normalized names,
coordinates, admin boxes, exact candidate counts) is the reference; for
pipeline entries it is the row count each entry wrote in the warm pass.
"""

from __future__ import annotations

import hashlib
import json


def check_hits(hits: list[dict], limit: int, toks: list[str], area, names: dict,
               latlon: dict, expected: int, tie_order: bool = True) -> list[str]:
    """A hit list of one request: at most ``limit`` rows ordered by
    (score desc, osm_id); every hit's names hold every query token (the
    scan's substring rule); hits lie inside the resolved hint box; and
    there are exactly min(limit, candidates) of them. ``tie_order=False``
    skips the osm_id order among equal scores, for scores that were
    rounded after ranking."""
    problems = []
    if len(hits) > limit:
        problems.append(f"{len(hits)} hits > limit {limit}")
    if len(hits) != min(limit, expected):
        problems.append(f"{len(hits)} hits, expected {min(limit, expected)}")
    for a, b in zip(hits, hits[1:]):
        if a["score"] < b["score"] or (
            tie_order and a["score"] == b["score"] and a["osm_id"] >= b["osm_id"]
        ):
            problems.append(f"order: {a['osm_id']} before {b['osm_id']}")
    for h in hits:
        local, en = names.get(h["osm_id"], (None, None))
        if local is None:
            problems.append(f"unknown osm_id {h['osm_id']}")
            continue
        missing = [t for t in toks if t not in local and t not in (en or "")]
        if missing:
            problems.append(f"{h['osm_id']} lacks {missing}")
        if area is not None:
            lat, lon = latlon[h["osm_id"]]
            if not (area.miny <= lat <= area.maxy and area.minx <= lon <= area.maxx):
                problems.append(f"{h['osm_id']} outside {area.en}")
    return problems


def check_served(status: int, payload: dict | None, req: dict, names: dict,
                 latlon: dict) -> list[str]:
    """One HTTP response against its generated request."""
    if status != 200 or payload is None or "hits" not in payload:
        return [f"status {status}"]
    hits = payload["hits"]
    if not req["toks"]:
        return [f"{len(hits)} hits for a punctuation-only request"] if hits else []
    return check_hits(hits, req["body"].get("limit", 5), req["toks"], req["area"],
                      names, latlon, req["candidates"])


def check_batch(rows: list[dict], battery: list[dict], limit: int, names: dict,
                latlon: dict) -> dict[int, list[str]]:
    """Problems per req_id of one batch pass: each request's rows are
    checked like a served hit list, in rank order (scores are rounded to
    6 places after ranking, so ties are not checked)."""
    by_req: dict[int, list[dict]] = {}
    for r in rows:
        by_req.setdefault(r["req_id"], []).append(r)
    problems = {}
    for req in battery:
        got = sorted(by_req.pop(req["id"], []), key=lambda r: r["rank"])
        if [r["rank"] for r in got] != list(range(1, len(got) + 1)):
            problems[req["id"]] = ["ranks are not 1..n"]
            continue
        p = check_hits(got, limit, req["toks"], req["area"], names, latlon,
                       req["candidates"], tie_order=False)
        if p:
            problems[req["id"]] = p
    for rid in by_req:
        problems[rid] = ["rows for an unknown req_id"]
    return problems


def check_entry_rows(passes: list[dict[str, int]], warm: dict[str, int]) -> list[str]:
    """Every entry of every pass wrote as many rows as in the warm pass."""
    problems = []
    for i, rows in enumerate(passes, 1):
        for name in sorted(set(rows) | set(warm)):
            if rows.get(name) != warm.get(name):
                problems.append(f"pass {i}: {name} wrote {rows.get(name)} rows, "
                                f"{warm.get(name)} in the warm pass")
    return problems


def same_hits(a: list[dict], b: list[dict], tol: float = 1e-9) -> bool:
    """Two hit lists name the same POIs in the same order with the same
    scores."""
    return len(a) == len(b) and all(
        x["osm_id"] == y["osm_id"] and abs(x["score"] - y["score"]) <= tol
        for x, y in zip(a, b)
    )


def digest(results: list) -> str:
    """Stable hash of (request, osm_id, score) triples, so two runs of one
    commit on one seed can be compared exactly."""
    triples = sorted(
        (rid, h["osm_id"], round(h["score"], 9)) for rid, hits in results for h in hits
    )
    return hashlib.sha256(json.dumps(triples).encode()).hexdigest()[:16]


def digest_rows(rows: dict[str, int]) -> str:
    """Stable hash of each pipeline entry's row count."""
    return hashlib.sha256(json.dumps(sorted(rows.items())).encode()).hexdigest()[:16]
