"""Seeded inputs for the geocode layers.

Everything here follows from one integer seed: the raw gazetteer (rows of
``etl.fixtures.RAW_SCHEMA``, written as parquet by every run that needs
it) and the request batteries: ``serve_selective``, the batch battery of
the traced ``forward_geocode_batch`` pass, the broad probe and the warm-up.

Name tokens have a fixed length per script (6 letters for Latin and
Cyrillic POI tokens, 2 ideographs for CJK, 5 letters for admin names), so a
query token is a substring of a name exactly when it is one of the name's
tokens. That makes the serving scan's substring rule and the batch path's
whole-token index agree, and lets this module count every request's
candidates exactly without running the engine.
"""

from __future__ import annotations

import bisect
import os
import random
import re
from dataclasses import dataclass, field
from itertools import accumulate

N_POIS = 50_000
N_COUNTRIES = 40
CITIES_PER_COUNTRY = 10  # 3 regions (admin_level 6) + 7 cities (level 8)
VOCAB = 30_000
ZIPF_S = 1.1  # name-token rank exponent: the top token is in >10k names
LIMIT_SCAN = 10_000  # GeocodeSettings.limit_scan default

_LAT_C, _LAT_V = "bcdfghklmnprstvz", "aeiou"
_CYR_C, _CYR_V = "бвгдзклмнпрстфх", "аеиоуя"
_CLASSES = [
    ("amenity", "restaurant"), ("amenity", "cafe"), ("amenity", "pharmacy"),
    ("shop", "bakery"), ("shop", "supermarket"), ("shop", "books"),
    ("tourism", "hotel"), ("tourism", "museum"), ("leisure", "park"),
    ("office", "company"),
]
_SEPS = [" "] * 8 + [" & ", "-", " - ", ", "]
# candidate-count histogram bins: upper bounds, inclusive
HIST_BINS = [0, 10, 100, 1000, LIMIT_SCAN - 1]

_NON_WORD = re.compile(r"[^\w\s]|_", re.UNICODE)


def norm(s: str | None) -> str:
    """Lower-case, punctuation to space, collapsed whitespace: the
    engine's request normalizer, restated so checks stay independent."""
    return " ".join(_NON_WORD.sub(" ", (s or "").lower()).split())


def tokens(s: str | None) -> list[str]:
    return norm(s).split()


@dataclass
class Admin:
    osm_id: int
    local: str
    en: str
    level: int
    minx: float
    miny: float
    maxx: float
    maxy: float
    norms: tuple[str, str] = ()
    area: float = 0.0

    def __post_init__(self):
        self.norms = (norm(self.local), norm(self.en))
        self.area = (self.maxx - self.minx) * (self.maxy - self.miny)


@dataclass
class Inputs:
    seed: int
    raw_rows: list[tuple]  # RAW_SCHEMA order
    poi_ids: list[int]  # rows that survive build_pois, in id order
    poi_names: dict[int, tuple[str, str | None]]  # id -> (local_norm, en_norm)
    poi_latlon: dict[int, tuple[float, float]]
    postings: dict[str, list[int]]  # token -> ids, ascending
    admins: list[Admin]
    batteries: dict[str, list[dict]] = field(default_factory=dict)
    stats: dict = field(default_factory=dict)


def _words(rng: random.Random, alphabets: list[str], n: int) -> list[str]:
    """``n`` distinct words whose i-th letter comes from ``alphabets[i]``."""
    size = 1
    for a in alphabets:
        size *= len(a)
    out = []
    for code in rng.sample(range(size), n):
        letters = []
        for a in alphabets:
            code, j = divmod(code, len(a))
            letters.append(a[j])
        out.append("".join(letters))
    return out


def _cv(cons: str, vows: str, n: int) -> list[str]:
    return [cons if i % 2 == 0 else vows for i in range(n)]


_CJK = "".join(chr(0x4E00 + i) for i in range(20_000))


def _display(rng: random.Random, toks: list[str]) -> str:
    """``toks`` capitalized and joined by spaces or punctuation."""
    if toks[0][0] in _CJK:
        return " ".join(toks)
    out = toks[0].capitalize()
    for t in toks[1:]:
        out += rng.choice(_SEPS) + t.capitalize()
    return out


def _name(rng: random.Random, toks: list[str]) -> tuple[str, str]:
    """A POI name for ``toks``, sometimes with a number, and its
    normalized form."""
    out, normed = _display(rng, toks), " ".join(toks)
    if rng.random() < 0.05:
        n = rng.randint(1, 99)
        out += f" #{n}"
        normed += f" {n}"
    return out, normed


def resolve_area(admins: list[Admin], city_hint: str | None, country: str | None):
    """Top-1 admin by bbox area (osm_id breaks ties) whose local or
    English name contains every hint token; cities (level >= 6) before
    countries (level 2). Mirrors ``ScoutEngine.resolve_area_bbox``."""
    for hint, level_ok in (
        (city_hint, lambda lv: lv >= 6),
        (country, lambda lv: lv == 2),
    ):
        toks = tokens(hint)
        if not toks:
            continue
        found = [
            a for a in admins
            if level_ok(a.level)
            and all(t in a.norms[0] or t in a.norms[1] for t in toks)
        ]
        if found:
            return min(found, key=lambda a: (-a.area, a.osm_id))
    return None


def resolve_country_exact(admins: list[Admin], country: str | None):
    """Batch-path country hint: the normalized hint equals a level-2 name
    (local or English); largest area wins."""
    c = norm(country)
    if not c:
        return None
    found = [a for a in admins if a.level == 2 and c in a.norms]
    return min(found, key=lambda a: (-a.area, a.osm_id)) if found else None


def in_bbox(latlon: tuple[float, float], a: Admin) -> bool:
    lat, lon = latlon
    return a.miny <= lat <= a.maxy and a.minx <= lon <= a.maxx


def count_candidates(inp: Inputs, toks: list[str], area: Admin | None) -> int:
    """Exact size of the scan's candidate set before the ``limit_scan``
    cap: ids whose names hold every token, inside the hint bbox."""
    if not toks:
        return 0
    lists = sorted((inp.postings.get(t, []) for t in set(toks)), key=len)
    ids = set(lists[0])
    for other in lists[1:]:
        ids.intersection_update(other)
    if area is not None:
        ids = {i for i in ids if in_bbox(inp.poi_latlon[i], area)}
    return len(ids)


def _gazetteer(seed: int) -> Inputs:
    rng = random.Random(seed)
    n_admin = N_COUNTRIES * CITIES_PER_COUNTRY
    lat_vocab = _words(rng, _cv(_LAT_C, _LAT_V, 6), VOCAB)
    cyr_vocab = _words(rng, _cv(_CYR_C, _CYR_V, 6), VOCAB)
    cjk_vocab = _words(rng, [_CJK, _CJK], VOCAB)
    aw = iter(_words(rng, _cv(_LAT_C, _LAT_V, 5), 2 * n_admin))
    ac = iter(_words(rng, _cv(_CYR_C, _CYR_V, 5), n_admin))

    rows: list[tuple] = []
    admins: list[Admin] = []
    rid = 1

    def admin_row(local, en, level, minx, miny, maxx, maxy, iso=None):
        nonlocal rid
        tags = {"name": local, "name:en": en, "boundary": "administrative",
                "admin_level": str(level)}
        if iso:
            tags["ISO3166-1"] = iso
        lat, lon = (miny + maxy) / 2, (minx + maxx) / 2
        rows.append((rid, local, tags, lat, lon, minx, miny, maxx, maxy))
        admins.append(Admin(rid, local, en, level, minx, miny, maxx, maxy))
        rid += 1

    # countries on an 8 x 5 grid of 5-degree cells
    countries = []
    for c in range(N_COUNTRIES):
        name = " ".join(next(aw).capitalize() for _ in range(1 if rng.random() < 0.7 else 2))
        iso = chr(65 + c // 26) + chr(65 + c % 26)
        lat0, lon0 = -12.5 + (c // 8) * 5.0, 10.0 + (c % 8) * 5.0
        box = (lon0 + 0.25, lat0 + 0.25, lon0 + 4.75, lat0 + 4.75)
        countries.append((name, iso, box))
        admin_row(name, name, 2, *box, iso=iso)
    # regions (level 6), cities (level 8); some cities nest inside a region
    # and share its name token, some carry another country's name
    cities = []  # (display name, country index, Admin)
    for c, (_, _, (minx, miny, maxx, maxy)) in enumerate(countries):
        regions = []
        for j in range(CITIES_PER_COUNTRY):
            if j < 3:
                level, half = 6, rng.uniform(0.8, 1.2)
            else:
                level, half = 8, rng.uniform(0.1, 0.4)
            if level == 8 and j < 6:
                reg = regions[j - 3].en
                clat = rng.uniform(regions[j - 3].miny + half, regions[j - 3].maxy - half)
                clon = rng.uniform(regions[j - 3].minx + half, regions[j - 3].maxx - half)
                en = f"{reg} {next(aw).capitalize()}"
            else:
                clat = rng.uniform(miny + half, maxy - half)
                clon = rng.uniform(minx + half, maxx - half)
                if level == 8 and j == 9 and c % 4 == 0:
                    en = countries[(c + 1) % N_COUNTRIES][0]
                else:
                    en = next(aw).capitalize()
            local = next(ac).capitalize() if rng.random() < 0.2 else en
            admin_row(local, en, level, clon - half, clat - half, clon + half, clat + half)
            a = admins[-1]
            if level == 6:
                regions.append(a)
            cities.append((en, c, a))
    by_country: list[list] = [[] for _ in range(N_COUNTRIES)]
    for city in cities:
        by_country[city[1]].append(city)

    cum = list(accumulate(r ** -ZIPF_S for r in range(1, VOCAB + 1)))
    total = cum[-1]
    poi_ids: list[int] = []
    poi_names: dict[int, tuple[str, str | None]] = {}
    poi_latlon: dict[int, tuple[float, float]] = {}
    postings: dict[str, list[int]] = {}
    for _ in range(N_POIS):
        k = rng.choices((1, 2, 3, 4), cum_weights=(3, 7, 9, 10))[0]
        ranks: list[int] = []
        while len(ranks) < k:
            r = bisect.bisect_left(cum, rng.random() * total)
            if r not in ranks:
                ranks.append(r)
        u = rng.random()
        script = "cyr" if u < 0.10 else "cjk" if u < 0.15 else "lat"
        en_toks = [lat_vocab[r] for r in ranks]
        if script == "lat":
            local_toks, en, en_n = en_toks, None, None
        else:
            local_toks = [(cyr_vocab if script == "cyr" else cjk_vocab)[r] for r in ranks]
            en, en_n = _name(rng, en_toks)
        local, ln = _name(rng, local_toks)
        c = rng.randrange(N_COUNTRIES)
        if rng.random() < 0.7:
            city_name, _, a = rng.choice(by_country[c])
        else:
            city_name, a = None, admins[c]
        lat, lon = rng.uniform(a.miny, a.maxy), rng.uniform(a.minx, a.maxx)
        tags = {"name": local, "addr:country": countries[c][1].lower()}
        if city_name:
            tags["addr:city"] = city_name
        if en:
            tags["name:en"] = en
        if rng.random() < 0.25:
            tags["wikidata"] = f"Q{rng.randint(1000, 999_999)}"
        if rng.random() < 0.15:
            tags["website"] = "https://example.org"
        classed = rng.random() >= 0.05  # unclassed rows are dropped by build_pois
        if classed:
            cls, val = rng.choice(_CLASSES)
            tags[cls] = val
            poi_ids.append(rid)
            poi_names[rid] = (ln, en_n)
            poi_latlon[rid] = (lat, lon)
            for t in set(ln.split()) | set((en_n or "").split()):
                postings.setdefault(t, []).append(rid)
        rows.append((rid, local, tags, lat, lon, lon, lat, lon, lat))
        rid += 1
    return Inputs(seed, rows, poi_ids, poi_names, poi_latlon, postings, admins)


def _hist(counts: list[int]) -> dict[str, int]:
    labels = ["0", "1-10", "11-100", "101-1000", f"1001-{LIMIT_SCAN - 1}", f">={LIMIT_SCAN}"]
    out = dict.fromkeys(labels, 0)
    for n in counts:
        out[labels[bisect.bisect_left(HIST_BINS, n)]] += 1
    return out


def _freq_tokens(inp: Inputs, lo: int, hi: int) -> list[str]:
    return sorted(t for t, ids in inp.postings.items() if lo <= len(ids) <= hi)


def _selective_query(rng: random.Random, inp: Inputs, k: int) -> tuple[int, list[str]]:
    """A POI plus up to ``k`` of its tokens whose posting lists hold <= 400
    ids."""
    while True:
        pid = rng.choice(inp.poi_ids)
        local, en = inp.poi_names[pid]
        pool = (local if en is None or rng.random() < 0.3 else en).split()
        pool = [t for t in pool if len(inp.postings[t]) <= 400 and not t.isdigit()]
        if pool:
            return pid, rng.sample(pool, min(len(pool), k))


# Request kinds of serve_selective, repeated in this order so that every
# run of N requests has the same mix whatever the seed: 55% city hints
# (half with a country), 15% unknown cities that fall back to the country,
# 25% country hints, 5% punctuation-only.
_SELECTIVE_CYCLE = "CcUCcKKcCUKCcKCUcKCP"


def _serve_selective(rng: random.Random, inp: Inputs, n: int) -> list[dict]:
    cities = [a for a in inp.admins if a.level >= 6]
    countries = [a for a in inp.admins if a.level == 2]
    out = []
    for i in range(n):
        kind = _SELECTIVE_CYCLE[i % len(_SELECTIVE_CYCLE)]
        if kind == "P":
            req = {"candidates": [rng.choice(["?!", "--", "...", "#@&", "()"])],
                   "country": rng.choice(countries).en}
            out.append({"id": i, "body": req, "toks": []})
            continue
        pid, toks = _selective_query(rng, inp, (1, 1, 2)[i % 3])
        lat_lon = inp.poi_latlon[pid]
        home = [c for c in cities if in_bbox(lat_lon, c)] or cities
        country = next(c for c in countries if in_bbox(lat_lon, c))
        req = {"candidates": [_display(rng, toks)], "limit": (3, 5, 5, 10)[i % 4]}
        if kind in "Cc":
            req["city_hint"] = rng.choice(home).en
            if kind == "C":
                req["country"] = country.en
        elif kind == "U":
            req["city_hint"] = "Zz" + "".join(rng.choice(_LAT_C) for _ in range(5))
            req["country"] = country.en
        else:
            req["country"] = country.en
        out.append({"id": i, "body": req, "toks": toks})
    return out


def _batch(rng: random.Random, inp: Inputs, n: int) -> list[dict]:
    countries = [a for a in inp.admins if a.level == 2]
    mid = _freq_tokens(inp, 400, 3000)
    out = []
    for i in range(n):
        if rng.random() < 0.85:
            pid, toks = _selective_query(rng, inp, rng.choice((1, 1, 2)))
            lat_lon = inp.poi_latlon[pid]
            country = next(c for c in countries if in_bbox(lat_lon, c))
        else:
            toks, country = [rng.choice(mid)], rng.choice(countries)
        hint = (country.en if rng.random() < 0.5 else country.en.upper()) if rng.random() < 0.5 else None
        out.append({"id": i, "query": _display(rng, toks), "country": hint, "toks": toks})
    return out


def _broad(rng: random.Random, inp: Inputs) -> list[dict]:
    """Requests without hints on the most common tokens, each sent as two
    candidate texts: the first token's candidates pass the ``limit_scan``
    cap, so the pandas-UDF scorer gets a full 10,000-row set."""
    common = sorted(inp.postings, key=lambda t: (-len(inp.postings[t]), t))
    out = []
    for i, tok in enumerate((common[0], common[2])):  # ~13k and ~4k names
        body = {"candidates": [_display(rng, [tok]), f"{tok.upper()}!"], "limit": 5}
        out.append({"id": f"broad{i}", "body": body, "toks": [tok]})
    return out


BATTERY_SIZES = {"serve_selective": 600, "batch_geocode": 300, "warmup": 8}


def generate(seed: int) -> Inputs:
    """The gazetteer, the batteries and their stats for ``seed``."""
    inp = _gazetteer(seed)
    rng = random.Random(seed * 7919 + 1)
    inp.batteries = {
        "serve_selective": _serve_selective(rng, inp, BATTERY_SIZES["serve_selective"]),
        "batch_geocode": _batch(rng, inp, BATTERY_SIZES["batch_geocode"]),
        "warmup": _serve_selective(rng, inp, BATTERY_SIZES["warmup"]),
        "broad": _broad(rng, inp),
    }
    for req in inp.batteries["serve_selective"] + inp.batteries["broad"]:
        body = req["body"]
        req["area"] = resolve_area(inp.admins, body.get("city_hint"), body.get("country"))
        req["candidates"] = count_candidates(inp, req["toks"], req["area"])
    for req in inp.batteries["batch_geocode"]:
        req["area"] = resolve_country_exact(inp.admins, req["country"])
        req["pairs"] = count_candidates(inp, req["toks"], None)
        req["candidates"] = count_candidates(inp, req["toks"], req["area"])
    inp.stats = {
        "seed": seed,
        "pois_rows": len(inp.poi_ids),
        "admin_rows": len(inp.admins),
        "raw_rows": len(inp.raw_rows),
    }
    return inp


def battery_stats(battery: list[dict], hinted) -> dict:
    counts = [r["candidates"] for r in battery]
    return {
        "requests": len(battery),
        "candidate_hist": _hist(counts),
        "cap_share": round(sum(n >= LIMIT_SCAN for n in counts) / len(counts), 4),
        "hint_share": round(sum(1 for r in battery if hinted(r)) / len(battery), 4),
    }


def write_raw(inp: Inputs, path: str) -> None:
    """Write the raw rows as one parquet file with RAW_SCHEMA's types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*inp.raw_rows))
    schema = pa.schema([
        ("id", pa.int64()), ("name", pa.string()),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("lat", pa.float64()), ("lon", pa.float64()),
        ("minx", pa.float64()), ("miny", pa.float64()),
        ("maxx", pa.float64()), ("maxy", pa.float64()),
    ])
    arrays = [
        pa.array(cols[0], pa.int64()),
        pa.array(cols[1], pa.string()),
        pa.array([list(t.items()) for t in cols[2]], pa.map_(pa.string(), pa.string())),
        *[pa.array(c, pa.float64()) for c in cols[3:]],
    ]
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), tmp)
    os.replace(tmp, path)
