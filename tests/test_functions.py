"""Unit + property tests for the expression library (SURVEY.md §5.3/§5.5):
normalizer semantics on unicode/punctuation, haversine against known
city-pair distances, proximity decay, type-boost prefix matching,
importance saturation."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from scout_spark.functions.geo import haversine_km, proximity_decay
from scout_spark.functions.normalize import canon, canon_ascii, tokens
from scout_spark.functions.scoring import (
    importance_expr,
    kind_expr,
    type_boost_expr,
)


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


CANON_CASES = [
    ("  Hello,   World!  ", "hello world"),
    ("D'Palma Hotel", "d palma hotel"),
    ("Pasar #2 @ Jalan", "pasar 2 jalan"),
    ("One-Utama", "one utama"),
    ("", ""),
    (None, ""),
    ("ALL CAPS 123", "all caps 123"),
]


@pytest.mark.parametrize("raw,expected", CANON_CASES)
def test_canon_ascii_cases(spark, raw, expected):
    assert _eval(spark, canon_ascii(F.lit(raw))) == expected


def test_canon_unicode_preserved(spark):
    # engine canon keeps unicode letters (unified normalizer — divergence
    # from DuckDB RE2 ASCII-only [[:alnum:]] documented in SURVEY.md §2.8)
    assert _eval(spark, canon(F.lit("美食中心!"))) == "美食中心"
    assert _eval(spark, canon(F.lit("Café—Zürich"))) == "café zürich"


@settings(max_examples=30, deadline=None)
@given(st.text(max_size=40))
def test_canon_idempotent(spark, s):
    once = _eval(spark, canon(F.lit(s)))
    twice = _eval(spark, canon(F.lit(once)))
    assert once == twice


def test_tokens(spark):
    out = _eval(spark, tokens(F.lit("Monograph  Dining, KL!")))
    assert out == ["monograph", "dining", "kl"]


HAVERSINE_CASES = [
    # (lat1, lon1, lat2, lon2, expected_km, tol_km) — KL↔Singapore,
    # London↔Paris, same-point
    (3.139, 101.6869, 1.3521, 103.8198, 309.25, 2.0),
    (51.5074, -0.1278, 48.8566, 2.3522, 343.5, 3.0),
    (10.0, 20.0, 10.0, 20.0, 0.0, 1e-9),
]


@pytest.mark.parametrize("lat1,lon1,lat2,lon2,exp,tol", HAVERSINE_CASES)
def test_haversine_known_distances(spark, lat1, lon1, lat2, lon2, exp, tol):
    d = _eval(
        spark, haversine_km(F.lit(lat1), F.lit(lon1), F.lit(lat2), F.lit(lon2))
    )
    assert d == pytest.approx(exp, abs=tol)


def test_haversine_matches_reference_python(spark):
    # bit-level check against the reference formula (ranking.py:19-28)
    import math

    def ref(lat1, lon1, lat2, lon2):
        R = 6371.0088
        phi1, phi2 = math.radians(lat1), math.radians(lat2)
        dphi = phi2 - phi1
        dl = math.radians(lon2 - lon1)
        a = math.sin(dphi / 2) ** 2 + math.cos(phi1) * math.cos(phi2) * math.sin(dl / 2) ** 2
        return 2 * R * math.asin(math.sqrt(a))

    d = _eval(
        spark, haversine_km(F.lit(3.139), F.lit(101.6869), F.lit(5.4141), F.lit(100.3288))
    )
    assert d == pytest.approx(ref(3.139, 101.6869, 5.4141, 100.3288), abs=1e-9)


def test_proximity_decay(spark):
    # reference ranking.py:92 — max(0, 1 - min(d/25, 1))
    assert _eval(spark, proximity_decay(F.lit(0.0))) == 1.0
    assert _eval(spark, proximity_decay(F.lit(12.5))) == 0.5
    assert _eval(spark, proximity_decay(F.lit(25.0))) == 0.0
    assert _eval(spark, proximity_decay(F.lit(100.0))) == 0.0


def test_type_boost_prefix_and_default(spark):
    # reference ranking.py:34-38 + config.toml:19-23
    for kind, exp in [
        ("tourism:hotel", 0.80),
        ("amenity:cafe", 0.70),
        ("shop:mall", 0.60),
        ("office:company", 0.40),
        ("unknown", 0.40),
    ]:
        assert _eval(spark, type_boost_expr(F.lit(kind))) == pytest.approx(exp)


def test_importance_saturates(spark):
    # all boosts present: 0.40+0.25+0.20+0.10+0.05 = 1.0, LEAST caps at 1.0
    tags = F.create_map(
        *[
            F.lit(x)
            for kv in [
                ("wikidata", "Q1"),
                ("tourism", "hotel"),
                ("amenity", "cafe"),
                ("shop", "mall"),
                ("website", "x"),
            ]
            for x in kv
        ]
    )
    assert _eval(spark, importance_expr(tags)) == 1.0
    empty = F.create_map(F.lit("k"), F.lit("v"))
    assert _eval(spark, importance_expr(empty)) == 0.0


def test_kind_first_class_wins(spark):
    # reference 001_pois.sql:32-39 — amenity checked before shop
    tags = F.create_map(
        F.lit("shop"), F.lit("mall"), F.lit("amenity"), F.lit("cafe")
    )
    assert _eval(spark, kind_expr(tags)) == "amenity:cafe"
    assert _eval(spark, kind_expr(F.create_map(F.lit("x"), F.lit("y")))) == "unknown"


def test_char_ngrams(spark):
    from scout_spark.functions.text import char_ngrams

    out = _eval(spark, char_ngrams(F.lit("Hello!"), 3))
    assert out == ["hel", "ell", "llo"]
    # shorter than n → whole canonical text as the single shingle
    assert _eval(spark, char_ngrams(F.lit("ab"), 3)) == ["ab"]


def test_rolling_hash_deterministic_and_normalized(spark):
    from scout_spark.functions.text import rolling_hash

    a = _eval(spark, rolling_hash(F.lit("Hello,   World!")))
    b = _eval(spark, rolling_hash(F.lit("hello world")))
    c = _eval(spark, rolling_hash(F.lit("hello worlds")))
    assert a == b  # canonicalization folds punctuation/case/whitespace
    assert a != c
    assert 0 <= a < (1 << 61) - 1


def test_word_shingles_overlap(spark):
    from scout_spark.functions.text import word_shingles

    out = _eval(spark, word_shingles(F.lit("a b c d e"), 3))
    assert out == ["a b c", "b c d", "c d e"]
    assert _eval(spark, word_shingles(F.lit("a b"), 3)) == ["a b"]


def test_rolling_hash_no_overflow_on_long_text(spark):
    # regression: mod near 2^61 overflowed int64 under ANSI on ~13+ chars
    from scout_spark.functions.text import rolling_hash

    long_text = "a longer document text that goes on for a while " * 20
    v = _eval(spark, rolling_hash(F.lit(long_text)))
    assert 0 <= v < (1 << 31) - 1


def test_shingles_empty_input_yields_empty_array(spark):
    # regression: empty/whitespace-only docs shared a fake '' shingle.
    # (word_shingles tokenizes raw whitespace, so '!!!' is one real
    # token; char_ngrams canonicalizes first, so '!!!' IS empty there.)
    from scout_spark.functions.text import char_ngrams, word_shingles

    assert _eval(spark, word_shingles(F.lit("   "), 3)) == []
    assert _eval(spark, word_shingles(F.lit(""), 3)) == []
    assert _eval(spark, char_ngrams(F.lit("!!!"), 3)) == []
    assert _eval(spark, char_ngrams(F.lit(""), 3)) == []


def test_tokenizer_extract_equals_canon_split_formulation(spark):
    """The regexp_extract_all tokenizers must equal the original
    canon+split+filter formulations on adversarial unicode input —
    the 29x perf swap (see PLANS.md) must never change results."""
    from pyspark.sql import functions as F

    from scout_spark.functions.normalize import canon, canon_ascii, tokens
    from scout_spark.inventory.common import tokens_col as _tokens_col

    rows = [
        (0, "héllo wörld ÄÖÜ"),
        (1, "中文 mixed ascii42"),
        (2, "tabs\tand\nnewlines  spaces"),
        (3, "punct!@#$%^&*()—…«»"),
        (4, ""),
        (5, None),
        (6, "ǅunusual Ʊnicode ᵬodies ①②③"),
        (7, "é combining å marks"),  # é / å decomposed
        (8, "ALLCAPS lower 123 _under_score_"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    old_unicode = F.filter(F.split(canon(F.col("t")), " "), lambda x: x != "")
    old_ascii = F.filter(
        F.split(canon_ascii(F.col("t")), " "), lambda x: x != ""
    )
    got = df.select(
        "id",
        tokens(F.col("t")).alias("new_u"),
        old_unicode.alias("old_u"),
        _tokens_col(F.col("t")).alias("new_a"),
        old_ascii.alias("old_a"),
    ).collect()
    for r in got:
        assert list(r["new_u"]) == list(r["old_u"]), ("unicode", r["id"])
        assert list(r["new_a"]) == list(r["old_a"]), ("ascii", r["id"])
