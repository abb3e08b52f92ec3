"""Semantic ground-truth checks for the round-4 second wave
(stats, text, temporal and curation inventory entries) — properties the oracle differential
cannot express (it proves engine parity, not that the sketch math is
the right math): HLL error bounds, the CMS upper-bound guarantee,
monotone vocabulary growth, percentile ordering.
"""

from __future__ import annotations

import pytest

from scout_spark.inventory import load_all

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def reg():
    return load_all()


def test_hll_estimate_within_theoretical_error(spark, reg):
    # 1.04/sqrt(256) = 6.5% standard error; allow 3 sigma
    rows = reg["sketch_hll_md5_distinct"].spark(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["exact_distinct"] > 0
        assert r["rel_error"] <= 3 * 1.04 / (256**0.5), r


def test_cms_estimate_is_upper_bound(spark, reg):
    rows = reg["sketch_cms_md5_frequencies"].spark(spark, SF).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["cms_estimate"] >= r["exact_n"], r  # CMS never undercounts
        assert r["overcount"] >= 0


def test_tfidf_top3_shape_and_rarity_preference(spark, reg):
    import collections

    rows = reg["text_tfidf_top_terms"].spark(spark, SF).collect()
    per_doc = collections.Counter(r["doc_id"] for r in rows)
    assert max(per_doc.values()) <= 3
    assert all(1 <= r["rk"] <= 3 for r in rows)
    assert all(r["tfidf"] > 0 for r in rows)


def test_referential_audit_rates_bounded(spark, reg):
    rows = reg["audit_referential_orphans"].spark(spark, SF).collect()
    assert [r["fk_edge"] for r in rows] == sorted(r["fk_edge"] for r in rows)
    assert len(rows) == 4
    for r in rows:
        assert r["n_rows"] > 0
        assert 0 <= r["n_orphans"] <= r["n_rows"]
        assert 0.0 <= r["orphan_rate"] <= 1.0


def test_interarrival_percentiles_ordered(spark, reg):
    rows = reg["events_interarrival_stats"].spark(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_gaps"] > 0
        assert 0 <= r["p50_s"] <= r["p95_s"] <= r["max_s"]


def test_bigram_ppl_positive_and_bounded(spark, reg):
    rows = reg["quality_bigram_lm_perplexity"].spark(spark, SF).collect()
    assert rows
    # perplexity of an add-one bigram model is bounded by the smoothed
    # denominator scale; 1 <= ppl and finite
    for r in rows:
        assert r["n_bigrams"] >= 1
        assert r["ppl"] >= 1.0


def test_vocab_growth_monotone_and_totals(spark, reg):
    from pyspark.sql import functions as F

    from scout_spark.inventory.common import doc_tokens

    rows = reg["text_vocab_growth_curve"].spark(spark, SF).collect()
    assert rows
    cums = [r["cum_tokens"] for r in rows]
    assert cums == sorted(cums)
    assert cums[-1] == sum(r["new_tokens"] for r in rows)
    total_vocab = (
        doc_tokens(spark, SF).agg(F.count_distinct("tok")).collect()[0][0]
    )
    assert cums[-1] == total_vocab
